"""HTML -> text extraction compiled to Spark built-ins only: whole-stage
codegen JVM regex, no Python worker.  ``reference_impl.extract_text_py`` is
the independent Python oracle of the same spec.

Extractor spec (versioned; EXTRACTOR_VERSION feeds stage fingerprints):
1. decode UTF-8 (invalid bytes become U+FFFD);
2. drop <script>/<style> subtrees;
3. keep the first <article>...</article> body if one is closed, else the
   first <body>...</body>, else the whole document;
4. strip remaining tags;
5. unescape &lt; &gt; &amp; (amp last).

For any text whose HTML was produced by ``pages.html_wrap_col`` this is an
exact byte-level inverse (escape encodes all '<'/'>'/'&' of the original, so
strip-tags cannot eat content and unescape restores the original bytes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EXTRACTOR_VERSION = "2"  # v2: an unclosed <article> falls back to <body>

_SCRIPT_RE = r"(?is)<(script|style)\b[^>]*>.*?</\1>"
_HAS_ARTICLE_RE = r"(?is)<article\b[^>]*>.*?</article>"
_ARTICLE_RE = r"(?is).*?<article\b[^>]*>(.*?)</article>.*"
_BODY_RE = r"(?is).*?<body\b[^>]*>(.*?)</body>.*"
_TAG_RE = r"(?s)<[^>]*>"


def extract_text(html: Column) -> Column:
    """The extractor spec as a ``regexp_replace``/``replace`` chain.  Java
    and Python regex agree on every construct used ((?is), \\b, lazy
    quantifiers, pattern backreference \\1), and ``rlike`` searches like
    ``re.search``, so the output equals ``extract_text_py`` byte for byte.
    """
    s = html.cast("string")  # UTF-8 decode for binary input
    s = F.regexp_replace(s, _SCRIPT_RE, "")
    s = F.when(
        s.rlike(_HAS_ARTICLE_RE), F.regexp_replace(s, _ARTICLE_RE, "$1")
    ).otherwise(F.regexp_replace(s, _BODY_RE, "$1"))
    s = F.regexp_replace(s, _TAG_RE, "")
    s = F.replace(s, F.lit("&lt;"), F.lit("<"))
    s = F.replace(s, F.lit("&gt;"), F.lit(">"))
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    return s
