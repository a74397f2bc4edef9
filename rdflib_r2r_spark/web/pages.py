"""Synthesize the Common-Crawl-style pages table (BASELINE.json input_hint:
url, warc_ts, html binary, text, lang) from the sandbox documents table —
deterministically and entirely with JVM-side expressions, so page synthesis
itself scales and is DuckDB-oracle expressible.

The HTML wrapper escapes &, <, > (in that order), so the extractor's
strip-tags + unescape is an exact byte-level inverse: FIXTURES.md F1 requires
``text`` to be the golden extraction target, byte-identical per url.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BASE_URL = "http://ex.org/doc/"
WARC_EPOCH = "2024-01-01 00:00:00"

# order matters: '&' first on escape, last on unescape
ESCAPE_PAIRS = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]


def html_escape_col(col: Column) -> Column:
    out = col
    for ch, ent in ESCAPE_PAIRS:
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


def html_wrap_col(text: Column, lang: Column, doc_id: Column) -> Column:
    """Deterministic synthetic HTML document around the text."""
    return F.concat(
        F.lit('<html lang="'), lang,
        F.lit('"><head><title>doc '), doc_id.cast("string"),
        F.lit("</title><script>var x=1;</script></head><body><nav>skip</nav><article>"),
        html_escape_col(text),
        F.lit("</article><footer>(c) example</footer></body></html>"),
    )


def url_col(doc_id: Column) -> Column:
    return F.concat(F.lit(BASE_URL), doc_id.cast("string"))


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> pages table per
    input_hint: (url, warc_ts, html binary, text, lang)."""
    return docs.select(
        url_col(F.col("doc_id")).alias("url"),
        (F.to_timestamp(F.lit(WARC_EPOCH)) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(html_wrap_col(F.col("text"), F.col("lang"), F.col("doc_id")), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
