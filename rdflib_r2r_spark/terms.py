"""RDF term model + lexical encoding, with synchronized backends:

1. pure Python (used by the mapping kernel, template inversion, tests),
2. Spark SQL text (JVM-side, whole-stage-codegen friendly — no Python in
   the hot path),
3. ANSI-SQL text (so DuckDB oracles can reproduce the exact same bytes).

Term encoding in DataFrames (cf. SURVEY.md §1.1): each of subj/pred/obj is a
single lexical string column; kind is derivable from the prefix —
``<...>`` IRI, ``_:...`` blank node, anything else a literal lexical form —
mirroring the decoding rules of the reference's ``make_node``
(reference: rdflib_r2r/r2r_store.py:125-148). Literal datatype/language ride
in separate ``obj_dt`` / ``obj_lang`` columns.

IRI-safe encoding mirrors the reference's ``iri_safe`` =
``urllib.parse.quote(v, safe="")`` (reference: rdflib_r2r/r2r_mapping.py:20-25)
restricted to printable ASCII; the same ordered replace-chain is emitted for
Spark and DuckDB so all three backends are byte-identical on our corpora.
"""

from __future__ import annotations

import re
import urllib.parse


RR = "http://www.w3.org/ns/r2rml#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_DECIMAL = XSD + "decimal"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"
XSD_STRING = XSD + "string"
XSD_HEXBINARY = XSD + "hexBinary"
# datatypes whose literals SPARQL compares by numeric value
NUMERIC_XSD = frozenset({
    XSD_INTEGER, XSD_DOUBLE, XSD_DECIMAL, XSD + "float", XSD + "int", XSD + "long",
})

# Everything urllib.parse.quote(safe="") percent-encodes, within printable
# ASCII. '%' MUST come first (it appears in every replacement). Safe set per
# RFC 3986 unreserved: ALPHA / DIGIT / '-' / '.' / '_' / '~'.
_UNSAFE_ASCII = "% !\"#$&'()*+,/:;<=>?@[\\]^`{|}"

# Ordered (char, replacement) pairs — the single source of truth for all
# three backends.
PERCENT_PAIRS: list[tuple[str, str]] = [(c, "%%%02X" % ord(c)) for c in _UNSAFE_ASCII]


def iri_safe_py(value: str) -> str:
    """Python twin of the replace-chain. For printable-ASCII input this is
    exactly ``urllib.parse.quote(value, safe='')``."""
    for ch, rep in PERCENT_PAIRS:
        value = value.replace(ch, rep)
    return value


def iri_unsafe_py(value: str) -> str:
    return urllib.parse.unquote(value)


# Java-regex character class matching any char the chain would encode
# (escape the class metacharacters; space is literal inside a class)
_UNSAFE_CLASS = "[" + "".join(
    ("\\" + c) if c in "\\]^[&{}" else c for c in _UNSAFE_ASCII
) + "]"


def iri_safe_sql(expr: str) -> str:
    """SQL twin: nested replace() calls, same order. Emits the dialect
    subset BOTH DuckDB and Spark SQL parse (chr(92) instead of a backslash
    literal — Spark treats backslash as an escape inside string literals,
    DuckDB does not).  FROZEN TEXT: this renders into oracle_sql(), which
    the driver fingerprints — value-level optimizations go into
    :func:`iri_safe_sql_spark` instead."""
    out = f"CAST({expr} AS STRING)"
    for ch, rep in PERCENT_PAIRS:
        c = "chr(92)" if ch == "\\" else "'" + ch.replace("'", "''") + "'"
        out = f"replace({out}, {c}, '{rep}')"
    return out


def iri_safe_sql_spark(expr: str) -> str:
    """Spark-ONLY SQL text of the replace chain, gated: the 29 replaces
    re-scan and re-allocate the string once per pair, per row, and for
    template slots over numeric keys (most subject IRIs) every pass is a
    no-op, so one RLIKE containment test skips the chain for values with
    nothing to encode.  NULL propagates through both branches alike.
    Never parsed by DuckDB, so Spark escaping rules apply.
    Value-identical to :func:`iri_safe_sql` (parity pinned by tests)."""
    s = f"CAST({expr} AS STRING)"
    out = s
    for ch, rep in PERCENT_PAIRS:
        c = "chr(92)" if ch == "\\" else "'" + ch.replace("'", "''") + "'"
        out = f"replace({out}, {c}, '{rep}')"
    # Spark single-quoted literal: backslash must be doubled, quote escaped
    rx = _UNSAFE_CLASS.replace("\\", "\\\\").replace("'", "\\'")
    return f"(CASE WHEN {s} RLIKE '{rx}' THEN {out} ELSE {s} END)"


def spark_str_sql(value: str) -> str:
    """Spark-ONLY SQL string literal of ``value``.  Backslash and ``$`` go
    out as chr(92) / chr(36): Spark C-unescapes backslashes inside quotes,
    and its variable substitution rewrites ``${...}`` anywhere in a SQL
    text, string literals included.  Constant folding turns the pieces
    back into one literal."""
    pieces = []
    for p in re.split(r"([\\$])", value):
        if p == "\\":
            pieces.append("chr(92)")
        elif p == "$":
            pieces.append("chr(36)")
        elif p:
            pieces.append("'" + p.replace("'", "''") + "'")
    if not pieces:
        return "''"
    return pieces[0] if len(pieces) == 1 else "(" + " || ".join(pieces) + ")"


# ---------------------------------------------------------------------------
# Lexical wrappers
# ---------------------------------------------------------------------------

def wrap_iri(iri: str) -> str:
    return f"<{iri}>"


def is_iri_lex(lex: str) -> bool:
    return lex.startswith("<") and lex.endswith(">")


def is_bnode_lex(lex: str) -> bool:
    return lex.startswith("_:")


# ---------------------------------------------------------------------------
# N-Triples-ish serialization (for the isomorphism checker / goldens)
# ---------------------------------------------------------------------------

def nt_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def term_to_nt(lex: str, dt: str | None = None, lang: str | None = None) -> str:
    """Render one encoded term (our single-string encoding) as an N-Triples
    token. IRIs are already ``<...>``; bnodes pass through; everything else
    becomes a (typed / tagged) literal."""
    if lex is None:
        return "NULL"
    if is_iri_lex(lex) or is_bnode_lex(lex):
        return lex
    lit = f'"{nt_escape(lex)}"'
    if lang:
        return f"{lit}@{lang}"
    if dt and dt != XSD_STRING:
        return f"{lit}^^<{dt}>"
    return lit
