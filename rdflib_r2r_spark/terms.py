"""RDF term model + lexical encoding, with THREE synchronized backends:

1. pure Python (used by the mapping kernel, template inversion, tests),
2. Spark ``Column`` expressions (JVM-side, whole-stage-codegen friendly —
   no Python in the hot path),
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

import hashlib
import re
import urllib.parse

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def iri_safe_col(col: Column) -> Column:
    """Spark Column twin: chain of literal string replaces (JVM-side,
    codegen-able; no regex engine involved).

    Round 7 (guide §1.2 "per-task work"): the 29-replace chain re-scans
    and re-allocates the string once per pair, per row — for template
    slots over numeric keys (most subject IRIs) every pass is a no-op.
    A single containment test gates the chain, so clean values (digits,
    plain names) pay one regex scan instead of 29 string rebuilds; rows
    that do contain an unsafe char take the identical chain.  NULL
    propagates through both branches identically (rlike(NULL) is NULL ->
    otherwise -> NULL, matching the chain's NULL-in/NULL-out)."""
    s = col.cast("string")
    out = s
    for ch, rep in PERCENT_PAIRS:
        out = F.replace(out, F.lit(ch), F.lit(rep))
    return F.when(s.rlike(_UNSAFE_CLASS), out).otherwise(s)


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
    """Spark-ONLY SQL text with the same row-gating as
    :func:`iri_safe_col`: one RLIKE containment test skips the 29-replace
    chain for values with nothing to encode (numeric template keys, plain
    names).  Never parsed by DuckDB, so Spark escaping rules apply.
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


def skolem_bnode_py(*parts: str) -> str:
    """Deterministic blank node: stable per logical row so referencing joins
    and re-runs agree (SURVEY.md §1.4). Exact labels are irrelevant to the
    isomorphism checker."""
    h = hashlib.sha256("\x1f".join(parts).encode("utf-8")).hexdigest()
    return "_:b" + h[:32]


def skolem_bnode_col(*cols: Column) -> Column:
    """Spark twin of :func:`skolem_bnode_py` — sha2 over the same
    0x1f-joined byte string. NULL in any part propagates to NULL (so the
    R2RML null-guard also suppresses bnode terms)."""
    joined = F.concat_ws("", *[
        c if i == 0 else F.concat(F.lit("\x1f"), c)
        for i, c in enumerate(cols)
    ])
    # concat_ws skips NULLs; re-impose NULL propagation explicitly.
    any_null = None
    for c in cols:
        cond = c.isNull()
        any_null = cond if any_null is None else (any_null | cond)
    h = F.concat(F.lit("_:b"), F.substring(F.sha2(joined, 256), 1, 32))
    return F.when(any_null, F.lit(None).cast("string")).otherwise(h)


def skolem_bnode_sql(*exprs: str) -> str:
    parts = []
    for i, e in enumerate(exprs):
        e = f"CAST({e} AS STRING)"
        parts.append(e if i == 0 else f"chr(31) || {e}")
    joined = " || ".join(parts)
    null_guard = " OR ".join(f"({e}) IS NULL" for e in exprs)
    return (
        f"CASE WHEN {null_guard} THEN NULL "
        f"ELSE '_:b' || substring(sha256({joined}), 1, 32) END"
    )


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
