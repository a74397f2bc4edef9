"""Canonical XSD lexical forms (W3C R2RML "natural RDF lexical form").

R2RML §10.2 says the lexical form of a literal generated from a column value
is the *canonical lexical representation* of the corresponding XSD datatype
(reference: rdflib_r2r/conversion_utils.py:497-514 reaches the same forms via
rdflib's Literal normalization).  The two that differ from a plain SQL
CAST(x AS STRING) in both Spark and DuckDB:

- ``xsd:double``: always scientific notation with a mantissa in [1, 10) and
  no redundant digits — ``20.0`` renders ``2.0E1`` (W3C rdb2rdf TC0005a/b,
  TC0012a/e).
- ``xsd:dateTime``: a ``T`` between date and time — both engines CAST with a
  space (TC0016b/c).

Each transform is portable SQL text that evaluates identically on Spark AND
DuckDB (STRING alias, instr/substr/regexp_replace subset common to both);
the double one also has a compact Spark-only twin.  Both operate on the
engine's CAST-to-string output, which for doubles is the shortest
round-trip representation in either engine — the digit sequence is
therefore identical across engines even when the notation differs
(Java prints ``1.0E7`` where DuckDB prints ``10000000.0``), so the
canonicalized forms agree.
"""

from __future__ import annotations


# -- xsd:double ---------------------------------------------------------------

# Spark's CAST(double AS STRING) is Java's Double.toString: digits, a point,
# digits, and an exponent only outside [1e-3, 1e7)
_JAVA_DOUBLE = r"'^-?([0-9]+)(?:\\.([0-9]*))?(?:E(-?[0-9]+))?$'"


def canonical_double_spark_sql(x: str) -> str:
    """Spark-ONLY SQL: canonical xsd:double lexical of the double/float
    expression ``x``, value-identical to :func:`canonical_double_sql`
    (parity pinned by tests).  The digits come out of Java's rendering by
    ``regexp_extract`` and ``trim``, so the text names each intermediate
    a few times instead of nesting them: Spark parses and analyzes a
    fraction of the portable text's expression tree."""
    s = f"CAST({x} AS STRING)"
    ip = f"regexp_extract({s}, {_JAVA_DOUBLE}, 1)"
    fp = f"regexp_extract({s}, {_JAVA_DOUBLE}, 2)"
    exp0 = f"coalesce(CAST(nullif(regexp_extract({s}, {_JAVA_DOUBLE}, 3), '') AS INT), 0)"
    digits = f"trim(LEADING '0' FROM concat({ip}, {fp}))"  # no leading zeros
    neg = f"regexp_extract({s}, '^(-?)', 1)"
    e = f"{exp0} - 1 - length({fp}) + length({digits})"
    frac = f"coalesce(nullif(trim(TRAILING '0' FROM substr({digits}, 2)), ''), '0')"
    return (
        f"(CASE WHEN {s} IN ('Infinity', 'inf', 'INF') THEN 'INF' "
        f"WHEN {s} IN ('-Infinity', '-inf', '-INF') THEN '-INF' "
        f"WHEN {s} IN ('NaN', 'nan') THEN 'NaN' "
        f"WHEN {digits} = '' THEN concat({neg}, '0.0E0') "
        f"ELSE concat({neg}, left({digits}, 1), '.', {frac}, 'E', CAST({e} AS STRING)) END)"
    )


def canonical_double_sql(x: str) -> str:
    """Portable (Spark+DuckDB) SQL: canonical xsd:double lexical of the
    numeric expression ``x``: the frozen oracle dialect."""
    s = f"(CAST({x} AS STRING))"
    neg = f"(CASE WHEN {s} LIKE '-%' THEN '-' ELSE '' END)"
    u = f"(upper(CASE WHEN {s} LIKE '-%' THEN substr({s}, 2) ELSE {s} END))"
    epos = f"(instr({u}, 'E'))"
    mant = f"(CASE WHEN {epos} > 0 THEN substr({u}, 1, {epos} - 1) ELSE {u} END)"
    exp0 = f"(CASE WHEN {epos} > 0 THEN CAST(substr({u}, {epos} + 1) AS INT) ELSE 0 END)"
    dpos = f"(instr({mant}, '.'))"
    ip = f"(CASE WHEN {dpos} > 0 THEN substr({mant}, 1, {dpos} - 1) ELSE {mant} END)"
    digits = f"(replace({mant}, '.', ''))"
    stripped = f"(regexp_replace({digits}, '^0+', ''))"
    k = f"(length({digits}) - length({stripped}) + 1)"
    e = f"(CAST({exp0} + length({ip}) - {k} AS INT))"
    first = f"(substr({stripped}, 1, 1))"
    rest0 = f"(regexp_replace(substr({stripped}, 2), '0+$', ''))"
    frac = f"(CASE WHEN {rest0} = '' THEN '0' ELSE {rest0} END)"
    main = f"(concat({neg}, {first}, '.', {frac}, 'E', CAST({e} AS STRING)))"
    return (
        f"(CASE WHEN {s} IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN {s} IN ('Infinity', 'inf', 'INF') THEN 'INF' "
        f"WHEN {s} IN ('-Infinity', '-inf', '-INF') THEN '-INF' "
        f"WHEN {s} IN ('NaN', 'nan') THEN 'NaN' "
        f"WHEN {stripped} = '' THEN concat({neg}, '0.0E0') "
        f"ELSE {main} END)"
    )


def column_types_for_canonical(schema) -> dict[str, str]:
    """Spark StructType -> {col: 'double'|'float'|'timestamp'} for the columns
    whose natural lexical form needs canonicalization (for threading into
    ``oracle.mapping_to_duckdb_sql(column_types=...)``)."""
    from pyspark.sql import types as T

    out: dict[str, str] = {}
    for f in schema.fields:
        if isinstance(f.dataType, T.DoubleType):
            out[f.name] = "double"
        elif isinstance(f.dataType, T.FloatType):
            out[f.name] = "float"
        elif isinstance(f.dataType, T.TimestampType):
            out[f.name] = "timestamp"
    return out


# -- xsd:dateTime -------------------------------------------------------------

def canonical_datetime_sql(x: str) -> str:
    return f"(replace(CAST({x} AS STRING), ' ', 'T'))"
