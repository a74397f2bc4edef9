"""Pin the NULL-strictness invariant that makes BGP raw-column NULL guards
(sparql/bgp.py:_raw_null_guard) equivalent to guarding rendered lexicals:

    for EVERY non-constant term-map render, NULL in any referenced source
    column  =>  NULL rendered lexical.

The round-3 bi4/bi5 speedup moved the guards from rendered lexicals to raw
source columns; that is only sound while every render is NULL-strict (plain
cast/concat — true today).  If a future render uses try_cast, coalesce, or a
defaulting expression, guard and render diverge SILENTLY — this suite is the
tripwire: it enumerates every term-map dispatch branch of
SparkMappingCompiler.term_columns across every canonical-renderer source type
and fails the moment any of them maps a NULL input to a non-NULL lexical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler, sql_ident
from rdflib_r2r_spark.mapping import TermMap


SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("dec", T.DecimalType(12, 2)),
        T.StructField("b", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("bin", T.BinaryType()),
    ]
)
COLS = [f.name for f in SCHEMA.fields]

# every non-constant dispatch branch of term_columns x source type
TERM_MAPS = (
    # column literal, one per source type (covers canonical double/datetime
    # renderers, binary hex, plain casts)
    [(f"col-literal-{c}", TermMap(column=c), "O") for c in COLS]
    # explicit datatype override still casts the same column
    + [("col-typed", TermMap(column="d", datatype=terms.XSD_DOUBLE), "O")]
    + [("col-lang", TermMap(column="s", language="en"), "O")]
    # rr:termType rr:IRI on a column, absolute + base-resolved
    + [("col-iri", TermMap(column="s", term_type="IRI"), "O")]
    + [("col-iri-base", TermMap(column="s", term_type="IRI", base_iri="http://ex/"), "O")]
    + [("col-bnode", TermMap(column="s", term_type="BlankNode"), "O")]
    # templates: single ref, multi ref (NULL in either position), bnode, literal
    + [("tpl-iri", TermMap(template="http://ex/{s}"), "S")]
    + [("tpl-iri-2", TermMap(template="http://ex/{i}/{s}"), "S")]
    + [("tpl-bnode", TermMap(template="x{s}", term_type="BlankNode"), "S")]
    + [("tpl-literal", TermMap(template="v={s}", term_type="Literal"), "O")]
)


def _null_row_df(spark, non_null: set[str] = frozenset()):
    """One row, every column NULL except ``non_null`` (given dummy values)."""
    vals = {
        "s": "x", "i": 1, "d": 1.5, "f": 2.5, "dec": None, "b": True,
        "dt": None, "ts": None, "bin": b"\x01",
    }
    row = tuple(vals[c] if c in non_null else None for c in COLS)
    return spark.createDataFrame([row], SCHEMA)


@pytest.fixture(scope="module")
def compiler(spark):
    return SparkMappingCompiler(spark, {})


@pytest.mark.parametrize("name,tm,position", TERM_MAPS, ids=[t[0] for t in TERM_MAPS])
def test_null_input_renders_null_lexical(spark, compiler, name, tm, position):
    df = _null_row_df(spark)
    types = {f.name: f.dataType for f in SCHEMA.fields}
    lex, _, _ = compiler.term_columns(tm, position, sql_ident, types)
    got = df.selectExpr(f"{lex} AS lex").collect()[0]["lex"]
    assert got is None, (
        f"term map {name!r} rendered NULL input as {got!r} — render is no "
        "longer NULL-strict; _raw_null_guard (sparql/bgp.py) is now UNSOUND "
        "for this term-map kind"
    )


def test_multi_ref_template_null_in_any_position(spark, compiler):
    # a template is NULL-strict in EACH referenced column independently
    types = {f.name: f.dataType for f in SCHEMA.fields}
    tm = TermMap(template="http://ex/{i}/{s}")
    for bound in ({"s"}, {"i"}):
        df = _null_row_df(spark, non_null=bound)
        lex, _, _ = compiler.term_columns(tm, "S", sql_ident, types)
        got = df.selectExpr(f"{lex} AS lex").collect()[0]["lex"]
        assert got is None, f"template with only {bound} bound rendered {got!r}"


def test_tripwire_catches_non_strict_render(spark, compiler):
    # sanity: the assertion style above really does catch a defaulting
    # render — a coalesce'd lexical must be flagged as non-strict
    df = _null_row_df(spark)
    bad = F.coalesce(df["s"].cast("string"), F.lit("DEFAULT"))
    got = df.select(bad.alias("lex")).collect()[0]["lex"]
    assert got is not None  # the non-strict render DOES produce a value
