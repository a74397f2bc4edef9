"""Round-7 optimization pins: value parity of the gated IRI encoder and
the plan-level guarantees the rewrites rely on."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

TRICKY = [
    "abc", "123", "", "a b", "%", "a%2Fb", 'x"y', "back\\slash",
    "br[ack]ets", "^caret", "amp&ers", "cur{ly}", "tail`", "pipe|brace}",
    "all% !\"#$&'()*+,/:;<=>?@[\\]^`{|}end", "ünïcode", "mixed 1-2/3",
]


def test_iri_safe_col_gated_matches_python(spark):
    from rdflib_r2r_spark import terms

    df = spark.createDataFrame([(v,) for v in TRICKY] + [(None,)], "v string")
    got = {r["v"]: r["enc"] for r in df.select(
        "v", terms.iri_safe_col(F.col("v")).alias("enc")).collect()}
    for v in TRICKY:
        assert got[v] == terms.iri_safe_py(v), v
    assert got[None] is None


def test_iri_safe_sql_spark_matches_frozen_dialect(spark):
    from rdflib_r2r_spark import terms

    df = spark.createDataFrame([(v,) for v in TRICKY] + [(None,)], "v string")
    df.createOrReplaceTempView("t_iri")
    gated = spark.sql(
        f"SELECT v, {terms.iri_safe_sql_spark('v')} AS enc FROM t_iri"
    ).collect()
    frozen = spark.sql(
        f"SELECT v, {terms.iri_safe_sql('`v`')} AS enc FROM t_iri"
    ).collect()
    assert sorted((r['v'] or '', r['enc'] or '') for r in gated) == \
        sorted((r['v'] or '', r['enc'] or '') for r in frozen)


def test_cmp_against_nonnumeric_literal_has_no_trycast(spark):
    """The dead numeric arm of a comparison against a never-numeric string
    literal must be pruned at compile time (Catalyst does not fold it)."""
    import __spark_entry__ as entry
    from rdflib_r2r_spark import bsbm as bsbm_mod

    store = bsbm_mod.bsbm_store(
        spark,
        {t: spark.read.parquet(f"{SF_DIR}/{t}.parquet")
         for t in bsbm_mod.BSBM_TABLES},
    )
    df = store.query(bsbm_mod.QUERIES["bsbm_bi3"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    opt = buf.getvalue().split("== Optimized Logical Plan ==")[1]
    opt = opt.split("== Physical Plan ==")[0]
    # the xsd:float(...) ratio on the grouped (tiny) rows legitimately
    # casts; the per-source-row date FILTERS must not
    for line in opt.splitlines():
        if "Filter" in line:
            assert "try_cast" not in line, (
                "date filter re-grew the numeric branch:\n" + line[:300]
            )


def test_never_numeric_regex_is_conservative():
    from rdflib_r2r_spark.sparql.evaluator import _never_numeric_value

    # values Spark's string->double cast CAN parse must stay "maybe"
    for v in ["1", "1.5", "-2e3", " 42 ", "Infinity", "-inf", "NaN",
              "1.0d", "0x1.8p1", ".5", "3."]:
        assert not _never_numeric_value(v), v
    # and clearly-non-numeric lexicals are pruned
    for v in ["1997-05-01", "ASIA", "", "<http://x>", "12:30", "a1"]:
        assert _never_numeric_value(v), v


def test_widen_decision_follows_input_rewrites(spark, tmp_path):
    """The memoized narrow-scan decision is served while the input file is
    unchanged and probed again once it is rewritten (new size / mtime)."""
    import os

    from rdflib_r2r_spark import session

    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("a one-core session never widens")
    p = str(tmp_path / "narrow.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    assert session.widen_scan(spark.read.parquet(p), cache_key=p).rdd.getNumPartitions() == target
    key = (spark.sparkContext.applicationId, target, p)
    version, dec = session._WIDEN_DECISION[key]
    assert dec is True and version == session._file_version(p)
    # plant the opposite decision: an unchanged input is served from the cache
    session._WIDEN_DECISION[key] = (version, False)
    assert session.widen_scan(spark.read.parquet(p), cache_key=p).rdd.getNumPartitions() == 1
    # rewrite the input: the stale entry is re-probed and replaced
    spark.range(20).coalesce(1).write.mode("overwrite").parquet(p)
    os.utime(p, ns=(version[1] + 10**9, version[1] + 10**9))
    assert session.widen_scan(spark.read.parquet(p), cache_key=p).rdd.getNumPartitions() == target
    assert session._WIDEN_DECISION[key] == (session._file_version(p), True)
