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
    """``widen_scan`` leaves an input under the split floor as it is,
    widens a single-row-group parquet file to the partition count Spark's
    split rule gives its bytes, and decides again from the footers when
    the same path is rewritten: with as many row groups as that count the
    scan is already spread and is not widened."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdflib_r2r_spark import session

    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("a one-core session never widens")
    p = str(tmp_path / "corpus.parquet")
    rows = pa.table({"id": pa.array(range(10_000), pa.int64())})

    def write(row_groups):
        pq.write_table(rows, p, row_group_size=len(rows) // row_groups)
        assert pq.ParquetFile(p).num_row_groups == row_groups
        return os.path.getsize(p)

    def round_robin(df):
        return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()

    # tens of KB, under openCostInBytes: one partition, no exchange
    nbytes = write(1)
    df = session.widen_scan(spark, p)
    assert df.rdd.getNumPartitions() == 1 and not round_robin(df)

    # lower both split confs so that split = maxPartitionBytes:
    # min(split, max(2 * split, bytes / cores)) == split
    split = -(-nbytes // min(cores, 3))
    target = -(-nbytes // split)
    assert 2 <= target <= cores
    confs = {"spark.sql.files.maxPartitionBytes": str(split),
             "spark.sql.files.openCostInBytes": str(2 * split)}
    saved = {c: spark.conf.get(c) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        # the plain scan is split into `target` byte ranges, but only the
        # one holding the row group's start reads rows
        per_split = spark.read.parquet(p).rdd.glom().map(len).collect()
        assert len(per_split) == target and sorted(per_split)[-2:] == [0, len(rows)]
        df = session.widen_scan(spark, p)
        assert round_robin(df)
        assert sorted(df.rdd.glom().map(len).collect()) == sorted(
            len(rows) // target + (k < len(rows) % target) for k in range(target))

        # rewritten with 10 row groups (more than the target): the scan
        # already spreads its rows, so it is read as it is
        many = write(10)
        assert 10 >= -(-many // split)
        df = session.widen_scan(spark, p)
        assert not round_robin(df)
        assert sum(1 for n in df.rdd.glom().map(len).collect() if n) > 1

        # and rewritten back to one row group: widened again
        write(1)
        assert round_robin(session.widen_scan(spark, p))
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)
