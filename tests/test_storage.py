"""Bucketed triple storage: the parquet layout ``bucketed`` plus a
``partitionBy`` write leaves (one file per bucket, with AQE on and off),
and the bucket-pruned subject lookup."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rdflib_r2r_spark import storage
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.sparql.bgp import BGPCompiler


def _small_triples(spark):
    import __spark_entry__ as E

    comp = SparkMappingCompiler(
        spark,
        {n: spark.read.parquet(f"/root/testdata/sf0.001/{n}.parquet") for n in ("nation", "region")},
    )
    return BGPCompiler(E.geo_tmaps(), comp).dump()


def _write_bucketed(df, target, num_buckets):
    storage.bucketed(df, num_buckets).write.partitionBy(storage.BUCKET_COL).parquet(target)


def _rows_per_bucket_file(target):
    """{bucket: [row count of each part file in its directory]}."""
    out: dict[int, list[int]] = {}
    for f in glob.glob(os.path.join(target, f"{storage.BUCKET_COL}=*", "*.parquet")):
        b = int(os.path.basename(os.path.dirname(f)).partition("=")[2])
        out.setdefault(b, []).append(pq.read_metadata(f).num_rows)
    return out


def test_bucketed_write_layout(spark, tmp_path):
    triples = _small_triples(spark)
    target = str(tmp_path / "triples")
    _write_bucketed(triples, target, 8)
    dirs = [d for d in os.listdir(target) if d.startswith("subj_bucket=")]
    assert 1 <= len(dirs) <= 8
    back = spark.read.parquet(target)
    assert back.count() == triples.count()
    assert "subj_bucket" in back.columns


def test_more_buckets_than_shuffle_partitions_one_file_each(spark, tmp_path):
    """64 buckets over fewer shuffle partitions: each non-empty bucket is
    one file whether AQE coalesces the exchange or not, and the files'
    row counts equal a groupBy on the bucket column."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < 64
    df = spark.range(3000).select(
        F.concat(F.lit("<http://ex.org/s/"), (F.col("id") % 1000).cast("string"),
                 F.lit(">")).alias("subj"),
        F.col("id").cast("string").alias("obj"))
    want = {r[storage.BUCKET_COL]: r["count"] for r in
            storage.bucketed(df, 64).groupBy(storage.BUCKET_COL).count().collect()}
    assert len(want) == 64
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for enabled in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", enabled)
            target = str(tmp_path / f"aqe_{enabled}")
            _write_bucketed(df, target, 64)
            got = _rows_per_bucket_file(target)
            assert {b: len(v) for b, v in got.items()} == {b: 1 for b in want}, enabled
            assert {b: v[0] for b, v in got.items()} == want, enabled
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_bucket_pruned_lookup(spark, tmp_path):
    triples = _small_triples(spark)
    target = str(tmp_path / "triples2")
    _write_bucketed(triples, target, 8)
    subj = "<http://ex.org/nation/7>"
    out = storage.read_bucket(spark, target, subj, num_buckets=8)
    rows = out.collect()
    assert len(rows) >= 3  # type + name + nationkey + inRegion
    assert all(r["subj"] == subj for r in rows)
    # partition pruning visible in the plan: only one bucket dir scanned
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "subj_bucket" in plan


def test_read_bucket_prunes_without_extra_job(spark, tmp_path):
    """The bucket id folds into the plan (no driver-side hash job); only
    one partition directory survives pruning."""
    triples = _small_triples(spark)
    target = str(tmp_path / "triples3")
    _write_bucketed(triples, target, 8)
    out = storage.read_bucket(spark, target, "<http://ex.org/nation/7>", num_buckets=8)
    assert out.count() >= 3
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # constant-folded literal bucket comparison, not an unevaluated hash
    assert "xxhash64" not in optimized.lower()


def test_read_bucket_requires_the_written_bucket_count(spark, tmp_path):
    """Another bucket count names another bucket: the lookup would find
    nothing, so the count has no default and must be named."""
    triples = _small_triples(spark)
    target = str(tmp_path / "triples4")
    _write_bucketed(triples, target, 8)
    subj = "<http://ex.org/nation/7>"
    with pytest.raises(TypeError, match="num_buckets"):
        storage.read_bucket(spark, target, subj)
    with pytest.raises(TypeError):
        storage.read_bucket(spark, target, subj, 8)  # positional: not named
    assert storage.read_bucket(spark, target, subj, num_buckets=8).count() >= 3
