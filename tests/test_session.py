"""The session: one engine configuration for every entry point, and
generated code compiled once per session.

Compiles are read from Spark's own counter (``CodegenMetrics``: one
sample per Janino compile, cache hits take none) around a repeated
request in the shared test session."""

from __future__ import annotations

import spark_submit_main
from rdflib_r2r_spark import bsbm
from rdflib_r2r_spark.pipeline import KGPipeline
from rdflib_r2r_spark.session import engine_builder

SF_DIR = "/root/testdata/sf0.001"


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_spark_submit_session_carries_every_engine_setting(spark):
    engine = dict(engine_builder("any")._options)
    engine.pop("spark.app.name")
    for key in ("spark.sql.optimizer.excludedRules",
                "spark.sql.ansi.doubleQuotedIdentifiers",
                "spark.sql.execution.arrow.pyspark.enabled",
                "spark.python.sql.dataFrameDebugging.enabled",
                "spark.sql.codegen.cache.maxEntries",
                "spark.sql.codegen.useIdInClassName"):
        assert key in engine, key
    # the builder is inspected, not started: spark-submit supplies master
    # and executor sizing, --shuffle-partitions the partition count
    submit = spark_submit_main.session_builder()._options
    assert {k: submit.get(k) for k in engine} == engine
    assert "spark.master" not in submit
    assert "spark.sql.shuffle.partitions" not in submit
    sized = spark_submit_main.session_builder(12)._options
    assert sized["spark.sql.shuffle.partitions"] == "12"
    # and get_spark's session runs with them
    assert {k: spark.conf.get(k) for k in engine} == engine


def test_repeat_bsbm_mix_reuses_generated_code(spark):
    """The 8 BSBM shapes again through the same store, as new query text
    (a plan-cache miss, so every query is compiled and planned anew),
    find their generated classes cached.  With Spark's default 100-entry
    cache the second mix compiled 152."""
    store = bsbm.bsbm_store(spark, {t: spark.read.parquet(f"{SF_DIR}/{t}.parquet")
                                    for t in bsbm.BSBM_TABLES})

    def mix(suffix: str) -> None:
        for text in bsbm.QUERIES.values():
            store.query(text + suffix).collect()

    mix("")
    c0 = _compiles(spark)
    mix("\n")
    # measured 0, plus a margin
    assert _compiles(spark) - c0 <= 5


def test_repeat_kg_build_reuses_generated_code(spark, tmp_path):
    """A second build of the same corpus into a fresh workdir compiles no
    class.  With Spark's default 100-entry cache it compiled 119."""
    KGPipeline(spark, SF_DIR, str(tmp_path / "first")).run().count()
    c0 = _compiles(spark)
    KGPipeline(spark, SF_DIR, str(tmp_path / "second")).run().count()
    # measured 0, plus a margin
    assert _compiles(spark) - c0 <= 2
