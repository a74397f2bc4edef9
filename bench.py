#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline metric: triples/sec emitted by the end-to-end KG-construction
pipeline (pages -> extract -> map-compile -> mentions -> LSH -> CC ->
bucketed write), per BASELINE.json. Secondary: per-query seconds for the
relational/dedup headliners.

$SPARK_GRAFT_REPLICATE (default 1) fans the documents corpus out N-fold
inside the job (deterministic doc_id offsets), to give the pipeline
enough work to measure at a larger input than the testdata's.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from rdflib_r2r_spark.session import get_spark  # noqa: E402


def replicate_documents(spark, sf_dir: str, factor: int, out_dir: str) -> str:
    """Deterministically fan out documents.parquet `factor`x (distinct
    doc_ids) so throughput runs have configurable work on the same input."""
    if factor <= 1:
        return sf_dir
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    # similarity-preserving fan-out: suffix every token with the replica id,
    # so replica slice r reproduces the original corpus's near-dup structure
    # against itself but shares no shingles across slices — work (docs,
    # mentions, LSH pairs, CC components) all scale LINEARLY with factor.
    rep = (
        docs.select("*", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r"))
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * n)
        .withColumn(
            "text",
            F.when(F.col("_r") == 0, F.col("text")).otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(t, F.lit("x"), F.col("_r").cast("string")),
                    ),
                )
            ),
        )
        .drop("_r")
    )
    os.makedirs(out_dir, exist_ok=True)
    rep.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return out_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "1"))
    sf_label = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")

    import __spark_entry__ as E
    from rdflib_r2r_spark.pipeline import KGPipeline

    # warm up JVM / codegen / parquet reader so timings reflect steady state
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    timings: dict[str, float] = {}

    def timed(name: str, df_fn) -> None:
        # best-of-2: plan compilation / codegen caches make first runs noisy
        # by up to 2-3x on this host; the driver compares rounds on these
        walls = []
        for _ in range(2):
            t0 = time.time()
            df_fn().write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        timings[name] = round(min(walls), 3)

    qs = E.queries()
    skip_queries = os.environ.get("SPARK_GRAFT_SKIP_QUERIES", "0") == "1"
    for name in [] if skip_queries else [
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_group_having",
        "q_window_session", "dedup_lsh_pairs", "dedup_simhash",
        "q_text_stats", "ann_cosine_topk", "kg_dump_geo", "kg_mentions",
        # BSBM suite through the SPARQL front end — the reference's published
        # workload (docs/test-results/bsbm.md: bi1 6.46s bi2 8.08s bi3 5.28s
        # bi4 5.19s bi5 7.41s bi7 4.89s explore1 7.44s explore5 5.15s on its
        # bundled dataset); BENCH.md carries the side-by-side table
        "bsbm_bi1", "bsbm_bi2", "bsbm_bi3", "bsbm_bi4", "bsbm_bi5",
        "bsbm_bi7", "bsbm_explore1", "bsbm_explore5",
        "sparql_join_ref", "sparql_closure",
        # round-5 curation operators (linear corpus scans; dedup_segments
        # is the 3-exchange segment dedup)
        "q_quality_filter", "q_repetition", "dedup_segments", "q_chunk_docs",
        # round-6 operators: real subword tokenization (distinct-word
        # mapInArrow kernel), char-bigram LM perplexity (explode +
        # broadcast LM), per-source salted top-k
        "q_tokenize", "q_perplexity", "q_source_cap",
    ]:
        timed(name, lambda n=name: qs[n](spark, sf_dir))

    # headline: end-to-end KG pipeline triples/sec. Fused mode (single DAG,
    # only the final bucketed triple table + manifest written) is the
    # throughput configuration; checkpointed mode (every stage persisted +
    # resumable) is also timed for the record. SPARK_GRAFT_CHECKPOINT=1
    # makes the checkpointed run the headline.
    headline_checkpointed = os.environ.get("SPARK_GRAFT_CHECKPOINT", "0") == "1"
    tmp = tempfile.mkdtemp(prefix="bench_kg_")
    try:
        pipe_input = sf_dir
        if replicate > 1:
            pipe_input = replicate_documents(spark, sf_dir, replicate, f"{tmp}/input")

        t0 = time.time()
        pipe = KGPipeline(spark, pipe_input, f"{tmp}/kg", resume=False,
                          checkpoint_stages=False)
        pipe.run()
        wall_fused = time.time() - t0
        if os.environ.get("SPARK_GRAFT_STAGE_TIMES", "0") == "1":
            import sys as _sys
            print(json.dumps({"stage_walls": {
                n: round(r.seconds, 2) for n, r in pipe.results.items()
            }}), file=_sys.stderr)
        n_triples = pipe.results["triples"].rows or 0
        timings["kg_pipeline_fused"] = round(wall_fused, 3)
        spark.catalog.clearCache()

        if os.environ.get("SPARK_GRAFT_SKIP_CKPT", "0") == "1" and not headline_checkpointed:
            wall_ckpt = None
        else:
            t0 = time.time()
            pipe2 = KGPipeline(spark, pipe_input, f"{tmp}/kg_ckpt", resume=False,
                               checkpoint_stages=True)
            pipe2.run()
            wall_ckpt = time.time() - t0
            timings["kg_pipeline_checkpointed"] = round(wall_ckpt, 3)

        wall = wall_ckpt if headline_checkpointed else wall_fused
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    tps = n_triples / wall if wall > 0 else 0.0
    print(
        json.dumps(
            {
                "metric": "kg_pipeline_fused_wall_seconds" if not headline_checkpointed else "kg_pipeline_wall_seconds",
                "value": round(wall, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_label,
                "triples_emitted": n_triples,
                "triples_per_sec": round(tps, 1),
                "replicate": replicate,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                # pinned methodology so round-over-round deltas are
                # attributable (round-2 verdict "What's wrong" #4)
                "method": {
                    "per_query": "best-of-2, warm JVM (parquet footer + codegen warmup reads first)",
                    "pipeline": "single run per mode, fused headline",
                    "timing_sink": "noop write",
                },
            }
        )
    )


if __name__ == "__main__":
    main()
