#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_star packaging):

    python scripts/package.py                       # -> dist/rdflib_r2r_spark.zip
    spark-submit --py-files dist/rdflib_r2r_spark.zip \\
        spark_submit_main.py --input <pages-or-documents dir> \\
        --workdir <checkpoint/output dir> [--buckets 1024] [--resume]

On a cluster the session comes from spark-submit's conf (master, executor
sizing); locally it falls back to local[*]. The job is resumable: re-running
with the same --workdir skips completed stages via their manifests.
"""

from __future__ import annotations

import argparse
import json
import time


def session_builder(shuffle_partitions: int | None = None):
    """The session builder: the engine settings ``get_spark`` uses too, and
    ``shuffle_partitions`` when given.  Master and executor sizing come from
    spark-submit."""
    from rdflib_r2r_spark.session import engine_builder

    builder = engine_builder("rdflib_r2r_spark_kg")
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--workdir", required=True, help="stage checkpoint/output dir")
    ap.add_argument("--buckets", type=int, default=64, help="subject-hash buckets")
    ap.add_argument("--dict-size", type=int, default=24)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    spark = session_builder(args.shuffle_partitions).getOrCreate()

    from rdflib_r2r_spark.pipeline import KGPipeline

    t0 = time.time()
    pipe = KGPipeline(
        spark,
        args.input,
        args.workdir,
        num_buckets=args.buckets,
        dict_size=args.dict_size,
        resume=not args.no_resume,
    )
    pipe.run()
    wall = time.time() - t0
    n = pipe.results["triples"].rows or 0
    print(
        json.dumps(
            {
                "triples": n,
                "wall_seconds": round(wall, 2),
                "triples_per_sec": round(n / wall, 1) if wall else None,
                "stages": {
                    k: {"rows": r.rows, "seconds": round(r.seconds, 2), "resumed": r.resumed}
                    for k, r in pipe.results.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
