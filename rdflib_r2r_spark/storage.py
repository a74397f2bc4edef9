"""Triple-table storage: bucketed parquet.

The triple table is partitioned by subject-hash bucket, so subject-key
lookups and subject-grouped consumers prune to one bucket.  ``bucketed``
adds the ``subj_bucket = pmod(xxhash64(subj), N)`` column and exchanges
the rows on it; the writer (``KGPipeline.stage("triples")``) lays the
table out as ``partitionBy('subj_bucket')`` directories, one file each;
``read_bucket`` pushes an equality filter on the partition column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "subj_bucket"


def bucket_of(col: Column, n: int) -> Column:
    """The subject bucket of ``col`` among ``n``: the one definition of the
    bucket layout, shared by every writer and reader of the triple table."""
    return F.pmod(F.xxhash64(col), F.lit(n))


def bucketed(df: DataFrame, num_buckets: int) -> DataFrame:
    """``df`` with its ``subj_bucket`` column, hash-exchanged on it.

    The exchange is sized by the data, not by ``num_buckets``: it starts
    at ``spark.sql.shuffle.partitions`` partitions and AQE coalesces them
    to fit, so the write runs at most min(shuffle partitions, buckets)
    non-empty tasks before coalescing and usually far fewer after.  Every
    bucket hashes to exactly one shuffle partition and coalescing merges
    whole partitions without splitting one, so a ``partitionBy`` write
    still leaves one file per bucket directory.  (``rebalance`` would let
    AQE split a partition, and so a bucket, across tasks.)"""
    return (df.withColumn(BUCKET_COL, bucket_of(F.col("subj"), num_buckets))
            .repartition(BUCKET_COL))


def read_bucket(spark: SparkSession, target: str, subj: str, *, num_buckets: int) -> DataFrame:
    """Subject lookup on the bucketed parquet table at ``target`` that
    prunes to one bucket partition: the read-side payoff of the layout.

    ``num_buckets`` must be the count the table was written with: another
    count names another bucket, and the lookup silently finds nothing.  The
    layout itself does not record it; ``KGPipeline`` records it in
    ``_manifests/triples.json`` under ``params.num_buckets``."""
    df = spark.read.parquet(target)
    if BUCKET_COL in df.columns:
        # the bucket id as a FOLDABLE expression: Catalyst constant-folds
        # pmod(xxhash64(lit), N) at optimization time, so partition pruning
        # still fires — and no separate driver-side Spark job is submitted
        df = df.filter(F.col(BUCKET_COL) == bucket_of(F.lit(subj), num_buckets))
    return df.filter(F.col("subj") == subj)
