"""Triple-table storage adapter: Iceberg when a catalog is configured,
bucketed-parquet emulation otherwise (SURVEY.md §7 constraint — no Iceberg
runtime jar in the sandbox).

Both paths produce the same logical layout per the north star: the triple
table partitioned by subject-hash buckets, so subject-key lookups and
subject-grouped consumers prune to one bucket.

- Iceberg: ``df.writeTo(table).partitionedBy(bucket(N, 'subj'))`` — hidden
  partitioning, snapshot isolation, compaction handled by the catalog.
- Parquet emulation: explicit ``subj_bucket = pmod(xxhash64(subj), N)``
  column + ``partitionBy('subj_bucket')`` dirs; readers prune via the
  partition column (``read_bucket`` pushes an equality partition filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "subj_bucket"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm_class = "org.apache.iceberg.spark.SparkCatalog"
        spark._jvm.java.lang.Class.forName(jvm_class)  # type: ignore[attr-defined]
        return True
    except Exception:
        return False


def bucket_of(col: Column, n: int) -> Column:
    """The subject bucket of ``col`` among ``n``: the one definition of the
    bucket layout, shared by every writer and reader of the triple table."""
    return F.pmod(F.xxhash64(col), F.lit(n))


def bucketed(df: DataFrame, num_buckets: int) -> DataFrame:
    """``df`` with its ``subj_bucket`` column, hash-exchanged on it into
    ``num_buckets`` partitions: every bucket's rows share one partition, so
    a ``partitionBy`` write leaves one file per bucket directory."""
    return (df.withColumn(BUCKET_COL, bucket_of(F.col("subj"), num_buckets))
            .repartition(num_buckets, BUCKET_COL))


def write_triples(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    num_buckets: int = 64,
    mode: str = "overwrite",
) -> str:
    """Write the triple table bucketed by subject hash.

    ``target`` is an Iceberg table name (contains a catalog dot and Iceberg
    is on the classpath) or a filesystem path (parquet emulation). Returns
    the storage kind used ('iceberg' | 'parquet').
    """
    if "." in target and not target.startswith(("/", "file:", "s3:", "hdfs:")) and iceberg_available(spark):
        writer = df.writeTo(target).partitionedBy(F.bucket(num_buckets, F.col("subj")))
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return "iceberg"
    bucketed(df, num_buckets).write.mode(mode).partitionBy(BUCKET_COL).parquet(target)
    return "parquet"


def read_triples(spark: SparkSession, target: str) -> DataFrame:
    if "." in target and not target.startswith(("/", "file:", "s3:", "hdfs:")) and iceberg_available(spark):
        return spark.table(target)
    return spark.read.parquet(target)


def read_bucket(spark: SparkSession, target: str, subj: str, num_buckets: int = 64) -> DataFrame:
    """Subject lookup that prunes to one bucket partition (parquet path) —
    the read-side payoff of the bucketed layout."""
    df = read_triples(spark, target)
    if BUCKET_COL in df.columns:
        # the bucket id as a FOLDABLE expression: Catalyst constant-folds
        # pmod(xxhash64(lit), N) at optimization time, so partition pruning
        # still fires — and no separate driver-side Spark job is submitted
        df = df.filter(F.col(BUCKET_COL) == bucket_of(F.lit(subj), num_buckets))
    return df.filter(F.col("subj") == subj)
