"""SparkSession factory tuned for the sandbox (local[N]) but written for
cluster scale: AQE on (runtime re-plan + skew-join), Arrow on (pandas-UDF
stages), explicit shuffle-partition sizing.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Python workers (pandas UDFs) are separate processes: they need this package
# importable regardless of the driver's cwd/sys.path. On a cluster the same
# is achieved with spark-submit --py-files of the packaged zip.
_REPO_ROOT = str(Path(__file__).resolve().parents[1])


def _ensure_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pp + os.pathsep if pp else "") + _REPO_ROOT


def engine_builder(app_name: str) -> SparkSession.Builder:
    """A session builder named ``app_name`` with the engine settings every
    entry point runs with (:func:`get_spark` and ``spark_submit_main.py``):
    AQE, UTC, the optimizer-rule exclusion, SQL dialect, Arrow, call-site
    capture and code-generation caching.  Master, parallelism and memory
    are left to the caller.

    Generated code is compiled once per session.  Spark caches compiled
    classes in an LRU of ``spark.sql.codegen.cache.maxEntries`` (default
    100), but one BSBM query mix compiles 158-172 distinct classes, one
    KG build 102-124 and one round of the 102-query sweep about 830.  A
    repeated working set larger than an LRU never hits it: each class is
    evicted before its next use, so at 100 entries a warm mix still
    compiled 162 classes and a warm KG build about 95.  At 2000 a warm KG
    build compiles none, the sweep's second round 2-4 and a warm BSBM mix
    about 20, the stages whose new integer constants Spark inlines into
    the Java text.

    ``useIdInClassName=false`` drops AQE's run-order-dependent stage id
    from whole-stage class names, so identical stages of different queries,
    or of one query materialized in another order, share one class: it
    takes the cold KG build 124 -> 102 compiles and the second build 20 ->
    0 (both with the 2000-entry cache).  The cost: generated class names
    in stack traces lose the stage id (``explain(mode="codegen")`` still
    prints it).

    PySpark's per-call DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled``).  The cost: error
    messages lose their Python call-site section.  Job-group tags are
    unaffected.
    """
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # rr:sqlQuery sources use ANSI double-quoted identifiers (the W3C
        # R2RML suite is written that way); string literals in engine-built
        # SQL are single-quoted throughout, so this is safe to enable
        .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # InferFiltersFromGenerate adds `size(arr) > 0` under every
        # non-outer explode and pushes it below the projection, INLINING
        # the array expression into the filter — regex/tokenize/transform
        # chains under an explode evaluate TWICE per input row (measured
        # 5x wall on the char-bigram LM stage, 2x on tokenize). The
        # alternative (explode_outer + isNotNull) single-evaluates but
        # drops the Generate out of whole-stage codegen, which costs more
        # on volume-heavy stages (LSH banding 1.5s -> 5.0s). Excluding the
        # rule keeps inner-explode codegen AND single evaluation; the only
        # thing lost is pre-filtering of empty-array rows, which every
        # caller here either guards explicitly or doesn't care about.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # PySpark wraps every DataFrame and Column call to capture its
        # Python call site for error messages: a stack walk plus about four
        # py4j round trips per call (measured: compiling the 8 BSBM queries
        # at sf0.001 makes 49,460 py4j calls with it, 18,973 without)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # above the measured working sets (see the docstring); a static
        # setting, read once when the session starts
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )


def get_spark(app_name: str = "rdflib_r2r_spark") -> SparkSession:
    """Build (or reuse) a SparkSession on ``local[$SPARK_GRAFT_CPUS]``
    (``local[*]`` when unset) with :func:`engine_builder`'s settings.
    Shuffle partitions are the core count, at least 8 (local mode:
    shuffles are on-box, 200 default just adds task overhead; on a real
    cluster size this to 2-3x total cores).
    """
    _ensure_pythonpath()
    env = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{env}]" if env else "local[*]"
    n = int(env) if env else (os.cpu_count() or 8)
    builder = (
        engine_builder(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # stay under the compressed-OOPs limit: heaps >~32g disable pointer
        # compression and anti-scale with thread count (measured: md5 bench
        # 2.5s @16g/32thr vs 16.9s @32g/32thr). Spill goes to disk anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # throughput GC: the allocation-heavy array/string stages are bound
        # by G1's concurrent overhead at high thread counts (measured:
        # signature stage 24s G1 -> 15.6s ParallelGC @ local[32]); batch
        # analytics prefers max-throughput stop-the-world collection. On a
        # cluster, set the same via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # default 128m packs small local inputs into fewer read partitions
        # than cores, starving map stages (e.g. 1.2GB corpus -> 10 tasks
        # on 32 cores). 32m keeps scans wide in local mode; clusters reading
        # 100TB keep the default (splits are plentiful there).
        .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _scan_target(spark: SparkSession, nbytes: int) -> int:
    """The partition count Spark's file-split rule
    (``FilePartition.maxSplitBytes``) gives ``nbytes`` of splittable
    files, capped at the default parallelism: ``min(parallelism,
    ceil(bytes / split))`` with ``split = min(maxPartitionBytes,
    max(openCostInBytes, bytes / parallelism))``."""
    cores = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    split = max(1, min(conf.filesMaxPartitionBytes(),
                       max(conf.filesOpenCostInBytes(), nbytes // cores)))
    return min(cores, -(-nbytes // split))


def widen_scan(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet file or directory at ``path``, spread over the
    partitions its bytes call for (guide §2.5, "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    The target is :func:`_scan_target` of the files' bytes, the count
    Spark's own split rule gives them.  Spark splits parquet by bytes, so
    the scan already yields about that many partitions, but a split holds
    rows only if a row group starts in it: a file with one row group
    scans as ``target`` partitions with every row in one of them.  So the
    read is followed by a round-robin repartition to the target exactly
    when the footers list fewer row groups than the target.  An input
    under the split floor (``openCostInBytes``, 4 MB) has target 1 and is
    returned as read, because each extra task and part file in the
    narrow stages after it costs more than its slice of work.

    Sizes come from the file listing and row-group counts from the
    footers, both read by pyarrow (no Spark job), so ``path`` is a local
    path or a URI pyarrow's filesystems open (``hdfs://``, ``s3://``,
    ``gs://``)."""
    import pyarrow.dataset as ds

    df = spark.read.parquet(path)
    files = ds.dataset(path, format="parquet")
    nbytes = sum(f.size for f in files.filesystem.get_file_info(files.files))
    target = _scan_target(spark, nbytes)
    if target > 1 and sum(f.num_row_groups for f in files.get_fragments()) < target:
        return df.repartition(target)
    return df
