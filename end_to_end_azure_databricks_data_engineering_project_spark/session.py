"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we'd set on a real cluster where it
matters for plan shape (AQE, shuffle partitions, broadcast threshold,
UTC timestamps, Arrow for the Pandas-UDF slow path). At 100 TB the same
config applies per-executor; only the memory/parallelism numbers move.

The generated-class cache (``spark.sql.codegen.cache.maxEntries``) holds
1000 classes, not Spark's default 100. A warm pass of the 11 headline
analytics queries needs 146 distinct whole-stage-codegen classes and
the medallion daily pass about 165 plus about 20 per-pass literal
variants, so a 100-entry cache evicts classes within one pass and every
repeat of a query recompiles them (and the JIT compiles each new class
again). 1000 leaves room for the full query catalog in one session;
generated classes average about 2 KB of bytecode, so the cache stays a
few MB. ``extra_conf`` can still override it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "end_to_end_azure_databricks_data_engineering_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (falling back to ``*``).
    Shuffle partitions default to the core count — at local scale a
    32-way shuffle matches the 32 threads; on a real cluster this is
    superseded by AQE coalescing anyway.
    """
    cpus_s = str(cpus) if cpus else os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or (int(cpus_s) if cpus_s.isdigit() else 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Scale knobs (guide §2.3/§6), parameterized with local-neutral
        # defaults so the driver's bench stays comparable: at 100 TB set
        # SPARK_GRAFT_IO_CODEC=zstd (shuffle bytes shrink markedly for
        # a bit more CPU — measure per workload) and
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g (fewer, larger scan
        # tasks feeding any shuffle; local inputs are single small
        # files, so the default 128m is already one task per file).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inherit_spark_locals(fn):
    """``fn`` wrapped to run on another driver thread with the calling
    thread's Spark local properties (job group, job description,
    scheduler pool) and session tags, copied now; ``fn`` itself when no
    SparkContext is active."""
    from pyspark import SparkContext
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return fn
    session = SparkSession.getActiveSession()
    if session is None:
        return inheritable_thread_target(fn)
    return inheritable_thread_target(session)(fn)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty DataFrame with ``schema`` (a ``StructType`` or a DDL
    string; names, types, nullability and field metadata are kept) that
    the optimizer knows is empty.

    Do not build one from a Python list (``createDataFrame([], schema)``):
    on classic PySpark that is a ``LogicalRDD`` over a Python RDD with
    one partition per core, so every scan of it launches that many
    Python-worker tasks, and Catalyst cannot see that it is empty, so
    ``PropagateEmptyRelation`` cannot prune the unions and joins it
    feeds. ``emptyRDD`` has no partitions, and ``limit(0)`` lets
    ``OptimizeLimitZero`` rewrite the plan to an empty ``LocalRelation``."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema).limit(0)
