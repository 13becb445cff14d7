"""SparkSession factory with scale-appropriate defaults.

Single place to configure AQE, Arrow, shuffle sizing.  On a real cluster the
same builder is used with ``master`` left to spark-submit; locally we default
to ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tiledb-vector-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for vector analytics.

    Defaults chosen for 100 TB posture:
    - AQE on (runtime coalesce + skew-join splitting),
    - Arrow on (pandas UDF kernels are the hot path for distance math),
    - parquet filter pushdown + vectorized reader on,
    - broadcast threshold raised: centroid/routing tables are small dims.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet (the driver events table) reads as
        # long nanoseconds instead of erroring.  Set HERE, at session
        # creation, so behavior never depends on whether an events-based
        # query ran first — the registry's events reader also sets it
        # defensively for sessions built elsewhere, and that set is
        # SESSION-WIDE (documented there)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pure COUNT/MIN/MAX resolve from parquet footers without a scan
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # explicit split size: vector rows are wide (d floats); 128 MB splits
        # keep per-task Arrow batches comfortably inside executor memory
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    builder = builder.master(master or f"local[{cpus}]")
    # deployment overrides without code edits (cluster-scale shuffle
    # sizing, AQE knobs, memory):  SPARK_GRAFT_SPARK_CONF is a
    # ';'-separated list of key=value pairs applied before extra_conf.
    env_conf = os.environ.get("SPARK_GRAFT_SPARK_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def small_df(spark: SparkSession, rows: list, schema: str):
    """Driver-side rows → DataFrame in a SINGLE partition.

    ``spark.createDataFrame(list)`` parallelizes into ``defaultParallelism``
    slices; any job over it then pays per-slice Python-worker overhead —
    ~150 ms × 32 slices ≈ 5 s to write a 32-row table on local[32].  Small
    driver-side tables (centroids, routing, query batches) are always one
    Arrow batch worth of data, so one slice is both correct and ~10× faster.

    The frame is built through ``spark.createDataFrame``, so it belongs to
    ``spark``: ``RDD.toDF`` binds to the most recently constructed Python
    session, which after a streaming ``foreachBatch`` callback is that
    batch's cloned session, whose temp views ``spark.sql`` cannot see.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
