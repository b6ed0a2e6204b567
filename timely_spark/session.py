"""SparkSession factory with the engine's standard configuration.

Scale notes (the configs below are chosen for a 1000-executor cluster and
only *tested* on local[32]):

- AQE on: runtime coalescing of the post-shuffle partitions and skew-join
  splitting replace any hand-tuned partition counts at 100 TB.
- ``spark.sql.session.timeZone=UTC``: all bucket math is epoch-based; the
  engine never depends on a local zone.
- ``nanosAsLong``: the lake's event streams carry int64-nanosecond
  timestamps; we keep them as integers end-to-end (cheap, exact, orderable)
  and only convert at the API edge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session-level configs to an EXISTING session.

    Entry points call this defensively because the verification driver
    hands us its own SparkSession: without ``nanosAsLong`` the testdata's
    TIMESTAMP(NANOS) parquet is unreadable, and with ANSI mode on,
    lenient casts / missing-map-key access used by the parsers would
    throw instead of yielding NULL.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def get_spark(
    app_name: str = "timely_spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the driver testdata stores TIMESTAMP(NANOS) which Spark has no
        # native type for; read as int64 nanoseconds
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # classic (non-ANSI) semantics: lenient casts -> NULL, which the
        # line-protocol parser relies on to route malformed input aside
        .config("spark.sql.ansi.enabled", "false")
        # Arrow for the few pandas-UDF paths (multimodal, sketches)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        # tests pass a tmp dir so saveAsTable users never collide with a
        # stale spark-warehouse/ left by a prior session (fresh Derby
        # metastore makes DROP TABLE a no-op while the directory survives)
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
