"""SparkSession factory with scale-oriented defaults.

Mirrors the reference's Spark tuning (AQE + coalesce + skew-join on,
Kryo, fixed shuffle parallelism — see reference
``.kiro/specs/batch-analytics-layer/design.md:97-100,903-914`` and
``.kiro/specs/realtime-analytics-speed-layer/design.md:88-92``) while
staying correct for the driver testdata (nanosecond parquet timestamps,
UTC session timezone for deterministic oracle comparison).

Designed for a 1000-executor cluster: every knob here is a per-session
default that also behaves on ``local[N]``; partition sizing is left to
AQE + ``spark.sql.files.maxPartitionBytes`` rather than hand-tuned
counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datapipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` → ``local[N]`` master,
    ``SPARK_GRAFT_SHUFFLE`` → shuffle partition count.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime re-planning at scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- deterministic semantics for oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in
        # sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python interchange: Arrow batches, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- memory: local-mode default is a 1g driver heap, which
        # GC-throttles a 32-thread suite (measured ~20% suite wall);
        # moderate heap is the plateau — much larger heaps regressed.
        # Only effective when this session launches the JVM; a
        # pre-existing JVM (e.g. the external driver's) is untouched
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
        )
        # --- I/O ---
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # executor Python workers import datapipe_spark for every operator
    # that ships repo functions (Pandas UDFs, the session machine),
    # whatever the driver's cwd; idempotent per session
    from datapipe_spark.util import ensure_workers_can_import

    ensure_workers_can_import(spark)
    return spark
