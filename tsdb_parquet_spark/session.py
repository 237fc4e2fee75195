"""SparkSession factory with the engine's required runtime configuration.

The reference engine is a single process reading local/object-store Parquet
(`cmd/read/main.go:31-128`); our equivalent execution substrate is a Spark
session with the vectorized Parquet reader, pushdown, and AQE enabled.
All settings below are dynamic SQL confs where possible so that
:func:`configure_session` can also adapt a session handed to us by a driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on any session.
_RUNTIME_CONFS: dict[str, str] = {
    # testdata `events.parquet` stores TIMESTAMP(NANOS); read as int64 ns
    # (the reference keeps all timestamps as int64 — schema/chunk.go:31-34)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic wall-clock semantics for TIMESTAMP_NTZ <-> epoch math
    "spark.sql.session.timeZone": "UTC",
    # storage-level pruning — the Spark equivalents of the reference's
    # bloom (dataset/row_selector.go:21-41), zone-map (:45-73) and
    # dictionary (dataset/row_filter.go:77-151) pruning phases
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # runtime re-planning: partition coalescing + skew-join handling
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas()/createDataFrame(pandas) (corpus rows, tests);
    # mapInArrow/mapInPandas decode paths use Arrow regardless
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # no per-call call-site capture: with it on, every DataFrame and
    # functions call makes ~5 extra JVM round trips (active session,
    # conf read, origin set/clear), about half of a PromQL plan's JVM
    # round trips.  The trade: an analysis error loses PySpark's
    # "DataFrame query context" block (the Python line that built the
    # failing expression); the error class and message are unchanged.
    # PySpark reads this once per process, at the first DataFrame call,
    # so it only takes effect on sessions built by get_spark (or
    # configured before any DataFrame work).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session.

    Used both by :func:`get_spark` and by `__spark_entry__` when the driver
    supplies its own session.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a static conf on this build — the builder path sets it instead
            pass
    try:
        # a stock-default 200 shuffle partitions oversizes every local
        # query; right-size to the machine (AQE still coalesces further)
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(default_parallelism())
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "tsdb-parquet-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    local[N] on this box; on a real cluster the same confs apply and the
    master comes from spark-submit.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(int(str(cpus).replace("*", "32")), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure_session(builder.getOrCreate())
