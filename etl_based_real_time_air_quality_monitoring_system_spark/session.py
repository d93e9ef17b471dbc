"""SparkSession construction.

Mirrors the reference's session configuration
(``spark_processing/spark_processor.py:17-22``: AQE on, AQE partition
coalescing on, Kryo serializer) and adds the settings a large cluster
needs anyway: skew-join handling, UTC session timezone (so event-time
semantics are stable across driver/oracle), Arrow for the pandas
boundary.

At 100 TB these are the confs that matter: AQE re-plans shuffles at
runtime (coalesces small post-shuffle partitions, splits skewed ones),
and ``spark.sql.shuffle.partitions`` is only the *initial* partition
count that AQE then adapts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe to (re)apply to an externally-created session
#: at runtime.  The driver harness owns its own SparkSession; ``prepare``
#: applies these so engine code behaves identically there.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; read as long and convert (sources.readers).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet timestamp[us] WITHOUT isAdjustedToUTC otherwise arrives as
    # TIMESTAMP_NTZ, which unix_micros/to_utc functions reject.  Session
    # TZ is pinned UTC below, so reading it as TIMESTAMP yields the same
    # wall-clock values DuckDB (the oracle) sees.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session.

    Idempotent; call at the top of every entry point that receives a
    session it did not build (e.g. the driver's harness).
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-runtime-settable conf on this build — leave the
            # session's value in place rather than failing the query.
            pass
    try:
        # AQE coalescing fixes oversized BATCH shuffles at runtime, but
        # stateful STREAMING operators disable AQE and would run the
        # Spark default 200 state partitions on a vanilla session
        # (observed in the driver harness).  Only right-size when the
        # session still has the untouched default — a deliberate
        # builder-time setting (get_session, tests) is respected.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    return spark


def get_session(
    app_name: str = "aq-spark-engine",
    cpus: int | str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's local session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    Shuffle partitions equal the core count — the guide's local-mode
    sizing; on a real cluster you would size them to ~2-3x total
    executor cores and let AQE coalesce.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare(spark)
