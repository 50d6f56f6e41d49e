"""SparkSession construction with scale-oriented defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — the single most important knob at scale.
- Arrow on for any Pandas-UDF path (vectorized Python transfer).
- UTC session timezone so event-time arithmetic is deterministic.
- shuffle partitions sized for the local test harness; at cluster
  scale AQE's coalesce makes the static number mostly irrelevant
  (set ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  high instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session handed to us (the
# driver harness builds its own session; ``configure_runtime`` lets
# entry()/queries() still get deterministic behavior out of it).
_RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
    # type, so read as long and reconstruct (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # parquet TIMESTAMP(isAdjustedToUTC=false) -> TimestampNTZType:
    # tz-proof comparisons against external engines.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (no-op on
    conflict: static confs raise, which we swallow)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


# Kafka connector coordinates matching the installed pyspark (Scala
# 2.13 build of Spark 4.x).  Resolved from Maven at session start —
# production clusters either have the jar on the classpath already or
# let the resolver fetch it; this container has no network, so tests
# never build a kafka=True session (the parse path is covered broker-
# free via streaming.job.kafka_envelope_frame on a Kafka-shaped frame).
def _kafka_package() -> str:
    import pyspark

    return f"org.apache.spark:spark-sql-kafka-0-10_2.13:{pyspark.__version__}"


def get_spark(
    app_name: str = "rakam-api-spark", cpus: int | None = None, kafka: bool = False
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    if kafka:
        builder = builder.config("spark.jars.packages", _kafka_package())
    return configure_runtime(builder.getOrCreate())
