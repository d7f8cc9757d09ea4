"""SparkSession factory.

Engine-level configuration is deliberately *configuration, not
implementation* (SURVEY.md §4.2): Catalyst already provides predicate
pushdown, column pruning, broadcast selection, AQE skew handling and
whole-stage codegen; we pin the handful of settings that reference
parity and 100 TB scale need.

Scale notes (local[<host cores>] here, 1000-executor cluster in
production):
- ``spark.sql.shuffle.partitions`` — sized to cores locally; on a real
  cluster AQE coalesces post-shuffle partitions anyway, so a generous
  static value plus AQE is the right posture.
- ``spark.sql.session.timeZone=UTC`` — required for the reference's
  naive-local-wall-clock timestamp semantics (SURVEY.md §2.9 F2) and
  for DuckDB-oracle comparability (DuckDB timestamps are UTC-naive).
- AQE on, incl. skew-join — the runtime re-planner is the main defence
  against skewed keys at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep Spark's conservative 10 MB default: the static estimate for a
    # parquet scan is the *compressed file size*, which understates the
    # in-memory row size 5-20x — at 10x bench scale a 64m threshold
    # auto-broadcast a 30 MB orders.parquet that decompressed to ~590 MiB
    # and OOM'd the driver. Known-small dims get explicit F.broadcast()
    # hints instead (SURVEY.md §2.4 J1); AQE's runtime stats upgrade
    # joins whose *actual* build side is small.
    "spark.sql.autoBroadcastJoinThreshold": "10m",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "128m",
    # catalog home for bucketed tables (static conf — must be set at
    # session build; production points this at the real warehouse)
    "spark.sql.warehouse.dir": "/tmp/cw_spark_warehouse",
    # The lake's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark's vectorized reader rejects; read as long and convert in
    # sources.tables._normalize_types (truncate to micros, matching
    # DuckDB's nanos→micros truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.timeType.enabled": "true",
}


# Runtime-settable confs the engine's plans depend on — applied
# defensively to ANY session that reaches the lake (the driver harness
# builds its own SparkSession without our builder):
# - UTC session tz: F2 wall-clock semantics + DuckDB-oracle parity for
#   every TimestampType (non-NTZ) value the plans produce;
# - nanosAsLong: the events table stores TIMESTAMP(NANOS) parquet that
#   Spark's reader otherwise rejects (converted back in sources.tables).
RUNTIME_REQUIRED_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIME (SQL:2023 time-without-time-zone) columns: Spark 4.1 gates
    # the type behind a flag; the engine supports it first-class
    # (plans/relational.scalar_time_type). Enable-only — no behavior
    # change for plans that never produce a TIME value.
    "spark.sql.timeType.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Idempotently pin the runtime confs above on an existing session."""
    for k, v in RUNTIME_REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str = "cw_spark_engine", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` and
    ``spark.sql.shuffle.partitions`` to the same count; unset, the
    count is the CPUs this process may run on, so bench/tests saturate
    the host they run on.  On a cluster the caller passes nothing and
    spark-submit's master wins.
    """
    cpus = (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    # local mode runs driver+executors in ONE JVM whose default heap is
    # 1g — far too small for 32 concurrent tasks. Size it to the box
    # (only effective before the JVM starts; harmless afterwards). On a
    # real cluster spark-submit's --driver-memory/--executor-memory win.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    confs = {**DEFAULT_CONFS, "spark.sql.shuffle.partitions": cpus,
             **(extra_confs or {})}
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
