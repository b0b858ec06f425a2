"""SparkSession construction and runtime tuning.

The reference sizes a fixed single-JVM worker (1 vCPU / 2 GiB,
``infrastructure-deploy/cloudformation-template.yaml:105-125``) and
scales horizontally with ECS replicas competing for KCL leases
(``KCLScheduler.java:151-156``).  Spark replaces lease balancing with
task scheduling; here we centralize the session/runtime knobs that
matter at scale (AQE, shuffle partition count, Arrow, UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session we are handed (the
#: driver builds its own SparkSession for verify/bench, so everything
#: correctness-critical must be settable post-start).
RUNTIME_CONFS = {
    # Determinism: all timestamp <-> local-time conversions pinned to
    # UTC so results match a naive-UTC DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Scale posture: adaptive execution re-plans joins, coalesces tiny
    # shuffle partitions and splits skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF boundary crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: filters must drop, not throw, on bad rows — matching
    # the reference's eval-error-drops-record semantics
    # (JexlFilterService.java:76-79).
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores timestamp[ns]; read as long and convert
    # in sources.load_table (Spark has no nanos timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an externally-built session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "keyspaces-cdc-spark") -> SparkSession:
    """Build (or reuse) a local session sized from $SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    return tune(spark)
