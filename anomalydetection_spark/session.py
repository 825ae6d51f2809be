"""SparkSession factory with the engine's standard configuration.

Scale rationale (tested on local[32], designed for 1000-executor clusters):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned static plan at 100 TB.
- Arrow on: every Python crossing is an Arrow batch (the engine bans
  row-at-a-time UDFs per BASELINE input_hint "no per-row Python").
- shuffle partitions default to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial number.
- session timezone pinned to UTC so results are comparable with the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- DataFrame call-site capture off: with it on, every ``pyspark.sql.functions``
  call sets and clears a JVM-side origin (about five extra py4j round
  trips per column expression), which doubles the driver time to build
  the suite's plan; errors still carry the SQL expression context.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "anomalydetection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; a real cluster would set
        # this high (e.g. 2000) and let AQE coalesce.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
