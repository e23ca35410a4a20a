"""SparkSession factory.

Defaults chosen for oracle parity and scale posture (SURVEY.md section 5/2.2):

- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive; the
  correctness oracle compares values, so the session TZ must be pinned.
- AQE on (+ partition coalescing + skew-join): at 100 TB the static shuffle
  partition count is always wrong somewhere; AQE re-plans at runtime.
- Arrow enabled: every pandas interchange (Pandas UDFs, toPandas) goes
  through Arrow batches instead of pickled rows.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a real
  cluster this is overridden (and AQE coalesces anyway).
- Driver heap 16g, capped at half the machine's physical memory: the JVM
  grows its heap lazily towards the cap, so a cap above RAM lets a long
  session get OOM-killed instead of collecting garbage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``spark.driver.memory`` unless SPARK_GRAFT_DRIVER_MEM overrides it."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    except (ValueError, OSError):
        return "16g"
    return f"{min(16, max(1, phys_gb // 2))}g"


def get_spark(
    app_name: str = "parquet_exporter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
