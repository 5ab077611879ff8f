"""SparkSession builder tuned for the crawl engine.

Local mode here (one JVM, N threads); the same config block is what we'd
ship to a real cluster via spark-submit --py-files, minus the master and
driver-memory overrides. AQE stays on so skewed anti-joins re-plan at
runtime; Arrow stays on because every Python-side transform in this engine
is a vectorized pandas or Arrow UDF (north_rule: zero per-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of shuffle partitions scales with cores locally; on a real cluster
# this would be ~2-3x total executor cores (or left to AQE coalescing).
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "crunchy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. Pass ``local[8]`` / ``local[32]`` explicitly for the
    two-parallelism scaling benchmark.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CRUNCHY_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Fully stop the active session (needed between local[8]/local[32] runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Clear the cached builder state so the next getOrCreate honors a new master.
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001
