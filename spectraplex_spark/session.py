"""SparkSession builder with scale-aware defaults.

Local mode is a single JVM (driver == executors), so ``spark.driver.memory``
is the only memory knob. The shuffle-partition count is sized to the local
core count; on a real cluster it should be sized to ~2-3x total cores or
left to AQE coalescing. AQE is on everywhere: it re-plans joins at runtime
(broadcast conversion, skew-join splitting) which is exactly what we want
at 100 TB where static statistics lie.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores the driver harness gives us (local[N]).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """Half the host's physical memory, at least 1g and at most 48g.

    Local mode runs the whole engine in one JVM; a heap ceiling above the
    host's memory lets G1 keep growing the heap until the kernel's OOM
    killer takes the JVM (a 48g ceiling on a 15 GB host did)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):  # no sysconf names on this platform
        return "48g"
    return f"{max(1, min(48, total // 2 // 1024**3))}g"


def get_spark(
    app_name: str = "spectraplex_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults chosen for correctness-first local runs that still express
    the scale story:
      - AQE + coalesce + skew-join: runtime re-planning (the 100 TB path
        relies on AQE skew splitting instead of manual salting where
        possible).
      - Arrow enabled: every Pandas-UDF/toPandas crossing is Arrow-batched.
      - UTC session timezone: deterministic timestamp semantics vs the
        DuckDB oracle.
    """
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else CPUS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
