"""SparkSession construction with scale-aware defaults.

The defaults here are what we would ship to a real cluster; on
local[32] they also happen to be the right local test settings.

Design notes (100 TB readiness):
  - AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy demotion are the first line
    of defense against skew we cannot see at plan time.
  - ``spark.sql.shuffle.partitions`` is a *starting* number; AQE
    coalesces down.  On a real cluster this would be set to
    ~2-3x total cores by the submitter.
  - Arrow enabled for every pandas interchange (all our Python UDFs
    are pandas/Arrow UDFs, never row-at-a-time).
  - Session timezone pinned to UTC so timestamp arithmetic is
    reproducible across driver environments (determinism contract,
    SURVEY.md §4 "deterministic tie-breaking everywhere").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 48g, or
    ¾ of physical memory on a smaller host (a heap above RAM gets the
    JVM killed by the kernel, not a Java OOM)."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError):
        return "48g"
    return f"{min(48 << 10, ram_mb * 3 // 4)}m"


def get_spark(
    app_name: str = "cqs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: small dims (region/nation/probe sets) must
        # broadcast; 64 MB is safe for our dimension tables at any SF.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
