"""SparkSession factory.

The reference delegates query execution to single-threaded SQLite with
hand-maintained planner stats (``ANALYZE main;`` — fetch.go:197-203) and
recreated secondary indexes. Spark-side, the equivalent planner inputs are
CBO statistics + AQE; both are switched on here so every query in the repo
gets runtime re-planning (join-strategy switch, partition coalescing, skew
splitting) for free.

Scale notes (100 TB design point):
- ``spark.sql.shuffle.partitions`` is sized from the local core count; on a
  real cluster this is AQE-coalesced upward from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow execution is on: every Pandas-UDF operator in operators/ moves data
  in Arrow record batches, never row-at-a-time pickles.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are deployment-independent.
- The driver heap defaults to a share of the host's RAM
  (``default_driver_memory``), never a fixed size the host may not have;
  ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .functions.admission import mem_total_bytes

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

DRIVER_MEM_FRACTION = 0.6  # of host RAM: the rest is for Python workers and the OS
DRIVER_MEM_CAP_MB = 48 * 1024  # the heap the engine was sized on (32 cores)


def default_driver_memory(host_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a host with ``host_bytes`` of RAM
    (default: this host's MemTotal): ``DRIVER_MEM_FRACTION`` of it,
    capped at ``DRIVER_MEM_CAP_MB``, in Spark's ``<n>m`` form."""
    host = mem_total_bytes() if host_bytes is None else host_bytes
    mb = min(DRIVER_MEM_CAP_MB, int(host * DRIVER_MEM_FRACTION) // 2**20)
    return f"{max(mb, 1)}m"


def get_spark(
    app_name: str = "nzwirelessmap_fetch_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine-wide defaults.

    Safe to call when a session already exists (e.g. under the driver
    harness): ``getOrCreate`` reuses it and only applies runtime-settable
    confs.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # 128 MiB scan partitions: keeps partition count proportional to
        # data volume, so the same code ships to a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
