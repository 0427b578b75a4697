"""SparkSession factory tuned for the engine.

The reference creates ad-hoc sessions per entry point
(``/root/reference/main.py:13-15``, ``feature extraction.py:102-105``).
Here one factory pins the settings every operator relies on:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage.
- Arrow on — every Python-side kernel is an Arrow-batched pandas UDF, never
  a pickled row loop like the reference's ``df.rdd.map`` path.
- UTC session timezone — parquet timestamps compare identically across
  engines (DuckDB oracle parity).

It also owns what a session holds between queries: ``memo``,
``scratch_dir`` and ``release``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else about 40 % of the host's memory: in local
    mode the driver JVM shares the host with the Python workers and the
    OS, and a heap as large as physical memory gets the JVM OOM-killed."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return f"{max(1, int(total_kb * 0.4) >> 20)}g"


def get_spark(app_name: str = "big_data_science_project_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local session.

    ``shuffle_partitions`` defaults to the core count: on local[N] there is
    no network shuffle, so partitions ≈ cores minimizes task overhead; on a
    real cluster this would be sized to keep post-shuffle partitions in the
    100-200 MB range (AQE coalesces down when the default is too high).
    """
    n = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the loader (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-less parquet timestamps (timestamp[us]) must stay instants
        # (TIMESTAMP, UTC session) — NTZ would break unix_micros/watermarks
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _memo(spark: SparkSession) -> dict:
    return vars(spark).setdefault("_bdsp_memo", {})


def memo(spark: SparkSession, key, build):
    """``build()``'s value, computed once per (session, ``key``) until
    ``release``. Keyed on the session instance, so a new driver-supplied
    session starts clean."""
    d = _memo(spark)
    if key not in d:
        d[key] = build()
    return d[key]


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under the session's scratch root, which is
    created on first use and deleted by ``release``."""
    root = memo(spark, "scratch_root",
                lambda: tempfile.mkdtemp(prefix="bdsp_session_"))
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def release(spark: SparkSession) -> None:
    """Free what the session holds: uncache every cached plan, drop the
    catalog tables stored under the scratch root, delete the root and
    forget every memoized value. DataFrames built before the call that
    read from the root are invalid after it; build them again."""
    spark.catalog.clearCache()
    d = _memo(spark)
    root = d.get("scratch_root")
    if root is not None:
        for t in spark.catalog.listTables():
            if t.isTemporary:
                continue
            loc = next((r.data_type for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED `{t.name}`").collect()
                if r.col_name == "Location"), "")
            if urlparse(loc).path.startswith(root + os.sep):
                spark.sql(f"DROP TABLE `{t.name}`")
        shutil.rmtree(root, ignore_errors=True)
    d.clear()
