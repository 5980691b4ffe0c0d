"""SparkSession construction with the engine's mandatory confs.

The confs here are scale-posture defaults (SURVEY.md §4.2/§7): AQE on with
skew handling, Arrow everywhere Python is crossed, and the verified
ns-timestamp shim conf (SURVEY.md §7.4 — `events.parquet` stores
INT64 TIMESTAMP(NANOS) which PySpark 4.x hard-fails on otherwise).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied defensively before every engine read, so the
# engine also behaves when handed a foreign session (the driver's).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",  # SURVEY §7.4 (verified)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource pushFilters is gated off by default
    "spark.sql.python.filterPushdown.enabled": "true",
}


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the box's physical RAM (``MemTotal``), capped at 16g; 16g
    where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1])
                for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(kb // 2048, 16 * 1024)}m"


BUILD_CONFS = {
    **RUNTIME_CONFS,
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": _driver_memory(),
    "spark.ui.enabled": "false",
    # Static: the whole-stage codegen class cache. At the default 100 a
    # streaming loop evicts classes it compiled one micro-batch ago and
    # recompiles them (37 of a curation batch's 92, 135 ms of Janino
    # time); at 4096 a repeated batch compiles almost nothing.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(app_name: str = "netcdf4-variable-streamer-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in BUILD_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


# WeakSet, not a set of id()s: CPython reuses ids after GC, so a replaced
# session could alias a stale id and silently skip conf application. Weak
# references track the live object itself and drop with it.
import weakref  # noqa: E402  (kept local to the memo it serves)

_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def apply_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply of runtime-settable confs to any session.

    Memoized per session object: each conf.set is a Py4J round trip, and
    this runs on every table load — without the memo a 6-table star join
    pays ~50 round trips per build.
    """
    if spark in _CONFS_APPLIED:
        return
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a foreign session — keep going
    _CONFS_APPLIED.add(spark)
