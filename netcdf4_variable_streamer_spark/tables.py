"""Canonical table loading — the engine's scan layer for the test tables.

Applies the ns-timestamp shim (SURVEY.md §7.4): `events.ts` arrives as a
raw INT64 nanosecond epoch (because of `nanosAsLong`) and is rebuilt into
a proper microsecond TimestampType with *integer* division (``ts div
1000`` — float division would lose precision at 1.7e18 ns magnitudes and
disagree with DuckDB's ns→µs truncation).
"""

from __future__ import annotations

import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.session import apply_runtime_confs

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Scan-reuse cache: session -> {(sf_dir, name) -> analyzed DataFrame}.
# Reading a parquet footer + analysis costs ~50-150 ms per call; operators
# that touch 6 tables (star join) pay it 6x per build without this. The
# cache holds lazy plans only (no data is pinned), so it is safe at any
# scale. Keyed WEAKLY on the live session object — id(spark) would alias
# after GC (CPython reuses ids), handing out DataFrames bound to a
# stopped session; a WeakKeyDictionary entry dies with its session.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _SCAN_CACHE.get(spark)
    if per_session is None:
        per_session = _SCAN_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        # ns epoch → µs TimestampType; truncating integer division matches
        # DuckDB's TIMESTAMP_NS → TIMESTAMP cast for post-1970 data.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[key] = df
    return df


def materialize_once(df: DataFrame) -> DataFrame:
    """Compute-once plan contract: lazy ``localCheckpoint`` on a frame
    that more than one consumer reads (a trained centroid table,
    codebook or assignment, an edge set, a fixpoint round's state), so
    every downstream plan branch reads the SAME materialized result
    instead of re-deriving its subtree once per reference. It also
    cuts the lineage, so a fixpoint loop's plan does not grow per
    round. ReusedExchange sometimes dedupes such subtrees by luck, but
    AQE re-planning can and does break it; the checkpoint makes
    compute-once a contract. Apply it only to frames consumed more
    than once: on a single-consumer frame it is pure overhead
    (measured +50% on the linear training keys). Lazy, not eager:
    eager measured slower (an extra blocking materialization per
    build). Results are bit-identical — identical expressions,
    materialized once."""
    return df.localCheckpoint(eager=False)


@contextmanager
def batch_cache() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """``with batch_cache() as cache:`` — ``cache(df)`` persists ``df``
    (default storage level) and returns it; when the block exits, also
    on failure, every frame it cached is unpersisted in reverse order,
    so a failed micro-batch or action leaves nothing pinned in a
    long-lived session. For frames that several actions of one batch
    read; a frame that must outlive the block is not for this."""
    cached: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    try:
        yield cache
    finally:
        for df in reversed(cached):
            df.unpersist()
