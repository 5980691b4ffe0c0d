"""B-8 streaming operators (SURVEY.md §2 Table B).

The reference's streaming is *transport* streaming (buffered line
append / tail-follow, Table A A4-A9/A14) with no event-time semantics;
the engine adds real event-time processing on Structured Streaming:
tumbling/sliding/session windows, watermarks, stateful dedup and custom
state machines.

Contract per SURVEY §5.2 layer 3: every windowed op registers its
*batch twin* (oracle-checked against DuckDB); the streaming form runs
the same transformation over a file stream of the identical input with
`trigger(availableNow=True)` and must produce the identical result —
asserted in tests/test_streaming.py. Two keys are streaming-only
(watermark drop, custom state) → rows-only checks.

100 TB posture: state is keyed (event_type / user_id shuffle keys),
watermarks bound state size, and the file source is just a stand-in for
Kafka — the transformations never depend on the source.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import traceback
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.registry import SQL_DSUM, dsum, register, ts_str
from netcdf4_variable_streamer_spark.tables import batch_cache, load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream (file source stands in for Kafka)."""
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  # dir source, one table
        .parquet(sf_dir)
    )
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks/windows need LTZ event time; identity under the
        # engine's UTC session tz (same shim as q_fn_date).
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


def _overlap_jobs(*thunks) -> None:
    """Run independent per-batch Spark actions concurrently (guide
    §2.6: overlap independent jobs). A foreachBatch body that calls
    several write actions back to back serializes jobs the scheduler
    could overlap — each tiny stage's scheduling latency and task tail
    leaves executors idle that the sibling job's tasks could back-fill
    (and on a real cluster the same overlap hides per-job commit
    latency). Every thunk must be a self-contained action writing to
    its OWN path; the call returns only after ALL have finished, so a
    commit marker written after it still happens strictly LAST, and a
    failure in any thunk propagates (the marker is then never written
    and the version stays invisible — the same crash contract as the
    serial form: which sibling writes completed before a crash is
    immaterial, the replayed batch overwrites every one idempotently).
    Shared cached frames (the per-batch :func:`batch_cache` frames) are
    safe under concurrent first use: consumers substitute the
    InMemoryRelation at planning time and the block manager's
    per-block locking handles concurrent materialization. Safe, but
    not free: each thunk that reaches an unbuilt cache submits its
    own build jobs, so how many jobs a batch runs depends on thread
    timing.

    SAFETY RULE (measured, not theoretical): two concurrent thunks
    must NOT share a higher-order-function subtree that is not behind
    a ``persist()``. Catalyst HOF lambdas (``NamedLambdaVariable``)
    carry mutable per-evaluation state, and for LocalRelation-backed
    frames the optimizer's ConvertToLocalRelation rule interprets the
    expressions ON THE DRIVER during each query's optimization — two
    threads optimizing plans that reference the SAME lambda instances
    corrupt each other's rows (reproduced: concurrent bgc/ctx writes
    sharing one `_doc_bigrams` subtree over a createDataFrame batch
    were nondeterministic every run; serial, rebuilt-per-plan, and
    parquet-backed variants were all bit-stable). Parquet-backed
    micro-batches never hit the rule (tasks deserialize private
    expression copies), but foreachBatch closures are also driven
    directly with createDataFrame frames in the restart tests, so the
    loops below bundle any HOF-sharing writes into ONE thunk.

    Threads are ``pyspark.InheritableThread``, the documented thread
    type for PySpark driver-side concurrency: it inherits the
    creator's JVM-local properties (job group / description, so
    concurrent jobs stay correctly labelled) and, under py4j
    pinned-thread mode (the default), explicitly cleans its JVM
    connection thread when the Python thread exits instead of waiting
    for garbage collection. (JVM thread-count growth across
    foreachBatch runs was probed while choosing this: it is identical
    with a plain ThreadPoolExecutor, with InheritableThread, and on
    the pre-overlap serial code — 62 → ~440 over three runs, all of
    it Spark's own streaming machinery, none of it these thunks.)"""
    if len(thunks) == 1:
        thunks[0]()
        return
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _run(t) -> None:
        try:
            t()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [
        InheritableThread(target=_run, args=(t,)) for t in thunks
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        # the first error propagates with its own cause chain intact;
        # every sibling failure rides along as a note with its traceback
        first = errs[0]
        for e in errs[1:]:
            first.add_note(
                "sibling overlapped write also failed:\n"
                + "".join(traceback.format_exception(e))
            )
        raise first


def _versions(run_dir: str, prefix: str) -> list[int]:
    """Ascending N of every ``{prefix}{N}`` entry in ``run_dir``.
    Entries whose suffix is not a number (a torn ``commit_v``, an
    external tool's ``commit_v2.tmp`` backup) are ignored."""
    return sorted(
        int(s)
        for p in os.listdir(run_dir)
        if p.startswith(prefix) and (s := p[len(prefix):]).isdigit()
    )


def _write_table(df: DataFrame, path: str) -> None:
    """Write one loop table to ``path`` with overwrite (a replayed batch
    rewrites it idempotently), zstd-compressed: loop state is mostly
    text, hex digests and small integers, which zstd packs far tighter
    than parquet's default snappy. Parquet records the codec per file,
    so readers take old snappy and new zstd versions together."""
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)


# Once this many committed deltas lie after a loop's newest base, the
# next batch writes a new base instead of a delta (compaction), so a
# state read lists at most _COMPACT_AFTER + 1 directories.
_COMPACT_AFTER = 16


class VersionedState:
    """The versioned parquet state of one foreachBatch loop.

    Batch N writes each table ``t`` to ``{t}_v{N}`` with overwrite and
    then its marker ``commit_v{N}``, strictly last. A version counts
    only once its marker exists, so a crash mid-batch leaves it
    invisible and the replayed batch rewrites it idempotently; a marker
    naming a version whose tables are gone fails loudly on the read.

    A batch usually writes a *delta*: only its own rows. Batch N reads
    the newest committed *base* older than N plus every committed delta
    after that base, in one multi-path parquet read per table. The read
    takes the table's schema from a frame of the batch, so listing the
    delta directories reads no footers. When _COMPACT_AFTER deltas lie
    after the base, the batch writes a base instead (the whole state)
    and its marker holds ``base``. The first batch's own rows are the
    whole state, so it writes a base too. ``ledgers`` are small tables
    that every batch rewrites whole; they are read from the newest
    committed version alone.

    With ``ttl``, the state is a retention horizon instead: batch N
    reads the committed versions in ``[N - ttl, N)`` and never writes a
    base, and once its marker is on disk it deletes the state tables of
    every version older than ``N - ttl``. Decisions (``dec_v*``) and
    markers stay."""

    def __init__(
        self, spark: SparkSession, run_dir: str, ledgers: tuple = (),
        ttl: int | None = None,
    ):
        self.spark, self.run_dir = spark, run_dir
        self.ledgers, self.ttl = ledgers, ttl
        self.batch_id, self.read_versions, self.base = -1, [], True

    def _path(self, table: str, version: int, *more: str) -> str:
        return os.path.join(self.run_dir, f"{table}_v{version}", *more)

    def _is_base(self, version: int) -> bool:
        with open(self._path("commit", version)) as f:
            return f.read() == "base"

    def recover(self, batch_id: int) -> bool:
        """Recover the committed state batch ``batch_id`` builds on;
        True iff there is any."""
        done = [
            v for v in _versions(self.run_dir, "commit_v") if v < batch_id
        ]
        self.batch_id = batch_id
        if self.ttl is not None:
            self.read_versions = [v for v in done if v >= batch_id - self.ttl]
            self.base = False
            return bool(self.read_versions)
        start = next(
            (i for i in reversed(range(len(done))) if self._is_base(done[i])),
            0,
        )
        self.read_versions = done[start:]
        self.base = not done or len(self.read_versions) > _COMPACT_AFTER
        return bool(done)

    def read(self, table: str, like: DataFrame) -> DataFrame:
        """The recovered state of ``table``; ``like`` has its columns."""
        versions = self.read_versions
        if table in self.ledgers:
            versions = versions[-1:]
        return self.spark.read.schema(like.schema).parquet(
            *(self._path(table, v) for v in versions)
        )

    def rows(self, prior: DataFrame | None, delta: DataFrame) -> DataFrame:
        """What this batch writes for an append-only table."""
        if self.base and prior is not None:
            return prior.unionByName(delta)
        return delta

    def commit(self, frames: dict, *thunks) -> None:
        """Write each ``{table: frame}`` to this batch's version,
        overlapped with ``thunks``, then the marker; with ``ttl``, then
        evict the versions behind the horizon."""
        _overlap_jobs(
            *thunks,
            *(
                lambda t=t, df=df: _write_table(
                    df, self._path(t, self.batch_id)
                )
                for t, df in frames.items()
            ),
        )
        # a base marker must never be seen empty (that reads as a delta)
        marker = self._path("commit", self.batch_id)
        with open(marker + ".tmp", "w") as f:
            f.write("base" if self.base else "")
        os.replace(marker + ".tmp", marker)
        if self.ttl is None:
            return
        # The horizon keeps ttl + 1 versions, one more than the next
        # batch probes: a checkpoint replay of batch N (a crash between
        # foreachBatch returning and the checkpoint commit) must still
        # find its [N - ttl, N) probe window on disk.
        for v in _versions(self.run_dir, "commit_v"):
            if v >= self.batch_id - self.ttl:
                break
            for t in frames.keys() - {"dec"}:
                shutil.rmtree(self._path(t, v), ignore_errors=True)


def run_to_completion(
    df: DataFrame, name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with availableNow and
    return the materialized result table. output_mode: 'complete' for
    plain aggregations, 'append' for dedup/watermarked appends, 'update'
    for applyInPandasWithState-style operators."""
    name = name or f"nvss_stream_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(
        prefix="ckpt_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Shared transformations: applied identically to the batch table and the
# stream so the streaming test can assert equality by construction.
# ---------------------------------------------------------------------------

def _tumbling(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )
        .select(
            ts_str(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _sliding(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            ts_str(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def _session(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )
        .select(
            "user_id",
            ts_str(F.col("w.start"), _TS_FMT).alias("session_start"),
            ts_str(F.col("w.end"), _TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_tumbling",
    oracle=f"""
SELECT STRFTIME(TIME_BUCKET(INTERVAL '1 hour', ts::TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {SQL_DSUM('value', 4)} AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="1-hour tumbling window count/sum per event_type (batch twin; the "
        "streaming form over the same input must match — see "
        "tests/test_streaming.py).",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_sliding",
    oracle="""
SELECT STRFTIME(TIME_BUCKET(INTERVAL '15 minutes', ts::TIMESTAMP)
                  - k.k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
GROUP BY 1, 2
""",
    doc="1-hour window sliding every 15 min (each event lands in exactly "
        "4 windows; the oracle materializes the 4 shifted buckets).",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
         CASE WHEN ts::TIMESTAMP - LAG(ts::TIMESTAMP) OVER (
                PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
              < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_session
  FROM events
),
ids AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       {s} AS sum_value
FROM ids
GROUP BY user_id, session_id
""".format(s=SQL_DSUM("value", 4)),
    doc="30-min-gap sessionization via session_window; the oracle is the "
        "gaps-and-islands formulation (new session iff gap >= 30 min, "
        "session end = last event + gap — Spark's session_window "
        "semantics).",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_dedup",
    oracle="""
SELECT user_id, event_type FROM events GROUP BY user_id, event_type
""",
    doc="Stateful dedup: dropDuplicates on the grain key; batch twin is "
        "DISTINCT (streaming form uses dropDuplicates within watermark).",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@register(
    "q_stream_watermark_late",
    oracle="""
SELECT STRFTIME(TIME_BUCKET(INTERVAL '1 hour', ts::TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    doc="Real Structured-Streaming run: 10-minute watermark on ts, "
        "tumbling 1-h counts, availableNow trigger, memory sink. "
        "Exercises watermark bookkeeping + late-row dropping end to end. "
        "Oracle: the input arrives as ONE availableNow batch (single "
        "parquet file), so the watermark never advances mid-stream, no "
        "row is late, and complete-mode output equals the full batch "
        "aggregation — which IS SQL-expressible. The late-drop path "
        "itself is exercised with multi-batch input in "
        "tests/test_streaming.py.",
)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            ts_str(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_completion(agg)


@register(
    "q_stream_stateful_custom",
    oracle="""
WITH agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purchases
  FROM events GROUP BY user_id
),
last AS (
  SELECT user_id, event_type AS last_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1
)
SELECT a.user_id, a.n_events, a.n_purchases, l.last_type
FROM agg a JOIN last l ON l.user_id = a.user_id
""",
    doc="Per-user custom state machine (applyInPandasWithState in the "
        "streaming form, tests/test_streaming.py): running event count, "
        "purchase count, and last event type per user. The batch twin "
        "here computes the same final state declaratively; the oracle is "
        "its gaps-free SQL equivalent (max_by ≡ ROW_NUMBER-1 on "
        "(ts, event_id) DESC).",
)
def q_stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "n_purchases"
        ),
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("last_type"),
    )


def _split_views_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return v, p


def _interval_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Each purchase joined to the same user's views in the preceding hour
    (inclusive both ends). The time-bound condition is what makes this
    join streamable: state on both sides is evicted once the watermark
    passes the interval."""
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "view_id",
        ts_str("purchase_ts", _TS_FMT).alias("purchase_ts"),
        ts_str("view_ts", _TS_FMT).alias("view_ts"),
    )


@register(
    "q_stream_join",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       STRFTIME(p.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       STRFTIME(v.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND v.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL '1 hour'
 AND v.ts::TIMESTAMP <= p.ts::TIMESTAMP
""",
    doc="Stream-stream interval join (batch twin): every purchase joined "
        "to the same user's views within the preceding hour. The "
        "streaming form (tests/test_streaming.py) watermarks BOTH sides "
        "and relies on the interval bound for state eviction — the only "
        "join shape whose state is provably bounded on two unbounded "
        "inputs.",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    v, p = _split_views_purchases(load_table(spark, sf_dir, "events"))
    return _interval_join(v, p)


# ---------------------------------------------------------------------------
# foreachBatch upsert: the production sink pattern for "keep the latest
# state per key in a queryable table" (Kafka -> Delta/Iceberg MERGE in the
# wild; plain parquet state versions here). Each micro-batch reduces to
# per-user (latest event, count, exact fixed-point value sum) and merges
# into the previous state — so state size is |keys|, never |events|, and
# the merge is a keyed shuffle of two |keys|-sized tables.
# ---------------------------------------------------------------------------

_FP_UPSERT = 1_000_000  # fixed-point scale (matches registry.dsum)


def _batch_user_state(batch: DataFrame) -> DataFrame:
    """Reduce one event frame to per-user upsert state."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
        )
    )
    agg = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * _FP_UPSERT).cast("long")).alias(
            "sum_fp"
        ),
    )
    return latest.join(agg, "user_id")


def _merge_user_state(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Upsert-merge two state tables: newest event wins, counts/sums add."""
    from pyspark.sql import Window

    u = prev.unionByName(cur)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts"), F.desc("last_event_id")
    )
    latest = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "last_ts", "last_event_id", "last_type")
    )
    sums = u.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_fp").alias("sum_fp"),
    )
    return latest.join(sums, "user_id")


def _present_user_state(state: DataFrame) -> DataFrame:
    return state.select(
        "user_id",
        ts_str(F.col("last_ts"), _TS_FMT).alias("last_ts"),
        "last_type",
        "n_events",
        (F.col("sum_fp").cast("double") / _FP_UPSERT).alias("sum_value"),
    )


@register(
    "q_stream_upsert",
    oracle=f"""
WITH e AS (
  SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value
  FROM events
),
latest AS (
  SELECT user_id, ts, event_type FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM e) t
  WHERE rn = 1
),
agg AS (
  SELECT user_id, COUNT(*) AS n_events, {SQL_DSUM('value')} AS sum_value
  FROM e GROUP BY user_id
)
SELECT l.user_id,
       STRFTIME(l.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       l.event_type AS last_type,
       a.n_events, a.sum_value
FROM latest l JOIN agg a USING (user_id)
""",
    doc="foreachBatch upsert (batch twin): latest-event-per-user state "
        "table — last event time/type + event count + exact value sum. "
        "The streaming form (run_foreachbatch_upsert) reduces each "
        "micro-batch to per-key state and MERGEs it into the previous "
        "state snapshot, the Structured-Streaming analogue of a MERGE "
        "INTO sink; state stays |keys|-sized regardless of stream "
        "length. tests/test_streaming.py asserts stream == batch twin "
        "and exercises the two-batch merge path explicitly.",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _present_user_state(_batch_user_state(ev))


def make_upsert_loop(spark: SparkSession, run_dir: str):
    """The foreachBatch upsert closure + its batch counter. The per-user
    state is the ``state`` ledger of a :class:`VersionedState`: each
    batch recovers the state committed strictly before it, merges its
    own per-user reduction into it and commits the merged table whole.
    RESTART-SAFE like the crawl loop: a fresh closure on the same
    ``run_dir`` merges into what the failed run committed."""
    vs = VersionedState(spark, run_dir, ledgers=("state",))
    n_batches = [0]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        cur = _batch_user_state(batch_df)
        if vs.recover(batch_id):
            cur = _merge_user_state(vs.read("state", cur), cur)
        vs.commit({"state": cur})

    return upsert, n_batches


def read_upsert_state(spark: SparkSession, run_dir: str) -> DataFrame:
    """The newest committed state of an upsert loop, presented."""
    last = _versions(run_dir, "commit_v")[-1]
    return _present_user_state(
        spark.read.parquet(os.path.join(run_dir, f"state_v{last}"))
    )


def run_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form: the upsert loop over the events stream; returns
    the final state."""
    run_dir = tempfile.mkdtemp(
        prefix="upsert_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    upsert, n_batches = make_upsert_loop(spark, run_dir)
    q = (
        load_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert n_batches[0], "foreachBatch never ran"
    out = read_upsert_state(spark, run_dir)
    # materialize before the scratch dir is removed
    rows = out.collect()
    shutil.rmtree(run_dir, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def _dim_enriched(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: events broadcast-joined to the customer
    dimension (user_id == c_custkey in the fixture's id space), then a
    1-hour tumbling roll-up per market segment."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    return (
        events.join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )
        .select(
            ts_str(F.col("w.start"), _TS_FMT).alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_dim_join",
    oracle=f"""
SELECT STRFTIME(TIME_BUCKET(INTERVAL '1 hour', e.ts::TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       c.c_mktsegment,
       COUNT(*) AS n_events,
       {SQL_DSUM('e.value', 4)} AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
    doc="Stream-static dimension join (batch twin): the enrich-then-"
        "aggregate shape every streaming pipeline runs — an unbounded "
        "event stream joined to a slowly-changing dimension table and "
        "rolled up per segment in tumbling windows. In Structured "
        "Streaming the static side is re-broadcast per micro-batch (no "
        "state, no watermark needed for the join itself — only the "
        "windowed agg holds state), so dimension updates between "
        "micro-batches are picked up automatically; the stream == batch "
        "equality is asserted in tests/test_streaming.py. At 100 TB/day "
        "the dimension stays broadcast-sized by definition (it is the "
        "small side); the stateful window agg is bounded by "
        "|windows × segments|.",
)
def q_stream_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dim_enriched(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "q_stream_join_outer",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       STRFTIME(p.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       v.event_id IS NULL AS unmatched
FROM events p
LEFT JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL '1 hour'
 AND v.ts::TIMESTAMP <= p.ts::TIMESTAMP
WHERE p.event_type = 'purchase'
""",
    doc="Stream-stream LEFT OUTER interval join (batch twin): every "
        "purchase joined to the same user's preceding-hour views, and "
        "purchases with NO qualifying view still surface (null view_id, "
        "unmatched flag) — the attribution query where losing "
        "view-less conversions silently would corrupt the funnel. In "
        "the streaming form both sides are watermarked and the outer "
        "(null-extended) rows are emitted only when the watermark "
        "passes purchase_ts + interval — i.e. when Spark can PROVE no "
        "matching view can still arrive — which is exactly the state-"
        "eviction point, so state stays bounded by the interval width "
        "on two unbounded inputs. The left-side filter lives OUTSIDE "
        "the join condition (inside it, a left join would silently "
        "degrade to preserving non-purchases).",
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    v, p = _split_views_purchases(load_table(spark, sf_dir, "events"))
    joined = p.join(
        v,
        (F.col("user_id") == F.col("p_user_id"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
        )
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "left",
    )
    return joined.select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "view_id",
        ts_str("purchase_ts", _TS_FMT).alias("purchase_ts"),
        F.col("view_id").isNull().alias("unmatched"),
    )


def load_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as an unbounded stream (file source stands in for a
    doc-ingest feed)."""
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _minhash_bands(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Streaming MinHash→LSH band table: (doc_id, text) to one row per
    (doc_id, *carry, band, sig), hash-identical to the batch
    ``dedup._minhash_band_table``. The 32 minima are per-row
    ``array_min`` over a ``transform`` rather than the batch groupBy:
    Structured Streaming allows one aggregation level, and the band
    bucket count uses it. ``carry`` columns (e.g. an event-time column
    for the watermarked variant) pass through untouched."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        NUM_PERM,
        _band_table,
        _md5_int,
        _mh_perm_sql,
        _shingled,
    )

    hs = _shingled(docs, "doc_id", "text", carry).select(
        "doc_id",
        *carry,
        F.transform("ss", lambda s: _md5_int(s, 7)).alias("hs"),
    )
    mh = hs.selectExpr(
        "doc_id",
        *carry,
        *[
            f"array_min(transform(hs, h -> {_mh_perm_sql(p, 'h')})) AS mh{p}"
            for p in range(NUM_PERM)
        ],
    )
    return _band_table(mh, carry)


def _bucket_counts(bands: DataFrame, *keys) -> DataFrame:
    """The one streaming aggregation of both MinHash keys: members and
    min(doc_id) representative per (*keys, band, sig) bucket."""
    return bands.groupBy(*keys, "band", "sig").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("rep"),
    )


def _bucket_stats(buckets: DataFrame, *keys) -> DataFrame:
    """Per-``keys`` LSH collision stats of a drained bucket table:
    bucket count, multi-member buckets, docs in them, and the least
    representative of a multi-member bucket."""
    multi = F.col("n_docs") > 1
    return buckets.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(multi.cast("long")).alias("n_multi_buckets"),
        F.sum(
            F.when(multi, F.col("n_docs")).otherwise(F.lit(0).cast("long"))
        ).alias("n_docs_in_multi"),
        F.min(F.when(multi, F.col("rep"))).alias("first_rep"),
    )


def _bucket_stats_sql(keys: list[str]) -> str:
    """SQL twin of :func:`_bucket_stats` over a ``buckets`` CTE with
    (n_docs, rep) columns, grouped and ordered by ``keys``."""
    pos = ", ".join(str(i + 1) for i in range(len(keys)))
    return f"""SELECT {", ".join(keys)},
       COUNT(*) AS n_buckets,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_buckets,
       CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT)
         AS n_docs_in_multi,
       MIN(CASE WHEN n_docs > 1 THEN rep END) AS first_rep
FROM buckets
GROUP BY {pos} ORDER BY {pos}
"""


def _stream_minhash_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _minhash_bands_sql,
    )

    return f"""
WITH {_minhash_bands_sql()},
buckets AS (
  SELECT band, sig, COUNT(*) AS n_docs, MIN(doc_id) AS rep
  FROM bands GROUP BY band, sig
)
{_bucket_stats_sql(["band"])}"""


@register(
    "q_stream_dedup_minhash",
    oracle=_stream_minhash_oracle(),
    doc="STREAMING near-dup candidate detection (round 9): documents "
        "stream in, and the full MinHash pipeline runs INSIDE the "
        "stream with zero pre-aggregations — shingles, the 28-bit md5 "
        "base hash, and all 32 universal-hash minima are higher-order "
        "array expressions per row (Structured Streaming allows one "
        "aggregation level, so the per-doc groupBy minhash of the "
        "batch twin q_dedup_near_minhash becomes F.array_min over a "
        "transform — same constants, same arithmetic, hash-identical "
        "signatures), leaving the single streaming aggregation for the "
        "LSH band buckets: groupBy(band, sig) counting members and "
        "electing min(doc_id) as the deterministic cluster "
        "representative (arrival-order independent — exactly-once "
        "replayable). The drained bucket table compacts to per-band "
        "collision stats. At 100 TB the state is one row per occupied "
        "band bucket (bounded by corpus near-dup structure, the same "
        "Σ|bucket| the batch LSH bounds); for unbounded feeds, "
        "q_stream_dedup_minhash_ttl evicts finalized event-time "
        "windows from state under a watermark.",
)
def q_stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _bucket_counts(_minhash_bands(load_docs_stream(spark, sf_dir)))
    buckets = run_to_completion(agg, output_mode="complete")
    return _bucket_stats(buckets, "band").orderBy("band")


# ---------------------------------------------------------------------------
# Watermarked MinHash LSH dedup — bounded state (VERDICT r9 "Next round" #3)
# ---------------------------------------------------------------------------

# Deterministic synthetic event time for the documents table (which has
# no timestamp column): doc_id maps onto a 4-hour ingest span, minute
# granularity. Every sf has >= 240 docs, so all 240 residues — and all
# four 1-hour windows — are occupied and max(ev_ts) is the same
# 03:59:00 at every scale.
_MH_TTL_BASE = 1_704_067_200  # 2024-01-01T00:00:00Z
_MH_TTL_SPAN_MIN = 240
_MH_TTL_DELAY_MIN = 30


def _mh_ttl_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked streaming aggregation (shared by the contract key
    and the state-eviction test): band buckets keyed by a 1-hour
    event-time window, 30-minute watermark, APPEND mode — a window's
    bucket state is emitted once finalized and then DROPPED from the
    store, so state is bounded by the buckets of the open windows, not
    the whole feed (the TTL posture q_stream_dedup_minhash's doc
    promises for production)."""
    docs = load_docs_stream(spark, sf_dir).withColumn(
        "ev_ts",
        F.timestamp_seconds(
            F.lit(_MH_TTL_BASE)
            + (F.col("doc_id") % _MH_TTL_SPAN_MIN) * 60
        ),
    ).withWatermark("ev_ts", f"{_MH_TTL_DELAY_MIN} minutes")
    bands = _minhash_bands(docs, carry=("ev_ts",))
    return _bucket_counts(bands, F.window("ev_ts", "1 hour").alias("w"))


def _stream_minhash_ttl_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _minhash_bands_sql,
    )

    stats = _bucket_stats_sql(
        ["STRFTIME(w_start, '%Y-%m-%d %H:%M:%S') AS window_start", "band"]
    )
    return f"""
WITH ts_docs AS (
  SELECT doc_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (doc_id % {_MH_TTL_SPAN_MIN}) * INTERVAL 1 MINUTE AS ev_ts
  FROM documents
),
wm AS (
  SELECT MAX(ev_ts) - INTERVAL {_MH_TTL_DELAY_MIN} MINUTE AS w FROM ts_docs
),
{_minhash_bands_sql()},
buckets AS (
  SELECT TIME_BUCKET(INTERVAL '1 hour', t.ev_ts) AS w_start,
         b.band, b.sig, COUNT(*) AS n_docs, MIN(b.doc_id) AS rep
  FROM bands b JOIN ts_docs t ON t.doc_id = b.doc_id
  WHERE TIME_BUCKET(INTERVAL '1 hour', t.ev_ts) + INTERVAL 1 HOUR
        <= (SELECT w FROM wm)
  GROUP BY 1, 2, 3
)
{stats}"""


@register(
    "q_stream_dedup_minhash_ttl",
    oracle=_stream_minhash_ttl_oracle(),
    doc="STREAMING MinHash LSH dedup WITH state eviction (VERDICT r9 "
        "#3, closing q_stream_dedup_minhash's production caveat): band "
        "buckets are keyed by a 1-hour event-time window over a "
        "deterministic doc_id-derived event time, a 30-minute "
        "watermark bounds lateness, and APPEND output mode means a "
        "window's buckets are emitted exactly once — when the "
        "watermark passes window end — and their state rows are "
        "REMOVED from the store (asserted against the state-operator "
        "metrics in tests/test_streaming.py::"
        "test_minhash_ttl_state_evicts: numRowsRemoved > 0 and final "
        "state = open-window buckets only). State is therefore bounded "
        "by the bucket count of the windows inside the watermark "
        "horizon — O(near-dup structure per window), independent of "
        "total feed length: the 100 TB unbounded-ingest posture. The "
        "last (never-finalized) window stays in state and is NOT "
        "emitted; the oracle applies the same rule declaratively "
        "(w_end <= max(ev_ts) - 30 min), so in-window results are "
        "verified identical to the batch computation.",
)
def q_stream_dedup_minhash_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _mh_ttl_stream(spark, sf_dir)
    buckets = run_to_completion(agg, output_mode="append")
    window_start = ts_str(F.col("w.start"), _TS_FMT).alias("window_start")
    return _bucket_stats(buckets, window_start, "band").orderBy(
        "window_start", "band"
    )


# ---------------------------------------------------------------------------
# foreachBatch incremental near-dedup — the production crawl loop
# (VERDICT r10 "Next round" #4): each micro-batch PROBES the standing
# LSH index built from every previous batch, emits its decision rows,
# then APPENDS its own bands and docs to the index state. Composes the
# two-table API (operators.dedup.incremental_near_dedup) with the
# foreachBatch upsert pattern above — end-to-end, this is the recurring
# crawl pipeline whose per-batch cost is proportional to the batch.
# ---------------------------------------------------------------------------


def _docs_two_batch_stream_dir(
    spark: SparkSession, sf_dir: str, split: int,
    columns: tuple = ("doc_id", "text"),
) -> str:
    """Materialize documents as a TWO-file stream directory: doc_id <
    ``split`` in the older file (the first crawl = the standing index),
    the rest in the newer one — the 2-batch specialization of
    :func:`_docs_multi_batch_stream_dir` (the file names are part of
    the tests' contract)."""
    return _docs_multi_batch_stream_dir(
        spark, sf_dir, (split,), columns=columns,
        names=("0_index", "1_crawl"),
    )


def run_foreachbatch_incremental_dedup(
    spark: SparkSession, sf_dir: str, split: int | None = None
) -> DataFrame:
    """Run the crawl loop over a 2-micro-batch documents stream and
    return the decision rows of every batch that probed existing state
    (i.e. batch 2's crawl-vs-index decisions). State between batches is
    the index — parquet band + doc-text tables — so the index bands are
    never recomputed and only the index docs a candidate pair names are
    shingled again; the probe itself is _incremental_decisions, the same
    core the batch two-table API uses."""
    from netcdf4_variable_streamer_spark.operators.dedup import _INC_SPLIT
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    split = _INC_SPLIT if split is None else split
    stream_dir = _docs_two_batch_stream_dir(spark, sf_dir, split)
    run_dir = tempfile.mkdtemp(
        prefix="crawl_state_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    crawl, n_batches = make_crawl_loop(spark, run_dir)
    return _drain_feed(spark, stream_dir, run_dir, crawl, n_batches, 2)


def make_crawl_loop(spark: SparkSession, run_dir: str):
    """The foreachBatch crawl closure + its batch counter. State is
    the ``bands``/``docs`` index pair in a :class:`VersionedState`: the
    LSH band table and the docs' own (doc_id, text). Each batch probes
    the index committed by every earlier batch, shingling only the
    index docs its candidate pairs name, then writes only its own bands
    and docs, so the bytes a batch writes are proportional to the
    batch, not to the stream's age (apart from a compacting batch every
    _COMPACT_AFTER + 1). RESTART-SAFE: nothing is cached in memory —
    every call recovers the committed state strictly older than its
    batch from disk, so a restarted driver (or a fresh closure) resumes
    with exactly the state the failed run had committed. Decisions
    write to ``dec_v{N}`` with overwrite, so a replayed micro-batch is
    idempotent; the exactly-once story is versioned paths + overwrite
    + marker last, not the checkpoint alone."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        MAX_BUCKET,
        _incremental_decisions,
        _minhash_band_table,
        _shingled,
    )

    vs = VersionedState(spark, run_dir)
    n_batches = [0]

    def crawl(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        b = batch_df.select("doc_id", "text")
        with batch_cache() as cache:
            # the shingle pass feeds the probe, the verify and the bands
            # write
            batch_sh = cache(_shingled(b, "doc_id", "text"))
            new_bands = _minhash_band_table(batch_sh)
            frames = {"bands": new_bands, "docs": b}
            if vs.recover(batch_id):
                idx_bands = vs.read("bands", new_bands)
                idx_docs = vs.read("docs", b)
                frames = {
                    "dec": _incremental_decisions(
                        idx_bands, idx_docs, batch_sh, b.select("doc_id"),
                        qthr=6000, max_bucket=MAX_BUCKET,
                    ),
                    "bands": vs.rows(idx_bands, new_bands),
                    "docs": vs.rows(idx_docs, b),
                }
            vs.commit(frames)

    return crawl, n_batches


def read_crawl_decisions(spark: SparkSession, run_dir: str) -> DataFrame:
    """Union of the ``dec_v{N}`` of every version a loop committed under
    ``run_dir``, in version order. A torn version's decisions (no
    ``commit_v{N}`` marker) are not read."""
    dec_dirs = [
        p
        for v in _versions(run_dir, "commit_v")
        if os.path.isdir(p := os.path.join(run_dir, f"dec_v{v}"))
    ]
    if not dec_dirs:
        raise ValueError(f"no crawl decisions under {run_dir}")
    return spark.read.parquet(*dec_dirs)


def _drain_feed(
    spark: SparkSession,
    feed: str,
    run_dir: str,
    body,
    n_batches: list,
    expected: int,
) -> DataFrame:
    """Run the foreachBatch closure ``body`` over the parquet ``feed``
    directory, one file per micro-batch (availableNow), check that it
    saw ``expected`` batches, and return the decisions it committed
    under ``run_dir`` as a driver-side frame. Removes both
    directories."""
    schema = spark.read.parquet(feed).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(body)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert n_batches[0] == expected, (
        f"expected {expected} micro-batches, got {n_batches[0]}"
    )
    out = read_crawl_decisions(spark, run_dir).orderBy("doc_id")
    rows = out.collect()  # materialize before the directories go
    schema_out = out.schema
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(feed, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out)


def _stream_inc_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _inc_minhash_oracle,
    )

    return _inc_minhash_oracle()


@register(
    "q_stream_dedup_incremental",
    oracle=_stream_inc_oracle(),
    doc="STREAMING incremental near-dedup (VERDICT r10 #4) — the "
        "production crawl pipeline end-to-end: a 2-micro-batch "
        "documents stream (batch 1 = the standing corpus, batch 2 = "
        "the new crawl) drives a foreachBatch loop in which every "
        "batch probes the PERSISTED index state (the parquet band + "
        "doc-text tables every prior batch committed; only candidate "
        "partners are re-shingled, per pair) through the same "
        "_incremental_decisions core as the batch two-table API, then "
        "appends only its own bands and docs as a new delta. "
        "Batch 2's decisions must therefore equal the batch twin "
        "q_dedup_minhash_incremental exactly — the oracle IS that "
        "query's SQL. Per-batch compute AND per-batch writes are "
        "proportional to the batch (a base every 17th batch compacts "
        "the deltas): the 100 TB recurring-crawl posture, where the "
        "index is amortized across crawls and never rewritten. "
        "tests/test_streaming.py::test_incremental_dedup_crawl_loop "
        "additionally asserts batch-2-vs-batch-1 dedup decisions and "
        "stream == batch-twin equality.",
)
def q_stream_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_incremental_dedup(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming SUBSTRING dedup via winnow anchors (round 16, VERDICT r15
# #4): the crawl loop's missing granularity. The minhash loop above
# catches near-duplicate DOCUMENTS; this loop catches copied PASSAGES
# crawl-vs-index, with the anchored posture the batch keys proved:
# each micro-batch winnow-anchors only ITS OWN rows (map-side, ~1/8 of
# span positions), probes the PERSISTED anchor index to flag docs,
# recomputes exact spans over the flagged subset only, and cuts spans
# matching the persisted span-cluster index — batch-proportional by
# construction. State = two parquet tables appended per batch exactly
# like the minhash loop's bands/docs: `anch_vN` (the winnowed anchor
# index, the `bands` analogue) and `spcl_vN` (the distinct span-cluster
# set, the exact-side index the probe matches spans against), in the
# same VersionedState.
# ---------------------------------------------------------------------------


def _substring_probe(
    b: DataFrame, b_anch: DataFrame, idx_anch: DataFrame, idx_spcl: DataFrame
) -> DataFrame:
    """Decision rows of batch ``b`` against an anchor/span-cluster index:
    the batch anchors ``b_anch`` flag docs sharing an index anchor,
    exact spans are recomputed over the flagged docs only, and the
    spans matching ``idx_spcl`` (minus the frequent-n-gram cap) are
    cut."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _cap_excluded_cut,
        _rewrite_emit,
        _span_table,
    )

    flagged = (
        b_anch.join(
            F.broadcast(idx_anch.select("cluster").distinct()), "cluster"
        )
        .select("doc_id")
        .distinct()
    )
    fspans = _span_table(b.join(F.broadcast(flagged), "doc_id"))
    hits = fspans.join(idx_spcl, "cluster")
    return _rewrite_emit(_cap_excluded_cut(hits), b)


def make_substring_crawl_loop(spark: SparkSession, run_dir: str):
    """foreachBatch closure for anchored substring dedup — the
    :func:`make_crawl_loop` protocol (a :class:`VersionedState`, each
    batch writing only its own rows; idempotent per-batch decision
    overwrite) applied to the winnow-anchor index pair ``anch``/
    ``spcl``. The span-cluster index stays a SET: a batch's ``spcl``
    delta is its clusters minus the index."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _span_table,
        _winnow_anchors_of,
    )

    vs = VersionedState(spark, run_dir)
    n_batches = [0]

    def crawl(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        b = batch_df.select("doc_id", "text")
        with batch_cache() as cache:
            # the winnow-anchor pass feeds the probe AND the anch write
            b_anch = cache(_winnow_anchors_of(b))
            b_spcl = _span_table(b).select("cluster").distinct()
            frames = {"anch": b_anch, "spcl": b_spcl}
            if vs.recover(batch_id):
                idx_anch = vs.read("anch", b_anch)
                idx_spcl = vs.read("spcl", b_spcl)
                frames = {
                    "dec": _substring_probe(b, b_anch, idx_anch, idx_spcl),
                    "anch": vs.rows(idx_anch, b_anch),
                    # duplicate clusters would double-count hits in
                    # the frequent-n-gram cap
                    "spcl": vs.rows(
                        idx_spcl,
                        b_spcl.join(idx_spcl, "cluster", "left_anti"),
                    ),
                }
            vs.commit(frames)

    return crawl, n_batches


def run_foreachbatch_substring_anchored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-micro-batch run of the substring crawl loop split at the
    decontam fixture boundary, so batch 2's decisions must equal the
    batch twin ``q_dedup_substring_decontam_anchored`` exactly."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _SXC_SPLIT,
    )
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    stream_dir = _docs_two_batch_stream_dir(spark, sf_dir, _SXC_SPLIT)
    run_dir = tempfile.mkdtemp(
        prefix="sxc_state_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp"),
    )
    crawl, n_batches = make_substring_crawl_loop(spark, run_dir)
    return _drain_feed(spark, stream_dir, run_dir, crawl, n_batches, 2)


def _stream_sxc_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _SXC_ANCHORED_ORACLE,
    )

    return _SXC_ANCHORED_ORACLE


@register(
    "q_stream_dedup_substring_anchored",
    oracle=_stream_sxc_oracle(),
    doc="STREAMING substring dedup, anchored posture (round 16, "
        "VERDICT r15 #4) — the crawl loop's last missing granularity: "
        "the minhash loop catches near-duplicate DOCUMENTS per batch; "
        "this loop catches copied PASSAGES crawl-vs-index. Each "
        "micro-batch (1) winnow-anchors only ITS OWN rows map-side "
        "(~1/8 of span positions — the round-15 HOF build), (2) "
        "probes the PERSISTED anchor index to flag its contaminated "
        "docs, (3) recomputes exact spans over the flagged subset "
        "only, (4) cuts spans matching the persisted span-cluster "
        "index (minus the frequent-n-gram cap), and (5) appends its "
        "anchors and its clusters new to the index as a delta of the "
        "versioned parquet state under the commit-marker-last "
        "protocol (idempotent decision "
        "overwrite; restart re-proven with the "
        "stage armed in tests/test_streaming.py::"
        "test_substring_crawl_loop_restart). Per-batch probe cost is "
        "proportional to the BATCH (batch anchors x broadcast index "
        "clusters, exact spans over flagged docs only), and so are "
        "its writes: it adds only its own rows to the index, which is "
        "amortized across crawls like the minhash index. A 2-batch "
        "run split at the decontam fixture "
        "boundary must reproduce the batch twin "
        "q_dedup_substring_decontam_anchored EXACTLY — the oracle IS "
        "that key's SQL.",
)
def q_stream_dedup_substring_anchored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_substring_anchored(spark, sf_dir)


# ---------------------------------------------------------------------------
# Substring crawl loop WITH TTL EVICTION (round 16) — the bounded-state
# twin, mirroring what q_stream_dedup_minhash_ttl does for the minhash
# loop: the anchor/cluster index is kept PER BATCH and probes see only
# the last `ttl` batches; older batch indexes are DELETED from disk.
# State is bounded by the TTL horizon's corpus slice, independent of
# total feed length — the unbounded-ingest posture for passage-level
# dedup (a crawl pipeline that only deduplicates against the trailing
# N crawls, the common freshness-windowed production policy).
# ---------------------------------------------------------------------------

_SXC_TTL_SPLITS = (150, 400)  # 3 batches: [0,150), [150,400), [400,…)


def make_substring_ttl_loop(
    spark: SparkSession, run_dir: str, ttl: int = 1
):
    """foreachBatch closure: the :func:`make_substring_crawl_loop` index
    pair kept per batch (each batch writes its own ``anch_v{N}`` /
    ``spcl_v{N}``) in a :class:`VersionedState` with retention horizon
    ``ttl``: a batch probes the union of the last ``ttl`` committed
    batches only, and its commit deletes the batch indexes older than
    the horizon."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _span_table,
        _winnow_anchors_of,
    )

    vs = VersionedState(spark, run_dir, ttl=ttl)
    n_batches = [0]

    def crawl(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        b = batch_df.select("doc_id", "text")
        with batch_cache() as cache:
            # the winnow-anchor pass feeds the probe AND the anch write
            b_anch = cache(_winnow_anchors_of(b))
            b_spcl = _span_table(b).select("cluster").distinct()
            frames = {"anch": b_anch, "spcl": b_spcl}
            if vs.recover(batch_id):
                frames["dec"] = _substring_probe(
                    b, b_anch, vs.read("anch", b_anch),
                    vs.read("spcl", b_spcl).distinct(),
                )
            vs.commit(frames)

    return crawl, n_batches


def run_foreachbatch_substring_ttl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three-micro-batch run of the TTL substring loop (splits at
    {_SXC_TTL_SPLITS}): batch 2 probes batch 1 ONLY (batch 0 evicted
    with ttl=1), so each batch's decisions equal the range-
    parameterized anchored-decontam oracle at its retained window."""
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    stream_dir = _docs_multi_batch_stream_dir(
        spark, sf_dir, _SXC_TTL_SPLITS, columns=("doc_id", "text")
    )
    run_dir = tempfile.mkdtemp(
        prefix="sxcttl_state_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp"),
    )
    crawl, n_batches = make_substring_ttl_loop(spark, run_dir, ttl=1)
    return _drain_feed(spark, stream_dir, run_dir, crawl, n_batches, 3)


def _stream_sxc_ttl_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _sxc_anchored_ranges_oracle,
    )

    s1, s2 = _SXC_TTL_SPLITS
    big = 1 << 40
    return f"""
SELECT * FROM ({_sxc_anchored_ranges_oracle((0, s1), (s1, s2))})
UNION ALL
SELECT * FROM ({_sxc_anchored_ranges_oracle((s1, s2), (s2, big))})
ORDER BY doc_id
"""


@register(
    "q_stream_dedup_substring_ttl",
    oracle=_stream_sxc_ttl_oracle(),
    doc="STREAMING substring dedup WITH TTL EVICTION (round 16) — "
        "the bounded-state twin of q_stream_dedup_substring_anchored, "
        "mirroring what the minhash loop's TTL key proves for "
        "document-level dedup: the winnow-anchor/span-cluster index "
        "is kept PER BATCH as the versions of a VersionedState with "
        "a retention horizon: each batch probes only the last ttl=1 "
        "committed versions, and its commit DELETES the indexes of "
        "older versions from disk, keeping ttl+1 so a replayed batch "
        "still finds its probe window (eviction asserted on the real "
        "directories in "
        "tests/test_streaming.py::test_substring_ttl_loop_evicts). "
        "State is bounded by the TTL horizon's corpus slice — "
        "independent of total feed length, the freshness-windowed "
        "production policy (dedupe only against the trailing N "
        "crawls). A 3-batch run (splits at 150/400) makes eviction "
        "OBSERVABLE: batch 2's probe sees batch 1 only, so spans "
        "duplicated from evicted batch-0 docs are deliberately NOT "
        "cut — and each batch's decisions equal the range-"
        "parameterized anchored-decontam oracle at exactly its "
        "retained window (the oracle IS that pair of queries). "
        "Per-batch probe cost is batch-proportional as in the "
        "unbounded twin; the index build is identical.",
)
def q_stream_dedup_substring_ttl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_substring_ttl(spark, sf_dir)


# ---------------------------------------------------------------------------
# Watermarked per-window top-k heavy hitters (round 11) — the streaming
# "trending now" shape: APPEND-mode windowed counts whose state is
# dropped as windows finalize, ranked top-k AFTER the stream (ranking
# is not a streaming aggregation; it runs over the bounded emitted
# window table, |windows| x |event types| rows).
# ---------------------------------------------------------------------------

_TOPK_WIN_DELAY_MIN = 30
_TOPK_WIN_K = 3


@register(
    "q_stream_topk_windowed",
    oracle=f"""
WITH e AS (SELECT ts::TIMESTAMP AS ts, event_type, value FROM events),
wm AS (
  SELECT MAX(ts) - INTERVAL {_TOPK_WIN_DELAY_MIN} MINUTE AS w FROM e
),
agg AS (
  SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS w_start,
         event_type,
         COUNT(*) AS n_events,
         {SQL_DSUM('value')} AS sum_value
  FROM e GROUP BY 1, 2
),
fin AS (
  SELECT * FROM agg
  WHERE w_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start
            ORDER BY n_events DESC, event_type ASC) AS rn
  FROM fin
)
SELECT STRFTIME(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, n_events, sum_value, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_TOPK_WIN_K}
ORDER BY window_start, rn
""",
    doc="STREAMING per-window top-k heavy hitters (round 11): 1-hour "
        "event-time windows over the events feed with a 30-minute "
        "watermark in APPEND mode — a window's (event_type, count, "
        "exact fixed-point value sum) rows are emitted exactly once "
        "when the watermark passes window end and their state rows "
        "are dropped, so state is bounded by |event types| x open "
        "windows regardless of feed length. The top-3-per-window rank "
        "runs AFTER the stream over the emitted window table (ranking "
        "is not a legal streaming aggregation; the emitted table is "
        "|windows| x |types|, bounded). The last never-finalized "
        "window is withheld by the watermark; the oracle applies the "
        "same rule declaratively (w_end <= max(ts) - 30 min), so "
        "in-window results verify identical to the batch computation "
        "— the q_stream_dedup_minhash_ttl discipline on the classic "
        "trending-topics query.",
)
def q_stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events_stream(spark, sf_dir).withWatermark(
        "ts", f"{_TOPK_WIN_DELAY_MIN} minutes"
    )
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )
    emitted = run_to_completion(agg, output_mode="append")
    wr = Window.partitionBy("w").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        emitted.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _TOPK_WIN_K)
        .select(
            ts_str(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("window_start", "rn")
    )


# ---------------------------------------------------------------------------
# Streaming quality gate (round 12) — the perplexity filter deployed the
# way the crawl-dedup loop is: the LM trains ONCE on the reference
# micro-batch, persists as plain parquet (bgc + ctx + vocab size), and
# every later crawl batch is gated at batch-proportional cost without
# ever touching the train text again.
# ---------------------------------------------------------------------------

_GATE_SPLIT = 400  # doc_id < split = reference corpus; >= split = crawl


def run_foreachbatch_quality_gate(
    spark: SparkSession, sf_dir: str, split: int | None = None
) -> DataFrame:
    """foreachBatch perplexity gate over a 2-micro-batch documents
    stream: batch 0 (the reference corpus) trains the bigram LM and
    persists it — bgc/ctx parquet + the vocab size; batch 1 (the
    crawl) loads the LM and writes keep/drop decisions. LM state on
    DISK is the restart contract, exactly like the crawl-dedup loop:
    a restarted driver finds the persisted LM and gates without
    retraining."""
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    split = _GATE_SPLIT if split is None else split
    stream_dir = _docs_two_batch_stream_dir(
        spark, sf_dir, split, columns=("doc_id", "text", "lang")
    )
    run_dir = tempfile.mkdtemp(
        prefix="gate_state_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    gate, n_batches = make_quality_gate(spark, run_dir)
    return _drain_feed(spark, stream_dir, run_dir, gate, n_batches, 2)


# The persisted LM tables' schemas: reading them with the schema given
# launches no schema-inference job.
_BGC_SCHEMA = "w1 STRING, w2 STRING, c_bg BIGINT"
_CTX_SCHEMA = "w1 STRING, c_u BIGINT"


def _publish_lm(
    spark: SparkSession, run_dir: str, bgc: DataFrame, vsz: int
) -> None:
    """Persist a trained bigram LM under ``run_dir``: the ``bgc`` table,
    its context table ``ctx``, then ``lm.json`` (the vocab size),
    published last through tmp + ``os.replace``. ctx is DERIVED from
    the written bgc — c_u(w1) = Σ_w2 c_bg(w1, w2) by definition (pinned
    in tests/test_llm_ops.py::test_ctx_derivable_from_bgc) — so it is
    a vocab-sized aggregate, not a second tokenize pass; it reads bgc
    back from parquet because persisting bgc and deriving ctx from the
    cache measured slower than this LM-sized round-trip."""
    _write_table(bgc, os.path.join(run_dir, "bgc"))
    _write_table(
        spark.read.schema(_BGC_SCHEMA)
        .parquet(os.path.join(run_dir, "bgc"))
        .groupBy("w1")
        .agg(
            F.coalesce(F.sum("c_bg"), F.lit(0)).alias("c_u")
        ),
        os.path.join(run_dir, "ctx"),
    )
    lm_meta = os.path.join(run_dir, "lm.json")
    with open(lm_meta + ".tmp", "w") as f:
        json.dump({"vsz": vsz}, f)
    os.replace(lm_meta + ".tmp", lm_meta)


def _load_lm(spark: SparkSession, run_dir: str):
    """The LM :func:`_publish_lm` persisted: ``(bgc, ctx, vsz)``."""
    with open(os.path.join(run_dir, "lm.json")) as f:
        vsz = json.load(f)["vsz"]
    return (
        spark.read.schema(_BGC_SCHEMA).parquet(os.path.join(run_dir, "bgc")),
        spark.read.schema(_CTX_SCHEMA).parquet(os.path.join(run_dir, "ctx")),
        vsz,
    )


def make_quality_gate(spark: SparkSession, run_dir: str):
    """The foreachBatch gate closure + its batch counter. The restart
    contract is on DISK by construction: the first micro-batch a
    run_dir ever sees trains + persists the LM (atomic lm.json
    publish last), and every batch after — in this process or a
    restarted one — loads the persisted LM and writes decisions to a
    versioned per-batch path with overwrite (idempotent replay), both
    committed through a :class:`VersionedState`."""
    from netcdf4_variable_streamer_spark.operators.text import (
        perplexity_decisions,
        perplexity_lm,
    )

    vs = VersionedState(spark, run_dir)
    n_batches = [0]

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        # reference path iff no version older than this batch is
        # committed OR the LM is unpublished: a replayed batch 0 (a
        # crash between the lm.json publish and the checkpoint commit)
        # retrains idempotently, never scores the reference corpus as a
        # crawl
        if not vs.recover(batch_id) or not os.path.exists(
            os.path.join(run_dir, "lm.json")
        ):
            # reference batch: train + persist the LM (train-linear,
            # once per corpus — never re-run for later crawls)
            bgc, _ctx, vsz = perplexity_lm(batch_df)
            vs.commit({}, lambda: _publish_lm(spark, run_dir, bgc, vsz))
            return
        vs.commit(
            {"dec": perplexity_decisions(*_load_lm(spark, run_dir), batch_df)}
        )

    return gate, n_batches


def _gate_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.text import _PPL_ORACLE

    return _PPL_ORACLE.format(
        train_where=f"WHERE doc_id < {_GATE_SPLIT}",
        score_where=f"WHERE doc_id >= {_GATE_SPLIT}",
    )


@register(
    "q_stream_quality_gate",
    oracle=_gate_oracle(),
    doc="STREAMING perplexity quality gate (round 12) — "
        "perplexity_filter deployed the way production gates a "
        "rolling crawl, composing the two-table API (VERDICT r11 #7) "
        "with the crawl-loop state posture: micro-batch 0 (the "
        "reference corpus, doc_id < 400) trains the bigram LM once "
        "and persists it as plain parquet (bgc + ctx) + the vocab "
        "size; micro-batch 1 (the crawl) loads the LM and emits "
        "keep/drop decisions with per-language integer-exact cutoffs "
        "over the scored batch. The oracle is the full two-corpus "
        "SQL — stream decisions must equal the batch computation "
        "exactly. Decisions write to versioned per-batch paths with "
        "overwrite (idempotent replay), and the LM on disk is the "
        "restart contract: a restarted driver gates without "
        "retraining. 100 TB: train-linear once, then every crawl "
        "batch costs two equi-joins + one doc agg on the batch only.",
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_foreachbatch_quality_gate(spark, sf_dir)


_BM_DELAY_MIN = 30
_BM_MASK = (
    "CASE WHEN user_id < 0 THEN "
    "CAST(raise_error('bitmap ops require user_id >= 0') AS BIGINT) "
    "ELSE shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)) END"
)


@register(
    "q_stream_distinct_bitmap",
    oracle=f"""
WITH e AS (SELECT ts::TIMESTAMP AS ts, user_id FROM events),
wm AS (
  SELECT MAX(ts) - INTERVAL {_BM_DELAY_MIN} MINUTE AS w FROM e
),
fin AS (
  SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS w_start, user_id
  FROM e
  WHERE TIME_BUCKET(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
        <= (SELECT w FROM wm)
)
SELECT STRFTIME(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT user_id // 62) AS BIGINT) AS n_words
FROM fin GROUP BY w_start ORDER BY window_start
""",
    doc="EXACT distinct users per streaming window (round 12): "
        "COUNT(DISTINCT) is illegal in streaming aggregations, and "
        "approx_count_distinct trades exactness — the production "
        "answer is the 62-bit BITMAP-WORD monoid (q_agg_bitmap_"
        "distinct) run AS the streaming aggregation: per (1-hour "
        "window, user_id div 62) bit_or state, APPEND-mode emission "
        "when the 30-minute watermark passes window end (state "
        "bounded by open windows x id-space/62 words, each row "
        "emitted exactly once), then popcount-sum over the emitted "
        "BOUNDED table. The never-finalized tail window is withheld "
        "by the watermark; the oracle applies the same rule "
        "declaratively and computes the distinct count DIRECTLY — so "
        "the bitmap path must be exact, not approximately right.",
)
def q_stream_distinct_bitmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_events_stream(spark, sf_dir).withWatermark(
        "ts", f"{_BM_DELAY_MIN} minutes"
    )
    words = ev.groupBy(
        F.window("ts", "1 hour").alias("w"),
        F.expr("user_id div 62").alias("word"),
    ).agg(F.bit_or(F.expr(_BM_MASK)).alias("bitmap"))
    emitted = run_to_completion(words, output_mode="append")
    return (
        emitted.groupBy("w")
        .agg(
            F.sum(F.expr("bit_count(bitmap)")).alias("n_users"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .select(
            ts_str(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_users",
            "n_words",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Streaming curation composite (round 13, VERDICT r12 #7) — quality gate
# + incremental exact dedup + token-budget sampling in ONE foreachBatch
# loop: the full production crawl shape. Batch 0 (the reference corpus)
# trains the LM and seeds the hash index + budget ledger; every crawl
# batch dedups against the persisted index, gates survivors through the
# persisted LM, scores what remains with the hashed classifier and cuts
# greedily against the per-language token budget REMAINING after all
# prior batches. All state (LM, hash index, budget ledger) is versioned
# parquet on disk — the restart contract the individual loops prove,
# composed.
# ---------------------------------------------------------------------------

_CUR_REF_SPLIT = 400  # doc_id < this = the reference corpus (batch 0)
_CUR_BATCH_SPLIT = 450  # crawl batch 1 = [400, 450); batch 2 = [450, inf)
_CUR_BUDGET = 700  # per-language token budget across ALL crawl batches


def _docs_multi_batch_stream_dir(
    spark: SparkSession, sf_dir: str, splits: tuple,
    columns: tuple = ("doc_id", "text"),
    names: tuple | None = None,
) -> str:
    """N-file stream directory: consecutive doc_id ranges delimited by
    ``splits`` (ascending), oldest first. With maxFilesPerTrigger=1
    the file source turns each file into its own micro-batch, oldest
    first (mtimes are forced 1000 s apart and the name prefix
    tie-breaks the same way). ``spark`` is accepted for signature
    parity with the other feed builders; the write is pure pyarrow.
    ``names`` overrides the per-file basenames (default
    ``{i}_part``)."""
    del spark  # unused — pure pyarrow write
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stream_dir = tempfile.mkdtemp(
        prefix="crawl_feed_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=list(columns))
    bounds = [None, *splits, None]
    files = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        part = t
        if lo is not None:
            part = part.filter(pc.greater_equal(part["doc_id"], lo))
        if hi is not None:
            part = part.filter(pc.less(part["doc_id"], hi))
        base = names[i] if names is not None else f"{i}_part"
        f = os.path.join(stream_dir, f"{base}.parquet")
        pq.write_table(part, f)
        files.append(f)
    now = os.stat(files[-1]).st_mtime
    for i, f in enumerate(files):
        ts = now - 1000 * (len(files) - i)
        os.utime(f, (ts, ts))
    return stream_dir


def make_curation_loop(
    spark: SparkSession,
    run_dir: str,
    *,
    decontam: bool | str = False,
):
    """The composed foreachBatch closure + its batch counter. Restart-
    safe exactly like :func:`make_crawl_loop` / :func:`make_quality_
    gate`: every batch recovers the committed hash index and budget
    ledger strictly older than itself from a :class:`VersionedState`,
    the LM is the once-persisted lm.json + bgc/ctx parquet, and
    decisions write to per-batch versioned paths with overwrite
    (idempotent replay). A crawl batch writes only the hashes its probe
    found no match for, so the index stays a set and the bytes a batch
    writes are proportional to the batch; the budget ledger has one
    row per language and is rewritten whole every batch.

    A crawl batch is ONE frame with one row per document, and every
    per-document decision is a flag column on it: nothing is filtered
    out and joined back by doc_id. Exact dedup (index probe + min-id
    window over ``h = md5(text)``) leaves the frame hash-partitioned by
    ``h``; the perplexity gate scores the survivors grouped by ``(h,
    doc_id, lang)`` and joins back on ``h`` alone (survivors are unique
    per non-NULL h), so neither adds an Exchange; the hashed classifier
    is a per-row projection; the budget cut is one ``lang`` window over
    all documents in which only eligible ones add tokens. The frame is
    cached once; the decisions, the new hashes and the ledger are
    projections of it. A stage only ever adds columns.

    ``decontam=True`` (alias ``"quarantine"``) adds the span-level
    eval-decontamination stage between dedup and the quality gate:
    batch 0 additionally persists the reference corpus's DISTINCT
    span-hash set (once, like the LM — eval sets are static), every
    crawl batch probes its dedup survivors' spans against it, and docs
    at or above the contamination-ppm threshold lose the ``decon_keep``
    flag before the gate sees them.

    ``decontam="rewrite"`` is the surgical posture instead: rather
    than dropping a contaminated document, every survivor span matching
    the persisted reference set is CUT (no keep-first — eval text must
    all go), under the same per-batch frequent-n-gram exclusion the
    batch key ``q_dedup_substring_decontam_rewrite`` applies, and the
    gate / classifier / budget stages all score the REWRITTEN text
    ``rtext``; decisions gain ``n_tokens_cut`` + ``rewritten_md5``
    (0 / NULL for docs dedup dropped before the stage saw them), while
    ``n_tokens`` stays the batch text's count and the budget counts the
    classifier's tokens of the rewritten text."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _SPAN_WS,
        _cap_excluded_cut,
        _cut_ranges_per_doc,
        _kept_expr,
        _span_quarantine,
        _span_table,
    )
    from netcdf4_variable_streamer_spark.operators.text import (
        hashed_classifier_sql,
        perplexity_decisions,
        perplexity_lm,
    )

    mode = "quarantine" if decontam is True else decontam
    spanref = os.path.join(run_dir, "spanref")

    vs = VersionedState(spark, run_dir, ledgers=("budget",))
    n_batches = [0]

    def curate(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        ledger = batch_df.selectExpr("lang", "0L AS used").distinct()
        # reference path iff no state version strictly older than this
        # batch exists OR the LM is unpublished — the former catches a
        # REPLAYED batch 0 after a crash between the lm.json publish
        # and the checkpoint commit: it must re-seed idempotently, never
        # be scored as a crawl (a genuine crawl batch k always has a
        # committed version < k on disk)
        if not vs.recover(batch_id) or not os.path.exists(
            os.path.join(run_dir, "lm.json")
        ):
            # reference batch: train + persist the LM, seed the hash
            # index and the zeroed per-language budget ledger, all
            # overlapped; lm.json publishes after the LM tables are on
            # disk and the commit marker still lands strictly LAST
            bgc, _ctx, vsz = perplexity_lm(batch_df)
            # ONE thunk for both LM tables (the _overlap_jobs safety
            # rule: they may not share live subtrees with a concurrent
            # thunk), serial inside
            writes = [lambda: _publish_lm(spark, run_dir, bgc, vsz)]
            if decontam:
                # the reference span-hash set, persisted ONCE like
                # the LM (the eval corpus is static; MB-scale)
                writes.append(
                    lambda: _write_table(
                        _span_table(batch_df.select("doc_id", "text"))
                        .select("cluster")
                        .distinct(),
                        spanref,
                    )
                )
            vs.commit(
                {
                    "hashes": batch_df.selectExpr("md5(text) AS h").distinct(),
                    "budget": ledger,
                },
                *writes,
            )
            return
        bgc, ctx, vsz = _load_lm(spark, run_dir)
        n_sql, _ = hashed_classifier_sql("text")
        b = batch_df.selectExpr(
            "doc_id", "lang", "text", "md5(text) AS h", f"{n_sql} AS n_tokens"
        )
        idx = vs.read("hashes", b.select("h"))
        used = vs.read("budget", ledger)
        # stage 1: exact dedup against the standing index + in-batch
        # min-id keeper (16-byte keys; batch-proportional probe). The
        # h-non-null pin: md5(NULL) is NULL and the window groups ALL
        # NULLs into one partition, so two NULL-text docs in a batch
        # would mark the later one a "duplicate" of nothing — and
        # diverge from the oracle, whose equality probe never matches
        # NULL. Docs without text are never dups.
        wide = b.join(
            idx.selectExpr("h", "true AS in_idx"), "h", "left"
        ).selectExpr(
            "*",
            "in_idx IS NOT NULL OR (h IS NOT NULL AND doc_id != "
            "min(doc_id) OVER (PARTITION BY h)) AS is_dup",
        )
        surv, stext, extra = "NOT is_dup", "text", []
        if mode:
            spans = _span_table(wide.filter(surv).select("doc_id", "text"))
            sref = spark.read.schema("cluster STRING").parquet(spanref)
        if mode == "quarantine":
            # stage 1b: span-level eval decontamination — the survivors'
            # span hashes probed against the persisted reference set;
            # only (doc_id, 16-byte hash) shuffles, and the quarantine
            # list is duplication-sized and broadcast back
            quar = _span_quarantine(
                spans, sref.selectExpr("cluster AS h", "1 AS hit")
            ).selectExpr("doc_id", "true AS quar")
            wide = wide.join(F.broadcast(quar), "doc_id", "left").selectExpr(
                "*", "NOT is_dup AND quar IS NULL AS decon_keep"
            )
            surv, extra = "decon_keep", ["decon_keep"]
        elif mode == "rewrite":
            # stage 1b (surgical): CUT every survivor span matching the
            # persisted reference set, the frequent-n-gram exclusion
            # evaluated over THIS batch's hits; the merged cut ranges
            # are contamination-sized and broadcast back
            cuts = _cut_ranges_per_doc(
                _cap_excluded_cut(spans.join(F.broadcast(sref), "cluster"))
            )
            wide = (
                wide.join(F.broadcast(cuts), "doc_id", "left")
                .withColumn("tk", F.split("text", _SPAN_WS))
                .withColumn("kept", _kept_expr())
                .selectExpr(
                    "*",
                    "CASE WHEN NOT is_dup THEN array_join(kept, ' ') END"
                    " AS rtext",
                    "CAST(coalesce(size(tk) - size(kept), 0) AS BIGINT)"
                    " AS n_tokens_cut",
                )
                .selectExpr("*", "md5(rtext) AS rewritten_md5")
            )
            stext, extra = "rtext", ["n_tokens_cut", "rewritten_md5"]
        # stage 2: perplexity gate under the persisted LM (per-lang
        # cutoff over THIS batch's survivors — batch-proportional)
        ppl = perplexity_decisions(
            bgc, ctx, vsz, wide.filter(surv), text_col=stext, carry=("h",)
        ).selectExpr("h", "doc_id AS p_id", "keep AS p_keep")
        # stage 3: hashed-classifier score of the scored text + greedy
        # budget cut against the per-language budget REMAINING from
        # prior batches; docs the gate dropped add no tokens
        c_tok, c_score = hashed_classifier_sql(stext)
        cols = ["doc_id", "lang", "h", "in_idx", "is_dup", *extra,
                "ppl_keep", "n_tokens"]
        with batch_cache() as cache:
            wide = cache(
                wide.join(ppl, "h", "left")
                .selectExpr(
                    "*", "coalesce(p_id = doc_id AND p_keep, false) AS ppl_keep"
                )
                .join(F.broadcast(used), "lang", "left")
                .selectExpr(
                    *cols,
                    f"CASE WHEN ppl_keep THEN {c_tok} ELSE 0 END AS n_tok",
                    f"CASE WHEN ppl_keep THEN {c_score} END AS score_q",
                    "coalesce(used, 0) AS used",
                )
                .selectExpr(
                    *cols,
                    "n_tok",
                    "n_tok > 0 AND used + sum(n_tok) OVER (PARTITION BY "
                    "lang ORDER BY score_q DESC, doc_id ROWS BETWEEN "
                    f"UNBOUNDED PRECEDING AND CURRENT ROW) <= {_CUR_BUDGET}"
                    " AS sampled",
                )
            )
            new_h = (
                wide.filter("in_idx IS NULL AND h IS NOT NULL")
                .select("h")
                .distinct()
            )
            vs.commit(
                {
                    "dec": wide.selectExpr(
                        "doc_id", "lang", f"{batch_id}L AS batch", "is_dup",
                        *extra, "ppl_keep", "n_tokens", "sampled",
                    ),
                    "hashes": vs.rows(idx, new_h),
                    "budget": used.unionByName(
                        wide.filter("sampled").selectExpr(
                            "lang", "n_tok AS used"
                        )
                    )
                    .groupBy("lang")
                    .agg(F.expr("sum(used) AS used")),
                }
            )

    return curate, n_batches


def run_foreachbatch_pipeline_curation(
    spark: SparkSession, sf_dir: str, *, decontam: bool | str = False
) -> DataFrame:
    """3-micro-batch composed curation stream: reference + two crawl
    batches; returns the union of both crawl batches' decisions."""
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = _docs_multi_batch_stream_dir(
        spark, sf_dir, (_CUR_REF_SPLIT, _CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    run_dir = tempfile.mkdtemp(
        prefix="cur_state_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    curate, n_batches = make_curation_loop(
        spark, run_dir, decontam=decontam
    )
    return _drain_feed(spark, feed, run_dir, curate, n_batches, 3)


_CUR_ORACLE = f"""
WITH ref AS (SELECT * FROM documents WHERE doc_id < {_CUR_REF_SPLIT}),
crawl AS (
  SELECT doc_id, lang, text,
         CASE WHEN doc_id < {_CUR_BATCH_SPLIT} THEN 1 ELSE 2 END
           AS batch,
         MD5(text) AS h,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents WHERE doc_id >= {_CUR_REF_SPLIT}
),
idx AS (SELECT DISTINCT MD5(text) AS h FROM ref),
dup AS (
  SELECT c.doc_id,
         (i.h IS NOT NULL OR EXISTS (
            SELECT 1 FROM crawl c2 WHERE c2.h = c.h
            AND (c2.batch < c.batch
                 OR (c2.batch = c.batch AND c2.doc_id < c.doc_id))
         )) AS is_dup
  FROM crawl c LEFT JOIN idx i ON c.h = i.h
),
surv AS (
  SELECT c.* FROM crawl c JOIN dup USING (doc_id) WHERE NOT is_dup
),
ttoks AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM ref
),
tok AS (SELECT UNNEST(w) AS tok FROM ttoks),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
tbg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ttoks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM tbg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c_u FROM tbg GROUP BY w1),
stoks AS (
  SELECT doc_id, lang, batch,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM surv
),
bg AS (
  SELECT doc_id, lang, batch, w[i] AS w1, w[i + 1] AS w2
  FROM stoks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
scored AS (
  SELECT b.doc_id, b.lang, b.batch,
         CAST(SUM(CAST(FLOOR(LN(
             CAST(COALESCE(bgc.c_bg, 0) + 1 AS DOUBLE)
             / (COALESCE(ctx.c_u, 0) + v.vsz)) * 1000000)
           AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS cnt
  FROM bg b
  LEFT JOIN ctx ON b.w1 = ctx.w1
  LEFT JOIN bgc ON b.w1 = bgc.w1 AND b.w2 = bgc.w2
  CROSS JOIN v
  GROUP BY b.doc_id, b.lang, b.batch
),
qd AS (
  SELECT doc_id, lang, batch, -((-s) // cnt) AS q FROM scored
),
pplcut AS (
  SELECT batch, lang, CAST(SUM(q) AS BIGINT) AS sum_q,
         COUNT(*) AS n_docs
  FROM qd GROUP BY batch, lang
),
ppl AS (
  SELECT s.doc_id, (s.q * c.n_docs >= c.sum_q) AS ppl_keep
  FROM qd s JOIN pplcut c USING (batch, lang)
),
keptdocs AS (
  SELECT s.doc_id, s.lang, s.batch, s.text
  FROM surv s JOIN ppl p USING (doc_id) WHERE p.ppl_keep
),
ktoks AS (
  SELECT doc_id, lang, batch, UNNEST(string_split(text, ' ')) AS tok
  FROM keptdocs WHERE LENGTH(text) > 0
),
feats AS (
  SELECT doc_id, lang, batch,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM ktoks WHERE tok <> ''
  GROUP BY doc_id, lang, batch, bucket
),
csc AS (
  SELECT doc_id, lang, batch,
         CAST(SUM(cnt) AS BIGINT) AS nt,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM feats GROUP BY doc_id, lang, batch
),
s1 AS (
  SELECT doc_id, lang, nt,
         CAST(SUM(nt) OVER (PARTITION BY lang
                            ORDER BY score_q DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM csc WHERE batch = 1
),
k1 AS (
  SELECT doc_id, lang, nt, (cum <= {_CUR_BUDGET}) AS sampled FROM s1
),
u1 AS (
  SELECT lang,
         CAST(COALESCE(SUM(CASE WHEN sampled THEN nt END), 0)
              AS BIGINT) AS used
  FROM k1 GROUP BY lang
),
s2 AS (
  SELECT c.doc_id, c.lang, c.nt,
         CAST(SUM(c.nt) OVER (PARTITION BY c.lang
                              ORDER BY c.score_q DESC, c.doc_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum,
         COALESCE(u.used, 0) AS used
  FROM csc c LEFT JOIN u1 u ON c.lang = u.lang WHERE c.batch = 2
),
k2 AS (
  SELECT doc_id, lang, nt, (used + cum <= {_CUR_BUDGET}) AS sampled
  FROM s2
),
samp AS (
  SELECT doc_id, sampled FROM k1
  UNION ALL SELECT doc_id, sampled FROM k2
)
SELECT c.doc_id, c.lang, CAST(c.batch AS BIGINT) AS batch, d.is_dup,
       COALESCE(p.ppl_keep, FALSE) AS ppl_keep,
       c.n_tokens,
       COALESCE(s.sampled, FALSE) AS sampled
FROM crawl c
JOIN dup d USING (doc_id)
LEFT JOIN ppl p USING (doc_id)
LEFT JOIN samp s USING (doc_id)
ORDER BY c.doc_id
"""


@register(
    "q_stream_pipeline_curation",
    oracle=_CUR_ORACLE,
    doc="STREAMING CURATION COMPOSITE (round 13, VERDICT r12 #7) — "
        "the three production loops this engine already restart-"
        "proves individually (incremental dedup, perplexity quality "
        "gate, token-budget sampling) composed into ONE foreachBatch "
        "crawl loop: batch 0 trains + persists the bigram LM and "
        "seeds the exact-hash index and per-language budget ledger; "
        "each crawl batch (two here) dedups against the persisted "
        "index (16-byte keys, in-batch min-id keeper), gates "
        "survivors through the persisted LM with per-batch per-lang "
        "integer cutoffs, scores what remains with the hashed linear "
        "classifier and fills each language's REMAINING token budget "
        "greedily best-first — then commits the hashes new to the "
        "index as a delta, plus the |langs|-row budget ledger, for "
        "the next batch. The oracle replays the "
        "whole 3-batch protocol declaratively (batch boundaries are "
        "doc_id ranges), so stream decisions — dedup verdicts, gate "
        "verdicts AND the cross-batch budget cut — must equal the "
        "batch computation exactly. The budget constant is chosen so "
        "the fixture exercises all three regimes: never cut, cut "
        "mid-batch-1, and cut in batch 2 against carried state. "
        "100 TB: every stage, and every state write, is batch-"
        "proportional against persisted, mergeable state; restart "
        "recovery is committed-version discovery, proven by the "
        "composed restart test.",
)
def q_stream_pipeline_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_pipeline_curation(spark, sf_dir)


# ---------------------------------------------------------------------------
# Round 14: the FULL-RECIPE streaming composite — the batch key
# q_pipeline_curation_full's span-level eval-decontamination stage run
# INSIDE the foreachBatch crawl loop. The oracle derives from the base
# 3-batch protocol by string surgery so the shared protocol lives in
# exactly one place (_CUR_ORACLE): rename the dedup survivors to surv0,
# insert the reference-span build + probe + quarantine CTEs, regate the
# whole downstream on the decontaminated surv, and emit the decon_keep
# verdict column.
# ---------------------------------------------------------------------------

from netcdf4_variable_streamer_spark.operators.dedup import (  # noqa: E402
    _SDR_MAX_OCC as _CURW_MAX_OCC,
    _SXC_QUARANTINE_PPM as _CURF_PPM,
    _rewrite_ranges_cte_sql,
    _span_cte_sql,
)

_CURF_OLD_SURV = """surv AS (
  SELECT c.* FROM crawl c JOIN dup USING (doc_id) WHERE NOT is_dup
),"""
_CURF_NEW_SURV = f"""surv0 AS (
  SELECT c.* FROM crawl c JOIN dup USING (doc_id) WHERE NOT is_dup
),
{_span_cte_sql("ref", "r")},
refspan AS (
  SELECT DISTINCT cluster FROM rspans
),
{_span_cte_sql("surv0", "s")},
sprobe AS (
  SELECT s.doc_id, (r.cluster IS NOT NULL) AS hit
  FROM sspans s LEFT JOIN refspan r USING (cluster)
),
quar AS (
  SELECT doc_id FROM sprobe GROUP BY doc_id
  HAVING SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 1000000
         // COUNT(*) >= {_CURF_PPM}
),
dk AS (
  SELECT s.doc_id, (q.doc_id IS NULL) AS keep
  FROM surv0 s LEFT JOIN quar q USING (doc_id)
),
surv AS (
  SELECT s.* FROM surv0 s LEFT JOIN quar q USING (doc_id)
  WHERE q.doc_id IS NULL
),"""

_CURF_OLD_SEL = """SELECT c.doc_id, c.lang, CAST(c.batch AS BIGINT) AS batch, d.is_dup,
       COALESCE(p.ppl_keep, FALSE) AS ppl_keep,"""
_CURF_NEW_SEL = """SELECT c.doc_id, c.lang, CAST(c.batch AS BIGINT) AS batch, d.is_dup,
       COALESCE(dk.keep, FALSE) AS decon_keep,
       COALESCE(p.ppl_keep, FALSE) AS ppl_keep,"""

_CURF_OLD_JOIN = """JOIN dup d USING (doc_id)
LEFT JOIN ppl p USING (doc_id)"""
_CURF_NEW_JOIN = """JOIN dup d USING (doc_id)
LEFT JOIN dk USING (doc_id)
LEFT JOIN ppl p USING (doc_id)"""


def _spliced_cur_oracle(new_surv: str, new_sel: str, new_join: str) -> str:
    """``_CUR_ORACLE`` with its survivor CTE, final select head and
    final join replaced. str.replace silently no-ops on a missing
    fragment, so the drift guard is a plain raise, not an assert: it
    must still run under ``python -O``."""
    for frag in (_CURF_OLD_SURV, _CURF_OLD_SEL, _CURF_OLD_JOIN):
        if frag not in _CUR_ORACLE:
            raise RuntimeError(
                "_CUR_ORACLE drifted: surgery fragment not found: "
                + frag[:80]
            )
    return (
        _CUR_ORACLE.replace(_CURF_OLD_SURV, new_surv)
        .replace(_CURF_OLD_SEL, new_sel)
        .replace(_CURF_OLD_JOIN, new_join)
    )


_CURF_STREAM_ORACLE = _spliced_cur_oracle(
    _CURF_NEW_SURV, _CURF_NEW_SEL, _CURF_NEW_JOIN
)


@register(
    "q_stream_pipeline_curation_full",
    oracle=_CURF_STREAM_ORACLE,
    doc="FULL-RECIPE STREAMING CURATION (round 14) — the batch "
        "composite q_pipeline_curation_full's span-level eval-"
        "decontamination stage run INSIDE the foreachBatch crawl "
        "loop: batch 0 persists the reference corpus's distinct "
        "span-hash set ONCE alongside the LM (eval sets are static, "
        "the set is MB-scale); every crawl batch probes its dedup "
        "survivors' k-token span hashes against it and quarantines "
        f"docs at >= {_CURF_PPM} ppm contaminated spans BEFORE the "
        "quality gate — so the gate's per-batch per-language cutoffs "
        "and the cross-batch budget cuts are computed over "
        "decontaminated survivors, exactly as the declarative oracle "
        "replays them. Decisions gain a decon_keep verdict per crawl "
        "doc (FALSE for quarantined and for docs never evaluated "
        "because dedup dropped them — mirroring ppl_keep). The probe "
        "shuffles only (doc_id, 16-byte hash); the quarantine list "
        "is broadcast; all versioned-state restart machinery "
        "(commit markers, idempotent replay) is the SAME loop, "
        "flag-selected, so the composed restart proof carries over — "
        "and a dedicated restart test re-proves it with the stage "
        "armed. 100 TB: the span probe is batch-proportional against "
        "the once-built reference set, like every other stage.",
)
def q_stream_pipeline_curation_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_pipeline_curation(
        spark, sf_dir, decontam=True
    )


# ---------------------------------------------------------------------------
# Round 15 (VERDICT r14 #5): the SURGICAL decontamination posture run
# inside the crawl loop — rewrite-out instead of quarantine. Derived
# from _CUR_ORACLE by the same guarded splice (_spliced_cur_oracle): the
# dedup survivors become surv0; reference spans + per-batch hit /
# frequent-n-gram-exclusion / cut CTEs and the shared rewrite-ranges
# tail (operators/dedup._rewrite_ranges_cte_sql over the survivors'
# token-array CTE `st`) rebuild `surv` with the REWRITTEN text, so the
# gate, classifier and budget replay over post-cut tokens exactly as
# the loop computes them; the final select gains n_tokens_cut +
# rewritten_md5 per crawl doc.
# ---------------------------------------------------------------------------

_CURW_NEW_SURV = f"""surv0 AS (
  SELECT c.* FROM crawl c JOIN dup USING (doc_id) WHERE NOT is_dup
),
{_span_cte_sql("ref", "r")},
refspan AS (
  SELECT DISTINCT cluster FROM rspans
),
{_span_cte_sql("surv0", "s")},
shits AS (
  SELECT sp.doc_id, sp.span_start, sp.cluster, s0.batch
  FROM sspans sp JOIN refspan USING (cluster)
  JOIN surv0 s0 ON sp.doc_id = s0.doc_id
),
scommon AS (
  SELECT batch, cluster FROM shits GROUP BY batch, cluster
  HAVING COUNT(*) > {_CURW_MAX_OCC}
),
cut AS (
  SELECT h.doc_id, h.span_start
  FROM shits h LEFT JOIN scommon c
    ON h.batch = c.batch AND h.cluster = c.cluster
  WHERE c.cluster IS NULL
),
{_rewrite_ranges_cte_sql("st")},
rwx AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tokens_cut,
         COALESCE(STRING_AGG(CASE WHEN NOT is_cut THEN tok END,
             ' ' ORDER BY p), '') AS rtext
  FROM posk GROUP BY doc_id
),
rwi AS (
  SELECT doc_id, n_tokens_cut, MD5(rtext) AS rewritten_md5 FROM rwx
),
surv AS (
  SELECT s.doc_id, s.lang, s.batch, r.rtext AS text
  FROM surv0 s JOIN rwx r USING (doc_id)
),"""

_CURW_NEW_SEL = """SELECT c.doc_id, c.lang, CAST(c.batch AS BIGINT) AS batch, d.is_dup,
       CAST(COALESCE(r.n_tokens_cut, 0) AS BIGINT) AS n_tokens_cut,
       r.rewritten_md5,
       COALESCE(p.ppl_keep, FALSE) AS ppl_keep,"""

_CURW_NEW_JOIN = """JOIN dup d USING (doc_id)
LEFT JOIN rwi r USING (doc_id)
LEFT JOIN ppl p USING (doc_id)"""

_CURW_STREAM_ORACLE = _spliced_cur_oracle(
    _CURW_NEW_SURV, _CURW_NEW_SEL, _CURW_NEW_JOIN
)


@register(
    "q_stream_pipeline_curation_rewrite",
    oracle=_CURW_STREAM_ORACLE,
    doc="SURGICAL-DECONTAM STREAMING CURATION (round 15, VERDICT r14 "
        "#5) — the rewrite-out posture inside the foreachBatch crawl "
        "loop, the policy real crawl pipelines prefer when documents "
        "are valuable: instead of quarantining a contaminated "
        "survivor, every k-token span matching the once-persisted "
        "reference span set is CUT from it (no keep-first — eval "
        "text must all go), with the frequent-n-gram exclusion "
        f"(> {_CURW_MAX_OCC} hits within the batch = ubiquitous "
        "common text, not leakage) evaluated per micro-batch so the "
        "cut table stays batch-proportional AND bounded. The "
        "perplexity gate's per-batch per-language cutoffs, the "
        "hashed-classifier scores and the cross-batch token-budget "
        "fill are all computed over the REWRITTEN text — cutting a "
        "span genuinely changes downstream verdicts, which the "
        "declarative 3-batch oracle replays exactly (shared rewrite-"
        "ranges SQL tail, per-batch exclusion). Decisions gain "
        "n_tokens_cut (0 for clean survivors) and rewritten_md5 "
        "(NULL for docs dedup dropped before the stage saw them), so "
        "the oracle verifies the rewrite itself, not just the "
        "verdicts. All versioned-state restart machinery (commit "
        "markers, idempotent replay) is the SAME loop, mode-"
        "selected; a dedicated restart test re-proves recovery with "
        "the surgical stage armed. 100 TB: the probe + cut table "
        "shuffle only (doc_id, position, 16-byte hash) against the "
        "MB-scale build-once reference set; crawl text enters only "
        "the scan and the final map-side reassembly, exactly like "
        "the batch twin.",
)
def q_stream_pipeline_curation_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_foreachbatch_pipeline_curation(
        spark, sf_dir, decontam="rewrite"
    )
