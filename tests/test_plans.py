"""Physical-plan posture tests (SURVEY.md §4): the *shape* of the plan is
part of each operator's contract — pushdown, pruning, broadcast choice,
shuffle budget — because at 100 TB the plan shape IS the cost model.
These fail on posture regressions that sf0.01 timing would never notice.
"""

from __future__ import annotations

import json
import os

import pytest

from netcdf4_variable_streamer_spark import plans
from netcdf4_variable_streamer_spark.registry import REGISTRY

SF = "/root/testdata/sf0.01"


def build(spark, key):
    return REGISTRY[key].builder(spark, SF)


def test_q1_pushdown_pruning_single_shuffle(spark):
    df = build(spark, "q_agg_groupby_sum")
    plans.assert_pushed_filters(df, "l_shipdate")
    # lineitem has 16 columns; q1 touches 7 — the rest must not be read
    plans.assert_read_schema_excludes(
        df, "l_orderkey", "l_partkey", "l_suppkey", "l_comment", "l_shipmode"
    )
    # single-level dsum hash agg (round 10: the A/B in BENCH_NOTES
    # measured sharded_fixed_agg's extra stage at +40% wall-clock at
    # sf0.1, so q1 keeps the one-shuffle shape; sharded_fixed_agg is
    # the documented past-int64-envelope swap-in, plan-asserted in
    # test_analytics.py): map-side partial combine, ONE exchange on
    # the group keys, int64 per-row path in whole-stage codegen.
    plans.assert_max_shuffles(df, 1)
    plans.assert_wholestage_codegen(df)


def test_filter_predicates_all_pushed(spark):
    df = build(spark, "q_filter_predicates")
    plans.assert_pushed_filters(df, "o_totalprice")
    plans.assert_wholestage_codegen(df)


def test_star_join_broadcasts_all_dims(spark):
    df = build(spark, "q_join_broadcast_star")
    # region, nation, supplier, customer are all dims: >= 3 broadcast joins
    plans.assert_broadcast_joins(df, at_least=3)
    plans.assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k + merge on driver), never a global sort of the full input.
    df = build(spark, "q_topk_global")
    assert plans.count_nodes(plans.plan_string(df), "TakeOrderedAndProject") >= 1


def test_window_single_shuffle(spark):
    df = build(spark, "q_win_rank_topk_group")
    # one hash-partition exchange for the window; the rank filter must not
    # add a second shuffle
    plans.assert_max_shuffles(df, 1)


def test_cross_join_is_explicit_and_tiny(spark):
    # q_join_cross is the ONE deliberate cartesian (nation x region, 25x5);
    # assert it broadcasts the small side rather than shuffling both.
    df = build(spark, "q_join_cross")
    plan = plans.plan_string(df)
    assert (
        plans.count_nodes(plan, "BroadcastNestedLoopJoin") >= 1
        or plans.count_nodes(plan, "CartesianProduct") == 0
    ), plan


def test_knn_broadcasts_queries_no_cartesian(spark):
    df = build(spark, "q_sim_knn_cosine")
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)


def test_lsh_candidates_equi_join(spark):
    # the whole point of LSH: candidate generation is an equi-join on
    # (tbl, bucket), NOT an all-pairs product
    df = build(spark, "q_sim_lsh_ann")
    plans.assert_no_cartesian(df)


def test_threshold_lsh_equi_join_no_cartesian(spark):
    # the production-shaped threshold-pairs key: candidates via bucket
    # equi-join (capped), exact verify via equi-joins on vec ids — the
    # quadratic v1<v2 product must appear NOWHERE in the plan
    df = build(spark, "q_sim_threshold_lsh")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_geo_grid_knn_equi_join_no_cartesian(spark):
    # spatial nearest-neighbor: candidates come from the 9-cell equi-join,
    # never a customer x supplier product
    df = build(spark, "q_geo_grid_knn")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_salted_join_shuffles_not_broadcasts(spark):
    # the salted skew join must exercise the shuffle path it exists for:
    # a ShuffledHashJoin on (key, salt) and NO broadcast of the dim side
    df = build(spark, "q_join_skew_salted")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "BroadcastHashJoin") == 0, plan
    assert (
        plans.count_nodes(plan, "ShuffledHashJoin")
        + plans.count_nodes(plan, "SortMergeJoin")
    ) >= 1, plan


def test_contamination_broadcasts_eval_side(spark):
    # decontamination: the eval n-gram side must broadcast (an eval suite
    # is KBs against a 100 TB corpus) — corpus never shuffles for the join
    df = build(spark, "q_text_contamination")
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)


def test_range_bucketed_is_equi_join(spark):
    # the banded rewrite's whole point: a large-large range join planned
    # as a shuffled equi-join on the bucket key, never nested-loop
    df = build(spark, "q_join_range_bucketed")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_minhash_no_cartesian(spark):
    df = build(spark, "q_dedup_near_minhash")
    plans.assert_no_cartesian(df)


def test_exact_dedup_single_shuffle(spark):
    df = build(spark, "q_dedup_exact")
    plans.assert_max_shuffles(df, 1)


@pytest.mark.parametrize(
    "key", ["q_agg_groupby_sum", "q_join_broadcast_star", "q_topk_global"]
)
def test_executed_plan_aqe_finalizes(spark, key):
    # AQE must actually engage: the post-execution plan is final and keeps
    # the broadcast/agg structure (no runtime demotion to SMJ/cartesian).
    df = build(spark, key)
    final = plans.executed_plan_string(df)
    assert "CartesianProduct" not in final


def test_native_chunk_scan_pushdown_and_pruning(spark):
    """B-0 native batch path: a streamed-dim filter must reach the parquet
    scan as PushedFilters (row-group min/max pruning at scale) and column
    pruning must drop unprojected variables from ReadSchema."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.sources import queries as srcq
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        read_native,
    )

    df = (
        read_native(spark, srcq.ensure_grid())
        .filter(F.col("time_idx") >= 64)
        .select("time_idx", "temperature")
    )
    plans.assert_pushed_filters(df, "time_idx")
    plans.assert_read_schema_excludes(df, "humidity", "y_idx", "x_idx")
    plans.assert_wholestage_codegen(df)


def test_chunk_ds_pushdown_prunes_partitions(spark):
    """B-0 Python-DataSource path: a pushed streamed-dim range must shrink
    the number of planned partitions (pruned chunks are never opened) —
    the partition count IS the plan shape for a Python data source."""
    from netcdf4_variable_streamer_spark.sources import queries as srcq
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        FORMAT_NAME,
        NetCDFChunkDataSource,
    )

    path = srcq.ensure_grid()
    spark.dataSource.register(NetCDFChunkDataSource)
    base = spark.read.format(FORMAT_NAME).option("path", path).load()
    full_parts = base.rdd.getNumPartitions()
    pruned = base.filter(
        (base.time_idx >= 100) & (base.time_idx < 116)
    ).rdd.getNumPartitions()
    assert pruned < full_parts, (full_parts, pruned)


def test_stream_watermark_in_plan(spark):
    """B-8: the watermarked tumbling agg must carry an EventTimeWatermark
    node — without it state never expires on an unbounded stream."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.streaming import queries as sq

    ev = sq.load_events_stream(spark, SF)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    plan = plans.analyzed_plan_string(agg)
    assert "EventTimeWatermark" in plan, plan


def test_stream_join_watermarks_both_sides(spark):
    """B-8 stream-stream interval join: BOTH inputs must be watermarked —
    one-sided state on two unbounded inputs grows without bound."""
    from netcdf4_variable_streamer_spark.streaming import queries as sq

    ev = sq.load_events_stream(spark, SF)
    v, p = sq._split_views_purchases(ev)
    j = sq._interval_join(
        v.withWatermark("view_ts", "2 hours"),
        p.withWatermark("purchase_ts", "2 hours"),
    )
    plan = plans.analyzed_plan_string(j)
    assert plan.count("EventTimeWatermark") == 2, plan


def test_correlated_subqueries_decorrelate(spark):
    # correlated scalar subquery must plan as aggregate-then-join (exactly
    # one join), and EXISTS/NOT EXISTS as semi/anti joins — never a per-row
    # subquery execution
    import re

    df = build(spark, "q_subquery_scalar_corr")
    plan = plans.plan_string(df)
    joins = (
        plans.count_nodes(plan, "SortMergeJoin")
        + plans.count_nodes(plan, "BroadcastHashJoin")
        + plans.count_nodes(plan, "ShuffledHashJoin")
    )
    assert joins == 1, plan

    plan2 = plans.plan_string(build(spark, "q_subquery_exists"))
    kinds = set(re.findall(r"\bLeftSemi\b|\bLeftAnti\b", plan2))
    assert kinds == {"LeftSemi", "LeftAnti"}, plan2


def test_pii_redact_zero_shuffles_codegen(spark):
    # pure map-side narrow transform: no Exchange at all, fully codegen'd
    df = build(spark, "q_text_pii_redact")
    plans.assert_max_shuffles(df, 0)
    plans.assert_wholestage_codegen(df)


def test_repetition_keyed_by_doc_id_not_gram(spark):
    # both n-gram profiles aggregate per (doc_id, ...); nothing shuffles on
    # the raw gram key alone, and nothing broadcasts corpus-global state
    df = build(spark, "q_text_repetition")
    plans.assert_no_cartesian(df)


def test_pack_sequences_no_single_partition_exchange(spark):
    # the whole point of the two-phase prefix sum: the global running
    # token count must NOT materialize as a one-partition global window
    df = build(spark, "q_pack_sequences")
    p = plans.executed_plan_string(df)
    assert "SinglePartition" not in p, "global window collapsed the corpus"


def test_semantic_dedup_broadcast_assign_no_cartesian(spark):
    # centroid assignment broadcasts the 16-row seed table; the pair stage
    # is an equi-join on cluster_id — never a global cartesian
    df = build(spark, "q_dedup_semantic")
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)


def test_semantic_dedup_trained_keeps_posture(spark):
    # the trained twin keeps the family posture: Lloyd rounds are
    # broadcast-driven map-side passes, the pair stage stays an
    # equi-join on cluster_id — no Python row path, no cartesian
    df = build(spark, "q_dedup_semantic_trained")
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan


def test_plan_shapes_match_committed(spark):
    """Every batch key's plan shape equals its line in plans/shape.json
    (regenerate with tools/plan_shapes.py). A train-once checkpoint lost
    or added, a broadcast demoted or a window pass added moves a count;
    a new or removed key shows as a missing line."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "plans", "shape.json")) as f:
        committed = json.load(f)
    assert committed["sf"] == os.path.basename(SF)
    assert committed["nodes"] == list(plans.SHAPE_NODES)
    got = plans.shape_table(spark, SF)
    diff = {
        k: {"committed": committed["keys"].get(k), "now": got.get(k)}
        for k in sorted(got.keys() | committed["keys"].keys())
        if got.get(k) != committed["keys"].get(k)
    }
    assert not diff, diff


def _plan_shapes(spark, keys, nodes):
    """{key: count of each of ``nodes``} (a subset of plans.SHAPE_NODES)
    in the pre-execution formatted plan of every key in ``keys``."""
    at = [plans.SHAPE_NODES.index(n) for n in nodes]
    return {
        key: tuple(row[i] for i in at)
        for key, row in plans.shape_table(spark, SF, keys).items()
    }


# (Exchange, BroadcastHashJoin, BroadcastNestedLoopJoin, SortMergeJoin)
# in the pre-execution formatted plan of every key that trains centroids
# with the shared Lloyd k-means, recorded before the per-family Lloyd
# copies were merged. A train-once checkpoint lost or added, or a
# broadcast demoted, moves these counts.
_TRAINED_PLAN_SHAPES = {
    "q_sim_pq_train_codebook": (3, 1, 0, 1),
    "q_sim_pq_trained_recall": (6, 1, 2, 1),
    "q_sim_ivf_train_coarse": (3, 0, 1, 1),
    "q_sim_ivfpq_trained_recall": (10, 5, 1, 2),
    "q_sim_ivfpq_production_recall": (12, 2, 1, 3),
    "q_dedup_semantic_trained": (4, 3, 0, 2),
}


def test_trained_quantizer_plan_shapes_pinned(spark):
    nodes = (
        "Exchange",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
    )
    got = _plan_shapes(spark, _TRAINED_PLAN_SHAPES, nodes)
    assert got == _TRAINED_PLAN_SHAPES


# (Exchange, BroadcastHashJoin, SortMergeJoin, Window) in the
# pre-execution formatted plan of every batch key built on the shared
# MinHash-LSH stages, recorded after the verify became one shingle-
# array intersection per candidate pair. A lost train-once checkpoint
# or a demoted broadcast moves these counts.
_MINHASH_PLAN_SHAPES = {
    "q_dedup_near_minhash": (5, 3, 0, 2),
    "q_dedup_minhash_calibration": (5, 5, 0, 2),
    "q_dedup_minhash_incremental": (5, 3, 1, 2),
}


def test_minhash_plan_shapes_pinned(spark):
    nodes = ("Exchange", "BroadcastHashJoin", "SortMergeJoin", "Window")
    got = _plan_shapes(spark, _MINHASH_PLAN_SHAPES, nodes)
    assert got == _MINHASH_PLAN_SHAPES


# (Exchange, BroadcastHashJoin, SortMergeJoin, Window) in the
# pre-execution formatted plan of the keys whose compute-once
# checkpoints (fingerprints, edge sets, exact-distance pass) were
# written inline before they moved to tables.materialize_once. A
# dropped checkpoint re-inlines its subtree and grows these counts.
_MATERIALIZED_PLAN_SHAPES = {
    "q_dedup_simhash": (1, 1, 0, 0),
    "q_graph_pagerank": (6, 6, 3, 0),
    "q_graph_label_prop": (8, 3, 3, 0),
    "q_graph_jaccard_neighbors": (10, 0, 4, 4),
    "q_graph_triangles": (8, 0, 2, 0),
    "q_sim_ivfpq_recall": (16, 13, 1, 6),
    "q_sim_ivf_nprobe_sweep": (12, 4, 2, 4),
}


def test_materialized_plan_shapes_pinned(spark):
    nodes = ("Exchange", "BroadcastHashJoin", "SortMergeJoin", "Window")
    got = _plan_shapes(spark, _MATERIALIZED_PLAN_SHAPES, nodes)
    assert got == _MATERIALIZED_PLAN_SHAPES


def test_minhash_band_table_build_round_trips(spark, monkeypatch):
    """Building (not running) one band table crosses to the JVM a few
    hundred times: the 32 minima and the 8 band structs are SQL text,
    one call each, not trees of Column calls (thousands of round
    trips). Only this thread's commands count: py4j's finalizer thread
    sends the detach commands of garbage-collected JVM objects through
    the same client at any moment."""
    import threading

    from netcdf4_variable_streamer_spark.operators import dedup

    d = dedup._shingled(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id", "text"
    )
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    me, calls = threading.get_ident(), [0]

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    dedup._minhash_band_table(d)
    monkeypatch.setattr(client, "send_command", send)
    assert 0 < calls[0] <= 400, calls[0]


def test_pipeline_pretrain_no_single_partition_exchange(spark):
    # the composed pipeline inherits the packing stage's posture: the
    # global cumsum must not collapse into a one-partition window
    df = build(spark, "q_pipeline_pretrain")
    p = plans.executed_plan_string(df)
    assert "SinglePartition" not in p, "global window collapsed the corpus"


def test_interval_overlap_bucket_equi_join(spark):
    # big-to-big overlap join must candidate via the bucket equi-join,
    # never a session x session product
    df = build(spark, "q_join_interval_overlap")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_asof_nearest_has_no_join(spark):
    # union-then-window: both temporal directions resolve in window
    # passes — zero join nodes of any kind in the plan
    df = build(spark, "q_join_asof_nearest")
    plan = plans.plan_string(df)
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert plans.count_nodes(plan, node) == 0, (node, plan)


def test_sliding_distinct_shuffle_budget(spark):
    # daily bitmaps + spine + window + readout + exact-check join: the
    # whole pipeline must stay within a fixed shuffle budget (the bitmap
    # table, not the event volume, is what moves)
    df = build(spark, "q_win_sliding_distinct")
    plans.assert_no_cartesian(df)
    plans.assert_max_shuffles(df, 12)


def test_ewma_single_window_pass(spark):
    # 8 LAG taps must resolve in ONE user_id window partitioning: a
    # single Exchange (plus AQE cosmetics), never one per tap
    df = build(spark, "q_win_ewma_dyadic")
    plans.assert_max_shuffles(df, 2)


def test_jaccard_neighbors_caps_degrees(spark):
    # the hub guard: a row_number window over (src -> dst) must cap each
    # neighbor list BEFORE the wedge self-join, so one degree-d hub can
    # never contribute d^2 wedge rows; and the wedge join itself must be
    # an equi-join on the shared neighbor, never a cartesian
    df = build(spark, "q_graph_jaccard_neighbors")
    plan = plans.plan_string(df)
    # Spark plans the rn <= cap filter as WindowGroupLimit: per-partition
    # top-k maintenance, the rank filter never materializes a full window
    assert plans.count_nodes(plan, "WindowGroupLimit") >= 1, plan
    plans.assert_no_cartesian(df)


def test_equidepth_approx_no_global_sort(spark):
    # the scale path's whole point: the only Sort in the plan feeds the
    # sample-sized NTILE (bounded input); the full-data pass is scan +
    # hash aggregation with no sort and <= 2 shuffles
    df = build(spark, "q_agg_histogram_equidepth_approx")
    plans.assert_max_shuffles(df, 2)
    plan = plans.plan_string(df)
    # full pass aggregates by bucket_id via hash, never sort-based
    assert plans.count_nodes(plan, "SortAggregate") == 0, plan


def test_report_volume_shipping_broadcasts_dims(spark):
    # Q7 form: supplier/customer/nation broadcast; orders-lineitem is the
    # only big join; never a cartesian
    df = build(spark, "q_report_volume_shipping")
    plans.assert_broadcast_joins(df, at_least=3)
    plans.assert_no_cartesian(df)


def test_report_nation_profit_single_shuffle(spark):
    # Q9 form with a selective broadcast dim: the fact side must reach the
    # final aggregation without ever shuffling for a join
    df = build(spark, "q_report_nation_profit")
    plans.assert_broadcast_joins(df, at_least=3)
    plans.assert_max_shuffles(df, 1)


def test_report_promo_share_pushdown(spark):
    df = build(spark, "q_report_promo_share")
    plans.assert_pushed_filters(df, "l_shipdate")
    plans.assert_broadcast_joins(df, at_least=1)


def test_url_canonical_single_shuffle_no_joins(spark):
    # crawl-dedup stage 1 must be class A: map-side canonicalization +
    # ONE keyed aggregation, zero joins of any kind
    df = build(spark, "q_dedup_url_canonical")
    plans.assert_max_shuffles(df, 1)
    plan = plans.plan_string(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert plans.count_nodes(plan, node) == 0, (node, plan)


def test_codec_decode_keys_zero_shuffle(spark):
    # real-codec round trips are two chained mapInPandas: decode
    # parallelism = scan parallelism, no exchange anywhere
    for key in (
        "q_multimodal_audio_decode",
        "q_multimodal_png_decode",
        "q_multimodal_jpeg_decode",
        "q_multimodal_jpeg_progressive",
        # round 17
        "q_multimodal_tiff_g4",
        "q_multimodal_tiff_tiled",
        "q_multimodal_audio_adpcm",
        "q_multimodal_scanned_archive",
        # round 18
        "q_multimodal_audio_vorbis",
        "q_multimodal_png16",
    ):
        df = build(spark, key)
        plans.assert_max_shuffles(df, 0)


def test_hll_setops_no_cartesian(spark):
    # sketch algebra: register-table aggregations + broadcast 1-row
    # estimate joins; the raw key sets must never cross-product
    df = build(spark, "q_agg_hll_setops")
    plans.assert_no_cartesian(df)


def test_heatmap_no_cartesian(spark):
    # the x9 smear explodes the |cells| aggregate, never the points;
    # the only nested-loop is the broadcast 16x16 spine construction
    df = build(spark, "q_geo_heatmap_grid")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan


def test_hierarchy_rollup_keyed_joins_only(spark):
    df = build(spark, "q_hierarchy_rollup")
    plans.assert_no_cartesian(df)


def test_emb_quantize_zero_shuffles(spark):
    # per-vector quantization is pure HOF expressions over the scan:
    # no Exchange at all (SCALE.md [enforced])
    df = build(spark, "q_emb_int8_quantize")
    plans.assert_max_shuffles(df, 0)


def test_emb_matryoshka_zero_shuffles(spark):
    # prefix energy/cosine are pure HOF expressions over the scan:
    # no Exchange at all (SCALE.md [enforced])
    df = build(spark, "q_emb_matryoshka")
    plans.assert_max_shuffles(df, 0)


def test_audio_vad_zero_shuffles(spark):
    # framing runs inside the decode mapInPandas; per-frame rows never
    # shuffle (SCALE.md [enforced])
    df = build(spark, "q_multimodal_audio_vad")
    plans.assert_max_shuffles(df, 0)


def test_dedup_lines_no_cartesian_no_global_sort(spark):
    # keeper election + score-back are chunk-keyed; nothing quadratic,
    # nothing globally sorted
    df = build(spark, "q_dedup_lines")
    plans.assert_no_cartesian(df)
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan


def test_curriculum_order_windows_are_bucketed(spark):
    # the deterministic shuffle order must window on (stage, bucket),
    # never on stage alone (4-partition sort): the Window node's
    # partition spec carries both keys
    import re

    df = build(spark, "q_curriculum_order")
    plan = plans.plan_string(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("stage" in s and "bucket" in s for s in specs), specs


def test_emb_centroids_single_bounded_shuffle(spark):
    # one Exchange on (label, dim); partial aggregation bounds its
    # input at labels x 64 cells per partition (SCALE.md [enforced])
    df = build(spark, "q_emb_centroids")
    plans.assert_max_shuffles(df, 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_vlen_scan_single_shuffle_no_python_row_path(spark):
    # the NC_VLEN array column is sized/summed with JVM higher-order
    # functions: one groupBy Exchange plus the ORDER BY range exchange,
    # and no row-at-a-time Python eval node anywhere (the Python
    # DataSource scan is the Arrow-batched source, not BatchEvalPython)
    df = build(spark, "src_netcdf_vlen_scan")
    plans.assert_max_shuffles(df, 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "aggregate(samples" in plan  # HOF ran JVM-side, pre-shuffle


def test_compound_scan_struct_fields_jvm_side(spark):
    # struct-field access (obs.lat) and aggregation run JVM-side: one
    # groupBy Exchange plus the ORDER BY range exchange, no
    # row-at-a-time Python eval node (the Python DataSource scan is
    # the Arrow StructArray source, not BatchEvalPython)
    df = build(spark, "src_netcdf_compound_scan")
    # 3 = groupBy + COUNT(DISTINCT)'s second agg phase + ORDER BY range
    # exchange — all keyed on the 4-value station_idx, never data-sized
    plans.assert_max_shuffles(df, 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "obs" in plan and "lat" in plan


def test_vlen_compound_scan_hof_jvm_side(spark):
    # array<struct> cells fold with JVM higher-order functions over
    # struct fields — no Python row path, bounded shuffles
    df = build(spark, "src_netcdf_vlen_compound_scan")
    plans.assert_max_shuffles(df, 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "aggregate(events" in plan  # HOF ran JVM-side, pre-shuffle


def test_dense_wide_scan_bounded_shuffles_no_python_rows(spark):
    # a 220-variable dense group changes METADATA shape only: the plan
    # is the same one-keyed-agg shape as any narrow scan — one groupBy
    # Exchange plus the ORDER BY range exchange, Arrow-batched source,
    # no row-at-a-time Python eval node
    df = build(spark, "src_netcdf4_dense_wide_scan")
    plans.assert_max_shuffles(df, 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan


def test_bpe_merges_broadcast_winners_no_python(spark):
    # each round's 1-row winner reaches the merge step as a BROADCAST
    # nested-loop crossJoin (never a CartesianProduct), and the whole
    # 3-round training plan has no Python row path
    df = build(spark, "q_text_bpe_merges")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 3, plan
    # the tokenize-apply twin inherits the same posture (shared
    # training chain + one vocabulary-sized final agg)
    df = build(spark, "q_text_bpe_apply")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 3, plan


def test_pca_power_broadcast_vectors_no_python(spark):
    # every iteration's d=64-row vector reaches the centered matrix as
    # a broadcast (no CartesianProduct), and the 3-round plan has no
    # Python row path — C.v without materializing C
    df = build(spark, "q_emb_pca_power")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    # the projection twin inherits the posture (shared chain + one
    # broadcast projection pass)
    df = build(spark, "q_emb_pca_project")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 4, plan


def test_pq_adc_broadcast_lut_no_python(spark):
    # the 20x32-entry LUT reaches the code table as a BROADCAST
    # nested-loop join (never a CartesianProduct) and scoring is
    # pure JVM array lookups — no Python row path anywhere
    df = build(spark, "q_sim_pq_adc")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_ivfpq_adc_broadcast_no_python(spark):
    # the IVF-PQ chain (round 10): coarse centroids, residual
    # codebook, and per-(query, probed-list) LUTs all travel as
    # broadcasts; scoring joins codes to LUTs on the LIST key and is
    # pure JVM integer array arithmetic — no Python row path, no
    # cartesian product anywhere in the composition
    df = build(spark, "q_sim_ivfpq_adc")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_round16_sim_keys_broadcast_no_python(spark):
    # the round-16 ANN accounting/training chains keep the family
    # posture: every small side (query block, centroids, codebooks,
    # LUTs, probe tables, k/method spines) travels as a broadcast,
    # scoring is JVM integer arithmetic — no Python row path, no
    # CartesianProduct anywhere
    for key in (
        "q_sim_ivfpq_recall",
        "q_sim_pq_train_codebook",
        "q_sim_pq_trained_recall",
        "q_sim_ivf_nprobe_sweep",
    ):
        df = build(spark, key)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (key, plan)
        plans.assert_no_cartesian(df)
        assert (
            "BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan
        ), (key, plan)


def test_round17_trained_ivfpq_broadcast_no_python(spark):
    # the trained IVF-PQ chain keeps the family posture: centroid
    # tables, residual codebooks, probe tables, LUTs and spines all
    # travel as broadcasts; Lloyd rounds are map-side expansions +
    # keyed aggregations; no Python row path, no CartesianProduct
    for key in (
        "q_sim_ivf_train_coarse",
        "q_sim_ivfpq_trained_recall",
        # round 18: the production-shaped chain derives nlist/nprobe
        # from COUNT(*) via a broadcast 1-row params table — same
        # posture, plus the refine stage's shortlist rescore
        "q_sim_ivfpq_production_recall",
    ):
        df = build(spark, key)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (key, plan)
        plans.assert_no_cartesian(df)
        assert (
            "BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan
        ), (key, plan)


def test_round10_source_keys_prune_partitions(spark):
    """The round-10 source layouts (userblock, fletcher stack, union
    schema) must keep the Python-DataSource pushdown posture: a
    pushed record-range must shrink the planned partition count —
    pruned members/chunks are never opened."""
    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )
    from netcdf4_variable_streamer_spark.sources import queries as srcq
    from tests.record_cases import pushdown_prunes_records

    apply_runtime_confs(spark)
    union = {"schema_evolution": "union"}
    cases = [
        ("netcdf4", srcq.ensure_nc4_userblock(), "time_idx", {}),
        ("netcdf4", srcq.ensure_nc4_fletcher(), "time_idx", {}),
        ("netcdf3", srcq.ensure_nc3_evolving(), "time_idx", union),
        ("netcdf4", srcq.ensure_nc4_evolving(), "t_idx", union),
    ]
    for fmt, path, idx, opts in cases:
        pushdown_prunes_records(spark, fmt, path, idx, **opts)


def test_binary_hamming_broadcast_no_python(spark):
    # sign words computed in codegen, query words broadcast, scoring
    # map-side xor+popcount: no Python row path, no cartesian
    df = build(spark, "q_sim_binary_hamming")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_hashed_features_two_keyed_aggs(spark):
    # hashing-trick featurization: explode + two keyed aggregations,
    # nothing else — no joins, no broadcast, bounded shuffles
    df = build(spark, "q_text_hashed_ngram_features")
    plans.assert_max_shuffles(df, 2)
    plan = plans.plan_string(df)
    assert "Join" not in plan, plan


def test_incremental_dedup_equi_join_no_cartesian(spark):
    # the incremental probe must stay an equi-join on (band, sig):
    # no quadratic stage anywhere in the crawl-vs-index plan
    df = build(spark, "q_dedup_minhash_incremental")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_multiword_hamming_broadcast_no_python(spark):
    # multi-word posture: word arrays in codegen, query words broadcast,
    # zip_with xor+popcount map-side — no Python row path, no cartesian
    df = build(spark, "q_sim_binary_hamming_multiword")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_m4_downsample_single_exchange(spark):
    # all four extremum selectors share ONE (user_id, bucket) hash
    # partitioning — the orderings are per-partition sorts; the only
    # other exchange is the final presentation orderBy's range partition
    df = build(spark, "q_time_downsample_m4")
    plans.assert_max_shuffles(df, 2)
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "Exchange") == 2, plan
    assert "hashpartitioning(user_id" in plan, plan
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan


def test_prefix_truncation_bucket_join(spark):
    # candidates come from the md5-prefix bucket equi-join: no
    # cartesian or nested-loop stage anywhere
    df = build(spark, "q_dedup_prefix_truncation")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_prefix_segmented_no_text_in_shuffle(spark):
    """q_dedup_prefix_segmented (round 12): the bucket/verify join
    shuffles hashes + the <64-char tail, never the document text —
    every Exchange's output column set excludes `text` — and the
    residual re-check against the documents scan is a BROADCAST of
    the candidate ids (text stays map-side). No cartesian."""
    import re

    df = build(spark, "q_dedup_prefix_segmented")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    checked = 0
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange\b", block.strip()):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), (
                f"text in shuffle input: {block}"
            )
            checked += 1
    assert checked >= 4, plan  # both sides of both window/bucket stages


def test_classifier_score_posture(spark):
    """q_text_classifier_score: corpus-linear — keyed aggs plus the
    |langs|-row cutoff BROADCAST back; no cartesian, no Python in the
    scoring path (weights are md5 expressions, not a UDF)."""
    df = build(spark, "q_text_classifier_score")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_mips_topk_posture(spark):
    """q_sim_mips_topk: the 20-row query block AND the 1-row max-norm
    table both broadcast; scoring is JVM fold expressions."""
    df = build(spark, "q_sim_mips_topk")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert (
        plans.count_nodes(plan, "BroadcastHashJoin")
        + plans.count_nodes(plan, "BroadcastNestedLoopJoin")
        >= 2
    ), plan
    assert "BatchEvalPython" not in plan, plan


def test_perplexity_crosstrain_posture(spark):
    """q_text_perplexity_crosstrain: LM score-back is equi-joins (no
    cartesian), the |langs| cutoff broadcasts, and the whole decision
    pipeline is JVM expressions."""
    df = build(spark, "q_text_perplexity_crosstrain")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_asof_tolerance_single_shuffle(spark):
    """q_join_asof_tolerance keeps the asof family's shape: ONE
    user_id window exchange, zero joins."""
    df = build(spark, "q_join_asof_tolerance")
    plans.assert_max_shuffles(df, 1)
    plan = plans.plan_string(df)
    assert "Join" not in plan, plan


def test_pipeline_curation_posture(spark):
    """q_pipeline_curation: three chained gates stay equi-join/
    broadcast-shaped end to end — no cartesian anywhere in the
    composed plan, and the per-language cutoff tables broadcast."""
    df = build(spark, "q_pipeline_curation")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 2, plan


# plans.SHAPE_NODES counts of the curation composites with
# materialize_once replaced by identity, so the whole composed plan is
# counted (plans/shape.json pins them as registered). The classifier is a
# per-row projection (no explode, no aggregation), so each use of it
# plans no Exchange of its own.
_CURATION_UNMATERIALIZED_SHAPES = {
    "q_pipeline_curation": [47, 20, 0, 1, 21],
    "q_pipeline_curation_full": [132, 63, 0, 1, 64],
    "q_pipeline_curation_surgical": [237, 105, 0, 1, 169],
}


def test_curation_plan_shapes_pinned(spark, monkeypatch):
    from netcdf4_variable_streamer_spark.operators import corpus

    monkeypatch.setattr(corpus, "materialize_once", lambda df: df)
    got = plans.shape_table(spark, SF, _CURATION_UNMATERIALIZED_SHAPES)
    assert got == _CURATION_UNMATERIALIZED_SHAPES


def test_hashed_classifier_per_row_equals_explode_form(spark):
    """hashed_classifier_scores is a per-row projection now; it returns
    exactly what the token explode + (doc, bucket) count + weighted doc
    sum returned, on the documents plus a NULL text, an all-space text
    and a one-token text (the first two score no row)."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.operators.dedup import _md5_int
    from netcdf4_variable_streamer_spark.operators.text import (
        hashed_classifier_scores,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).unionByName(spark.createDataFrame(
        [(-1, "en", None), (-2, "en", "   "), (-3, "de", "word")],
        "doc_id long, lang string, text string",
    ))
    toks = (
        docs.filter(F.length("text") > 0)
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    feats = toks.groupBy(
        "doc_id", "lang", (_md5_int(F.col("tok"), 7) % 4096).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = _md5_int(F.concat(F.lit("w:"), F.col("bucket")), 7) % 2001 - 1000
    want = feats.groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * w).alias("score_q"),
    )
    got = hashed_classifier_scores(docs)
    assert got.dtypes == want.dtypes
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert got_rows == want_rows
    assert [r.doc_id for r in got_rows if r.doc_id < 0] == [-3]


def test_token_budget_single_window(spark):
    """q_sample_token_budget: per-row scoring + exactly one
    lang-partitioned running-sum window; no joins at all."""
    df = build(spark, "q_sample_token_budget")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "Window") == 1, plan
    assert "Join" not in plan, plan


def test_lateral_topn_decorrelates(spark):
    """q_join_lateral_topn: the LATERAL subquery must decorrelate to
    a window + join — one Window node, no nested-loop/cartesian
    per-customer re-scan."""
    df = build(spark, "q_join_lateral_topn")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert plans.count_nodes(plan, "Window") >= 1, plan


def test_ngram_novelty_posture(spark):
    """q_text_ngram_novelty: trigrams form map-side (no shuffle to
    build them), then ONE gram-keyed agg + ONE gram equi-join — no
    cartesian, no Python anywhere in the path."""
    df = build(spark, "q_text_ngram_novelty")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    # wide operators: the gram-keyed agg and the final doc_id agg
    # (the |grams|-sized min table broadcasts at fixture scale)
    plans.assert_max_shuffles(df, 3)


def test_waiting_orders_posture(spark):
    """q_report_waiting_orders: the Q21 decorrelation — per-order agg
    + back-join on orderkey (keyed shuffles only), supplier⋈nation
    broadcast, top-50 via TakeOrderedAndProject, no cartesian."""
    df = build(spark, "q_report_waiting_orders")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_weighted_percentile_preagg_before_window(spark):
    """q_agg_weighted_percentile: the (key, value) pre-aggregation
    must collapse rows BEFORE the window (partial/hash agg upstream),
    and the whole chain is keyed — no cartesian, no Python."""
    df = build(spark, "q_agg_weighted_percentile")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "Window") >= 1, plan
    assert plans.count_nodes(plan, "HashAggregate") >= 2, plan


def test_idle_rich_broadcast_and_anti(spark):
    """q_report_idle_rich_customers: the 1-row threshold broadcasts
    (nested-loop on a 1-row side is the designed plan), the
    never-ordered check is an anti join — no Python anywhere."""
    df = build(spark, "q_report_idle_rich_customers")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") >= 1, plan
    assert "LeftAnti" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_naive_bayes_posture(spark):
    """q_ml_naive_bayes: the |langs|-row prior table broadcasts; the
    model join is a (lang, tok) equi-join; scoring is pure JVM
    expression work."""
    df = build(spark, "q_ml_naive_bayes")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert (
        plans.count_nodes(plan, "BroadcastNestedLoopJoin")
        + plans.count_nodes(plan, "BroadcastHashJoin")
    ) >= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_entropy_single_partitioning(spark):
    """q_text_entropy: char explode is map-side; histogram, window,
    and final agg all hash-partition on doc_id — at most 2 data
    exchanges end-to-end, no Python."""
    df = build(spark, "q_text_entropy")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    plans.assert_max_shuffles(df, 2)


def test_substring_spans_no_text_in_shuffle(spark):
    """q_dedup_substring_spans (round 13): span hashes are computed
    map-side — every Exchange input excludes both the text column and
    the token array; no cartesian/nested-loop stage anywhere."""
    import re

    df = build(spark, "q_dedup_substring_spans")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    checked = 0
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange\b", block.strip()):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), (
                f"text in shuffle input: {block}"
            )
            assert "tk#" not in m.group(1), (
                f"token array in shuffle input: {block}"
            )
            checked += 1
    assert checked >= 2, plan  # stats agg + emit join


def test_pii_scrub_map_side(spark):
    """q_text_pii_scrub (round 13): the scrub is ONE map-side
    projection — no Python, no join/agg; the only exchange is the
    final presentation sort."""
    df = build(spark, "q_text_pii_scrub")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "HashAggregate") == 0, plan
    assert plans.count_nodes(plan, "Join") == 0, plan
    plans.assert_max_shuffles(df, 1)


def test_substring_maximal_posture(spark):
    """q_dedup_substring_maximal (round 13): same no-text-in-shuffle
    posture as the spans key, plus the merge window is doc-keyed over
    repeated spans only — no cartesian/nested-loop anywhere."""
    import re

    df = build(spark, "q_dedup_substring_maximal")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange\b", block.strip()):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block


def test_substring_cross_corpus_posture(spark):
    """q_dedup_substring_cross_corpus (round 13): probe join shuffles
    16-byte hashes only — no text/token array in any Exchange, no
    cartesian/nested-loop stage."""
    import re

    df = build(spark, "q_dedup_substring_cross_corpus")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange\b", block.strip()):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block


def test_substring_rewrite_posture(spark):
    """q_dedup_substring_rewrite (round 14): the cut-range machinery
    shuffles only (doc_id, position, 16-byte hash); document text and
    the token array enter ONLY the final map-side reassembly — never
    an Exchange (regular or broadcast) — and the ranges reach the
    documents scan through a broadcast hash join, not a shuffle of
    the corpus."""
    import re

    df = build(spark, "q_dedup_substring_rewrite")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    checked = 0
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block
            checked += 1
    assert checked >= 3, plan  # stats agg, window, ranges broadcast


def test_substring_winnow_posture(spark):
    """q_dedup_substring_winnow (round 15 posture): anchor
    construction is ENTIRELY map-side — per-document HOF window
    minima replace the round-14 doc-keyed Window pass, so the plan
    contains NO Window operator and the first thing to reach an
    Exchange is the ~1/8-sampled anchor table (doc_id, position,
    16-byte cluster). Document text and the token array are excluded
    from every Exchange; no cartesian/nested-loop stage."""
    import re

    df = build(spark, "q_dedup_substring_winnow")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "Window") == 0, plan
    checked = 0
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block
            assert "ss#" not in m.group(1), block  # the HOF string
            #                                        array stays local
            checked += 1
    assert checked >= 1, plan  # the anchor stats agg


def test_curation_full_decontam_posture(spark, monkeypatch):
    """q_pipeline_curation_full (round 14): the added span-decontam
    machinery moves hashes and ids only — every Exchange whose input
    touches span/probe columns (span_start, the probe hash h, the
    contamination ratio) excludes document text; the quarantine list
    reaches the pipeline through a broadcast; no Python, no
    cartesian/nested-loop stage anywhere in the composed plan.

    Built with materialize_once replaced by identity: the production
    builder lazily localCheckpoints the dedup/decon frames, which
    truncates explain() at the materialization boundary — the
    posture is asserted on the identical un-checkpointed composition so
    the whole end-to-end plan is visible."""
    import re

    from netcdf4_variable_streamer_spark.operators import corpus

    monkeypatch.setattr(corpus, "materialize_once", lambda df: df)
    df = build(spark, "q_pipeline_curation_full")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    span_exchanges = 0
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            cols = m.group(1)
            if "span_start#" in cols or "h#" in cols or "ppm#" in cols:
                assert "text#" not in cols, block
                assert "tk#" not in cols, block
                span_exchanges += 1
    assert span_exchanges >= 2, plan  # ref distinct + probe/ratio agg


def test_substring_rewrite_anchored_posture(spark):
    """q_dedup_substring_rewrite_anchored (round 14): the winnow
    detection pass and the flagged-only exact recompute both exclude
    text/token arrays from every Exchange; the flagged set and the
    cut ranges reach the corpus scan through broadcast hash joins."""
    import re

    df = build(spark, "q_dedup_substring_rewrite_anchored")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 2, plan
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block


def test_substring_decontam_rewrite_posture(spark):
    """q_dedup_substring_decontam_rewrite (round 14): reference-set
    build and contaminated-span probe shuffle 16-byte hashes and ids
    only — text/token arrays in no Exchange; the cut ranges reach the
    crawl scan through a broadcast hash join."""
    import re

    df = build(spark, "q_dedup_substring_decontam_rewrite")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block


def test_budget_decontam_posture(spark):
    """q_sample_budget_decontam (round 15): text and token arrays
    appear in NO Exchange — the cut ranges reach the crawl scan via
    broadcast, the kept tokens are scored per row, and the cut-table
    subtree plans ONCE (one gaps-and-islands window pass feeds both
    the token accounting and the score)."""
    import re

    df = build(spark, "q_sample_budget_decontam")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 1, plan
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            for col in ("text#", "tk#", "tok#", "cuts#"):
                if col == "cuts#":
                    continue  # the ranges broadcast itself is fine
                assert col not in m.group(1), block
    # single planning of the islands window = exactly one Exchange
    # keyed on (doc_id, span_start) for the range merge
    islands = [
        b for b in re.split(r"\n\n", plan)
        if re.match(r"\(\d+\) Exchange\b", b.strip())
        and "span_start#" in b
    ]
    assert len(islands) == 1, plan


def test_substring_decontam_anchored_posture(spark):
    """q_dedup_substring_decontam_anchored (round 15): the winnow
    probe, flagged-set broadcast, reference-set build and exact
    recompute all shuffle 16-byte hashes / 45-byte anchor strings /
    ids only — text and token arrays appear in NO Exchange; the
    flagged set and the cut ranges reach the crawl scan through
    broadcast hash joins."""
    import re

    df = build(spark, "q_dedup_substring_decontam_anchored")
    plan = plans.plan_string(df)
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "BroadcastHashJoin") >= 2, plan
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            assert "text#" not in m.group(1), block
            assert "tk#" not in m.group(1), block


def test_orc_ingest_filtered_scan_pushdown(spark, tmp_path):
    """src_orc_ingest (round 15): the filtered read's predicate must
    reach the ORC scan as a PushedFilter (stripe-statistics pruning
    at scale) and column pruning must drop text/doc_id/source from
    the scan's ReadSchema — the '_filtered' output row already proves
    the pushed path returns exact values; this pins the plan shape."""
    from netcdf4_variable_streamer_spark.sources import queries as srcq
    from netcdf4_variable_streamer_spark.tables import load_table
    from tests.conftest import SF_DIR

    dst = str(tmp_path / "orc")
    load_table(spark, SF_DIR, "documents").write.mode(
        "overwrite"
    ).option("compression", "zlib").orc(dst)
    df = srcq.orc_filtered_scan(spark, dst)
    plans.assert_pushed_filters(df, "n_chars")
    plans.assert_read_schema_excludes(df, "text", "doc_id", "source")


def test_curation_surgical_posture(spark, monkeypatch):
    """q_pipeline_curation_surgical (round 15): the surgical-cut
    machinery moves hashes and ids only — every Exchange whose input
    touches span/cut columns excludes document text and token
    arrays; the cut ranges reach the crawl scan through a broadcast;
    no Python, no cartesian/nested-loop stage in the composed
    plan.

    Built with materialize_once replaced by identity: the production
    builder lazily localCheckpoints the dedup/surg frames, which
    truncates explain() at the materialization boundary — the
    posture is asserted on the identical un-checkpointed composition so
    the whole end-to-end plan is visible."""
    import re

    from netcdf4_variable_streamer_spark.operators import corpus

    monkeypatch.setattr(corpus, "materialize_once", lambda df: df)
    df = build(spark, "q_pipeline_curation_surgical")
    plan = plans.plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    assert plans.count_nodes(plan, "CartesianProduct") == 0, plan
    assert plans.count_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    span_exchanges = 0
    for block in re.split(r"\n\n", plan):
        if re.match(
            r"\(\d+\) (Exchange|BroadcastExchange)\b", block.strip()
        ):
            m = re.search(r"Input \[\d+\]: \[(.*)\]", block)
            assert m, block
            cols = m.group(1)
            if "span_start#" in cols or "cluster#" in cols:
                assert "text#" not in cols, block
                assert "tk#" not in cols, block
                span_exchanges += 1
    assert span_exchanges >= 2, plan  # sref distinct + cut/common aggs
