"""Oracle-differential + plan-posture tests for the round-2 analytics
batch: corpus prep (span dedup, BPE pairs, chunking, weighted sampling),
event-flow analytics (funnel, cohorts, resample+ffill), profiling
(histogram, heavy hitters, column profile, MAD outliers, melt), and
triangle counting."""

from __future__ import annotations

import pytest

import netcdf4_variable_streamer_spark.sources.queries  # noqa: F401
import netcdf4_variable_streamer_spark.streaming.queries  # noqa: F401
from netcdf4_variable_streamer_spark import plans
from netcdf4_variable_streamer_spark.registry import REGISTRY

from tests.conftest import SF_DIR

NEW_KEYS = [
    "q_dedup_ngram_spans", "q_text_vocab_pairs",
    "q_chunk_context_windows", "q_sample_weighted",
    "q_funnel_conversion", "q_retention_cohort", "q_time_resample_ffill",
    "q_agg_histogram", "q_agg_heavy_hitters", "q_profile_columns",
    "q_outlier_mad", "q_unpivot_melt", "q_graph_triangles",
    "q_sessionize_gap", "q_validate_constraints", "q_table_diff",
    "q_join_fuzzy_levenshtein", "snk_clustered_sort",
    "q_win_pattern_burst", "q_agg_incremental_merge",
    "q_sample_per_group", "q_agg_corr_matrix",
    "q_stream_dim_join", "q_report_top_returns", "q_report_market_share",
    "q_agg_histogram_equidepth", "q_agg_histogram_equidepth_approx",
    "q_agg_heavy_hitters_sketch",
    "q_join_point_in_time", "q_join_bucketed",
    "q_rollup_time_hierarchy", "src_jsonl_ingest",
    "q_join_bloom_pruned", "q_cdc_apply", "q_graph_bfs_reach",
    "q_ml_kmeans", "snk_zorder", "q_stream_join_outer",
    "q_sample_mixture", "q_dedup_keep_best", "q_ab_experiment",
    "q_basket_pairs", "q_rfm_segments", "q_join_salted_skew",
    "q_ols_by_group", "q_funnel_attribution",
    "q_interval_merge", "q_event_transitions", "q_text_inverted_index",
    "q_agg_mode", "q_drift_report", "q_sample_topk_hash",
    "q_fn_bitwise", "q_agg_bitmap_distinct", "q_agg_hll_portable",
    "q_geo_grid_knn", "q_win_gap_interpolate",
    "q_agg_cms_portable", "q_win_ewma_dyadic", "src_csv_ingest",
    "q_graph_jaccard_neighbors",
    "q_ml_knn_classify", "q_text_collocation_lift",
    "q_join_interval_overlap",
    "q_hierarchy_flatten", "q_privacy_k_anonymity",
    "q_win_sliding_distinct", "q_sim_pq_codes",
    "q_join_asof_nearest", "q_agg_string_agg", "q_agg_filtered",
    "q_union_schema_evolution",
    "q_funnel_attribution_decay", "q_time_anomaly_spc",
    "q_win_rolling_median", "q_fn_datetime_advanced",
    "q_win_longest_streak", "q_text_sentence_split",
    "q_ml_decision_stump",
    "q_win_running_distinct", "q_agg_bitmap_jaccard",
    "q_graph_label_prop",
    # round 3
    "src_netcdf3_scan", "q_agg_histogram_equidepth_approx",
    "snk_netcdf3_write", "q_hierarchy_rollup", "q_dedup_url_canonical",
    "q_multimodal_audio_decode", "q_multimodal_png_decode",
    "src_netcdf3_arrow_tail", "src_netcdf3_multifile_scan",
    "q_report_volume_shipping", "q_report_promo_share",
    "q_report_nation_profit", "q_agg_hll_setops", "q_geo_heatmap_grid",
    # round 9
    "q_text_bpe_merges", "q_text_bpe_apply", "q_emb_pca_power",
    "q_emb_pca_project", "q_sim_pq_adc",
    # round 10
    "q_sim_ivfpq_adc", "src_netcdf4_fletcher_scan",
    "src_netcdf3_union_schema_scan", "src_netcdf4_union_schema_scan",
    "src_netcdf3_union_dir_tail", "src_netcdf4_union_dir_tail",
    "q_text_hashed_ngram_features", "q_sim_binary_hamming",
    "src_netcdf4_cf_scan", "q_dedup_minhash_incremental",
    "src_netcdf4_regionref_scan",
    # round 11
    "q_stream_dedup_incremental", "q_sim_binary_hamming_multiword",
    "src_netcdf4_regionref_v3_scan", "q_stream_topk_windowed",
    "q_time_downsample_m4", "q_text_perplexity_filter",
    "snk_netcdf4_write_regionref", "src_netcdf4_bigendian_scan",
    "q_sample_dedup_aware", "q_dedup_prefix_truncation",
    # round 12
    "q_text_perplexity_crosstrain", "src_netcdf4_szip_scan",
    "src_netcdf4_compound_string_scan", "q_dedup_prefix_segmented",
    "snk_netcdf4_write_szip", "q_text_classifier_score",
    "q_stream_quality_gate", "src_netcdf4_points_v2_scan",
    "q_sim_mips_topk", "q_multimodal_patchify",
    "q_join_asof_tolerance", "q_pipeline_curation",
    "q_sample_token_budget", "src_hdf5_foreign_scan",
    "q_dedup_cross_corpus", "q_join_asof_forward",
    "q_join_lateral_topn", "src_netcdf4_enum_scan",
    "src_netcdf4_opaque_scan", "src_netcdf_packed_scan",
    "q_text_ngram_novelty", "snk_netcdf4_write_enum_opaque",
    "q_agg_weighted_percentile", "q_validate_referential",
    "q_multimodal_audio_resample", "q_report_waiting_orders",
    "q_sample_shard_rendezvous", "q_ml_naive_bayes", "q_fn_xml",
    "src_netcdf_describe", "snk_netcdf4_write_dir", "q_win_drawdown",
    "q_report_idle_rich_customers", "q_stream_distinct_bitmap",
    "q_text_entropy", "q_dedup_minhash_calibration",
    # round 13
    "q_dedup_substring_spans", "q_text_pii_scrub",
    "q_stream_pipeline_curation", "src_netcdf4_compound_ref_scan",
    "q_dedup_substring_maximal", "src_netcdf4_compound_regref_scan",
    "q_dedup_substring_cross_corpus", "q_dedup_substring_fingerprint",
    # round 14
    "q_dedup_substring_rewrite", "q_dedup_substring_winnow",
    "q_pipeline_curation_full", "q_stream_pipeline_curation_full",
    "q_dedup_substring_rewrite_anchored",
    "q_dedup_substring_decontam_rewrite",
    # round 15
    "q_sample_budget_decontam", "q_stream_pipeline_curation_rewrite",
    "q_dedup_substring_decontam_anchored", "src_orc_ingest",
    "q_pipeline_curation_surgical",
    "q_dedup_substring_rewrite_bucketed", "q_multimodal_qoi_decode",
    "q_multimodal_gif_frames", "q_multimodal_audio_g711",
    # round 16
    "q_multimodal_jpeg_decode", "q_sim_ivfpq_recall",
    "q_stream_dedup_substring_anchored",
    "q_sim_pq_train_codebook", "q_sim_pq_trained_recall",
    "q_multimodal_jpeg_progressive", "q_sim_ivf_nprobe_sweep",
    "q_multimodal_decode_dispatch", "q_multimodal_audio_flac",
    "q_multimodal_tiff_decode", "q_multimodal_video_mjpeg",
    "q_stream_dedup_substring_ttl", "q_multimodal_audio_dispatch",
    "q_multimodal_phash_cross_container",
    # round 17
    "q_sim_ivf_train_coarse", "q_sim_ivfpq_trained_recall",
    "q_dedup_semantic_trained", "q_multimodal_tiff_g4",
    "q_multimodal_audio_adpcm", "q_multimodal_tiff_tiled",
    "q_multimodal_scanned_archive",
    # round 18
    "q_sim_ivfpq_production_recall", "q_multimodal_audio_vorbis",
    "q_multimodal_png16",
]


@pytest.mark.parametrize("key", NEW_KEYS)
def test_oracle_match(check, key):
    assert key in REGISTRY
    check(key)


def test_chunk_windows_zero_shuffle(spark):
    """Context-window chunking must run at scan speed: no exchange."""
    df = REGISTRY["q_chunk_context_windows"].builder(spark, SF_DIR)
    plans.assert_max_shuffles(df, 0)


def test_weighted_sample_single_shuffle(spark):
    """Keep/drop is a map-side predicate; only the audit agg shuffles."""
    df = REGISTRY["q_sample_weighted"].builder(spark, SF_DIR)
    plans.assert_max_shuffles(df, 1)


def test_funnel_no_cartesian(spark):
    df = REGISTRY["q_funnel_conversion"].builder(spark, SF_DIR)
    plans.assert_no_cartesian(df)


def test_retention_cohort_broadcast(spark):
    """Cohort-size join must broadcast (|weeks| rows vs the matrix)."""
    df = REGISTRY["q_retention_cohort"].builder(spark, SF_DIR)
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)


def test_outlier_mad_broadcast_groups(spark):
    """Both per-group median tables join back via broadcast."""
    df = REGISTRY["q_outlier_mad"].builder(spark, SF_DIR)
    plans.assert_broadcast_joins(df, at_least=2)
    plans.assert_no_cartesian(df)


def test_melt_single_shuffle(spark):
    """stack() is local; the only exchange is the keyed aggregation."""
    df = REGISTRY["q_unpivot_melt"].builder(spark, SF_DIR)
    plans.assert_max_shuffles(df, 1)


def test_funnel_monotone(spark):
    """Funnel stages can only shrink, and 7d conversions are a subset."""
    row = (
        REGISTRY["q_funnel_conversion"].builder(spark, SF_DIR).collect()[0]
    )
    assert row.n_view >= row.n_click_after_view >= row.n_purchase_after_click
    assert row.n_converted_7d <= row.n_purchase_after_click


def test_chunk_windows_cover_and_overlap(spark):
    """Chunks tile each doc: chunk i starts at i*stride+1; every token
    index is covered; consecutive chunks overlap by chunk-stride."""
    rows = (
        REGISTRY["q_chunk_context_windows"]
        .builder(spark, SF_DIR)
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 500  # every doc produced at least one chunk
    for doc, chunks in list(by_doc.items())[:50]:
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.start_tok == c.chunk_idx * 24 + 1
            assert 1 <= c.n_tokens <= 32
        # full coverage: last chunk must reach the end of the doc
        last = chunks[-1]
        if len(chunks) > 1:
            prev = chunks[-2]
            assert last.start_tok <= prev.start_tok + prev.n_tokens


def test_histogram_totals(spark):
    rows = REGISTRY["q_agg_histogram"].builder(spark, SF_DIR).collect()
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchone()[0]
    assert sum(r.n for r in rows) == n
    assert all(0 <= r.bucket_id <= 19 for r in rows)
    assert all(r.hi - r.lo == 6000 for r in rows)


def test_triangles_sane(spark):
    row = REGISTRY["q_graph_triangles"].builder(spark, SF_DIR).collect()[0]
    assert row.n_edges > 0 and row.n_nodes > 0
    # canonical orientation bound: triangles <= edges * max-degree is loose;
    # the hard invariant is non-negativity + determinism (oracle hash covers
    # the exact value)
    assert row.n_triangles >= 0


def test_sessionize_single_shuffle(spark):
    """Windows + roll-up all share the user_id partitioning."""
    df = REGISTRY["q_sessionize_gap"].builder(spark, SF_DIR)
    plans.assert_max_shuffles(df, 1)


def test_validate_constraints_all_pass(spark):
    rows = (
        REGISTRY["q_validate_constraints"].builder(spark, SF_DIR).collect()
    )
    assert len(rows) == 5
    assert all(r.passed for r in rows), [
        (r.check_name, r.n_violations) for r in rows if not r.passed
    ]


def test_table_diff_classes(spark):
    rows = REGISTRY["q_table_diff"].builder(spark, SF_DIR).collect()
    by = {r.change_type: r for r in rows}
    assert set(by) == {"added", "removed", "changed", "unchanged"}
    assert by["added"].n == 100  # keys < 100 re-inserted shifted
    assert by["changed"].sum_delta_cents == by["changed"].n * 100
    assert by["removed"].n > 0


def test_fuzzy_join_self_recovery(spark):
    """Every probe (name with one char dropped) re-finds its own key,
    and candidate generation is an equi-join (no cartesian)."""
    df = REGISTRY["q_join_fuzzy_levenshtein"].builder(spark, SF_DIR)
    plans.assert_no_cartesian(df)
    rows = df.collect()
    assert len(rows) == 1500
    assert all(r.self_found for r in rows)


def test_pattern_burst_single_shuffle(spark):
    """Both row_number windows + the roll-up share user_id partitioning.
    (The per-type window adds event_type to the partition key, which
    Spark satisfies with the same user_id exchange + a local sort.)"""
    df = REGISTRY["q_win_pattern_burst"].builder(spark, SF_DIR)
    plans.assert_max_shuffles(df, 2)  # user_id + (user_id, type) exchanges
    rows = df.collect()
    assert all(r.n_errors >= 3 for r in rows)


def test_incremental_merge_equals_full(spark):
    """merge(partial(base), partial(delta)) == full recompute, column
    by column (the oracle hash already proves it; this is the explicit
    algebraic statement)."""
    import duckdb

    merged = {
        r.o_orderstatus: r
        for r in REGISTRY["q_agg_incremental_merge"]
        .builder(spark, SF_DIR)
        .collect()
    }
    full = duckdb.sql(
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents "
        f"FROM '{SF_DIR}/orders.parquet' GROUP BY o_orderstatus"
    ).fetchall()
    for status, n, cents in full:
        assert merged[status].n == n
        assert merged[status].cents == cents


def test_per_group_sample_fixed_size(spark):
    rows = REGISTRY["q_sample_per_group"].builder(spark, SF_DIR).collect()
    by_lang: dict[str, int] = {}
    for r in rows:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    assert all(v == 10 for v in by_lang.values()), by_lang


def test_corr_matrix_bounds(spark):
    rows = REGISTRY["q_agg_corr_matrix"].builder(spark, SF_DIR).collect()
    assert len(rows) == 3
    assert all(-1.0 <= r.corr_4dp <= 1.0 for r in rows)
    # quantity and extendedprice are independent draws in the fixture;
    # price_discount likewise — correlations should be near zero, which
    # also guards against a units/scale bug inflating them
    assert all(abs(r.corr_4dp) < 0.2 for r in rows), rows


def test_report_top_returns_plan(spark):
    """Q10 shape: top-20 via TakeOrdered (no global sort), nation
    broadcast, no cartesian."""
    df = REGISTRY["q_report_top_returns"].builder(spark, SF_DIR)
    plan = plans.executed_plan_string(df)
    assert "TakeOrderedAndProject" in plan
    plans.assert_broadcast_joins(df, at_least=1)
    plans.assert_no_cartesian(df)


def test_report_market_share_shares_sum(spark):
    """Per-year ppm shares must sum to ~1e6 (floor truncation loses at
    most |nations| ppm per year)."""
    rows = (
        REGISTRY["q_report_market_share"].builder(spark, SF_DIR).collect()
    )
    by_year: dict[int, int] = {}
    n_by_year: dict[int, int] = {}
    for r in rows:
        by_year[r.o_year] = by_year.get(r.o_year, 0) + r.share_ppm
        n_by_year[r.o_year] = n_by_year.get(r.o_year, 0) + 1
    for y, total in by_year.items():
        assert 1000000 - n_by_year[y] <= total <= 1000000, (y, total)


def test_mg_sketch_candidates_superset(spark):
    """The MG candidate set must contain every true 2% heavy hitter
    under an adversarial repartitioning (the pigeonhole guarantee)."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.operators.profiling import (
        _mg_sketch_partition,
    )
    from netcdf4_variable_streamer_spark.tables import load_table

    tok = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # skew the layout: 3 partitions keyed by token hash (worst case for
    # a per-partition sketch: each heavy token concentrated in one part)
    skewed = tok.repartition(3, F.crc32("tok"))
    cands = {
        r.tok
        for r in skewed.mapInPandas(
            _mg_sketch_partition, schema="tok string"
        ).collect()
    }
    truth = {
        r.tok
        for r in REGISTRY["q_agg_heavy_hitters"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert truth <= cands, truth - cands


def test_point_in_time_versions(spark):
    """Orders before the cutover must only ever see version 1; v2 rows
    exist only from the cutover year on, and totals cover all orders."""
    import duckdb

    rows = (
        REGISTRY["q_join_point_in_time"].builder(spark, SF_DIR).collect()
    )
    assert all(r.o_year >= 1998 for r in rows if r.version == 2)
    n_orders = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()[0]
    assert sum(r.n_orders for r in rows) == n_orders  # exactly one
    # version matched per fact row — no gaps, no double-matches


def test_bloom_bitmap_prunes(spark):
    """The hand-built k=2 Bloom bitmap must admit every true key (no
    false negatives — guaranteed by construction, checked anyway via the
    oracle test) and reject the bulk of non-matching fact rows."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders")
    total = o.count()
    exact = o.join(
        load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("k")),
        F.col("o_custkey") == F.col("k"),
        "semi",
    ).count()
    out = REGISTRY["q_join_bloom_pruned"].builder(spark, SF_DIR)
    n_match = sum(r.n_orders for r in out.collect())
    assert n_match == exact
    # pruning power: with 8% selectivity and an 8 KiB bitmap the
    # candidate set must be far below the full table (FP rate << 1)
    m_bits = 1 << 16
    dim_n = (
        load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_acctbal") < 0)
        .count()
    )
    fp_bound = (1.0 - 2.718281828 ** (-2.0 * dim_n / m_bits)) ** 2
    assert fp_bound < 0.01


def test_hierarchy_flatten_reaches_depth_6(spark):
    """The convergence loop must go past any small unrolled bound: the
    ternary tree over sf0.01 custkeys is >= 6 levels deep, and every
    level must be present in the closure (VERDICT r2 #5)."""
    from pyspark.sql import functions as F

    df = REGISTRY["q_hierarchy_flatten"].builder(spark, SF_DIR)
    got = df.agg(F.max("depth").alias("d")).first()["d"]
    assert got >= 6, f"closure stopped at depth {got}"


def test_equidepth_approx_tracks_exact_twin(spark):
    """The sampled-boundary path must stay near perfect depth: every
    bucket's count within 25% of N/10 (the exact twin is perfectly
    equi-depth by construction, so this bounds the sampling error)."""
    from pyspark.sql import functions as F

    df = REGISTRY["q_agg_histogram_equidepth_approx"].builder(spark, SF_DIR)
    rows = df.collect()
    total = sum(r["n"] for r in rows)
    target = total / 10
    for r in rows:
        assert abs(r["n"] - target) <= 0.25 * target, (
            f"bucket {r['bucket_id']}: {r['n']} vs target {target}"
        )


def test_q_agg_sum_wide_oracle(check):
    """dsum_wide: per-group fixed-point totals ~1e20 — an order of
    magnitude past int64 — accumulate exactly in DECIMAL(38,0) and
    hash-match DuckDB's HUGEINT mirror."""
    pdf = check("q_agg_sum_wide")
    assert len(pdf) == 3
    # the demonstration is real: every group's fixed-point sum
    # overflows an int64 accumulator
    assert (pdf["sum_scaled"] * 1e6 > 2**63).all()


def test_dsum_wide_exact_where_dsum_overflows(spark):
    """Direct overflow demonstration: two rows whose fixed-point values
    sum past 2^63 — dsum's int64 accumulator throws Spark's ANSI
    ARITHMETIC_OVERFLOW while dsum_wide returns the exact total."""
    from netcdf4_variable_streamer_spark.operators.aggregates import (
        dsum_wide,
    )
    from netcdf4_variable_streamer_spark.registry import dsum

    v = 6.0e12  # floor(v * 1e6) = 6e18; two rows -> 1.2e19 > 2^63-1
    df = spark.createDataFrame([(v,), (v,)], "x double")
    wide = df.agg(dsum_wide("x").alias("s")).first()["s"]
    assert wide == 2 * v
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(dsum("x").alias("s")).first()


def test_floor_double_saturates_silently(spark):
    """Round-10 measured behavior pin: Spark's floor(double) -> BIGINT
    SATURATES to Long.MAX silently even under ANSI mode (an explicit
    cast throws CAST_OVERFLOW). This is the reason the per-row
    ~9.2e12 bound on dsum/dsum_wide/davg_wide/sharded_fixed_agg is a
    documented CALLER obligation, not an ANSI-enforced one — if this
    pin ever fails (Spark makes floor loud), the docstrings can drop
    the silent-saturation warning."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(1.8e19,)], "x double")
    assert (
        df.select(F.floor("x").alias("f")).first()["f"]
        == (1 << 63) - 1
    )
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        df.select(F.col("x").cast("long")).first()


def test_davg_wide_exact_where_davg_overflows(spark):
    """ADVICE r9 #3: davg_wide's divide-after-widened-sum shape stays
    verified — the same two past-int64 rows that overflow davg's int64
    sum average exactly through the DECIMAL(38,0) accumulator."""
    from netcdf4_variable_streamer_spark.operators.aggregates import (
        davg_wide,
    )
    from netcdf4_variable_streamer_spark.registry import davg

    # per-row values stay inside dsum_wide's documented per-row
    # ~9.2e12 bound (floor(double) -> long); the two-row SUM is what
    # exceeds int64
    v = 6.0e12  # floor(v * 1e6) = 6e18; two rows -> 1.2e19 > 2^63-1
    df = spark.createDataFrame([(v,), (v,)], "x double")
    wide = df.agg(davg_wide("x").alias("m")).first()["m"]
    assert wide == v
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(davg("x").alias("m")).first()


def test_sharded_fixed_agg_exact_where_dsum_overflows(spark):
    """sharded_fixed_agg: int64 partials per (keys, input partition),
    DECIMAL(38,0) merge — a group total past 2^63 split across
    partitions aggregates exactly (dsum on the same frame throws
    ANSI ARITHMETIC_OVERFLOW), avgs and counts come along, and the
    per-row hot path never touches decimal."""
    from netcdf4_variable_streamer_spark.operators.aggregates import (
        sharded_fixed_agg,
    )
    from netcdf4_variable_streamer_spark.registry import dsum

    v = 6.0e12  # floor(v * 1e6) = 6e18 per row; 2 rows/group > 2^63
    df = spark.createDataFrame(
        [("a", v), ("a", v), ("b", 1.5)], "k string, x double"
    ).repartition(2)  # split the hot group across input partitions
    got = {
        r["k"]: r
        for r in sharded_fixed_agg(
            df,
            ["k"],
            sums={"s": "x"},
            avgs={"m": "x"},
            count_alias="n",
        ).collect()
    }
    assert got["a"]["s"] == 2 * v and got["a"]["n"] == 2
    assert got["a"]["m"] == v
    assert got["b"]["s"] == 1.5 and got["b"]["m"] == 1.5
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(dsum("x").alias("s")).collect()
    # two-level shape is in the plan: level 1 groups by the input
    # partition id (int64 per-row path), level 2 merges the partials
    plan = sharded_fixed_agg(
        df, ["k"], sums={"s": "x"}
    )._jdf.queryExecution().executedPlan().toString()
    # the decimal appears only as the merge of the int64 partial
    # column (sum(cast(__s_s as decimal(38,0)))) — the per-row path
    # stays int64 (toString truncates long lines, so match the final
    # aggregate's function text, not the whole tree)
    assert "sum(cast(__s_s" in plan and "decimal(38,0)" in plan


def test_pca_centers_by_mean_not_sum(spark):
    """Power iteration must center by the per-dim MEAN: centering by
    the per-dim SUM (a round-9 self-review finding — both engines
    mirrored it, so the oracle hash could not catch it) leaves a
    rank-one (1-N)^2·mu·mu^T term that dominates X'^T X', and the
    'component' converges to the mean DIRECTION instead of the top
    covariance eigenvector (cos ≈ 1.0 with the mean on this data).
    Replicate the pipeline in numpy with true mean-centering and
    assert near-exact alignment — and non-alignment with the mean."""
    import numpy as np

    got = (
        REGISTRY["q_emb_pca_power"]
        .builder(spark, SF_DIR)
        .toPandas()
        .sort_values("dim")
    )
    comp = got["component"].to_numpy(dtype=np.float64)
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
    )
    X = np.stack(emb.to_numpy()).astype(np.float64)
    C = X - X.mean(axis=0)
    v = np.full(X.shape[1], 0.125)
    for _ in range(3):
        w = C.T @ (C @ v)
        v = w / np.linalg.norm(w)
    cos = abs(comp @ v) / (
        np.linalg.norm(comp) * np.linalg.norm(v)
    )
    assert cos > 0.999  # engine quantization is 1e-6 fixed point
    mu = X.mean(axis=0)
    cos_mu = abs(comp @ mu) / (
        np.linalg.norm(comp) * np.linalg.norm(mu)
    )
    assert cos_mu < 0.9  # the sum-centering bug sits at ~0.99999997


def test_ivfpq_recall_accounting_pins_quantization_loss(spark):
    """Round-16 ANN recall accounting: the per-method rows must tell
    the true story on this fixture — IVF pruning alone (ivf_exact)
    keeps recall well above the in-key 0.5 floor at every k, while
    BOTH 2-bit-per-subspace ADC paths collapse (< 0.2 recall at
    every k): quantization, not pruning, dominates the loss, so
    serving at this codebook size must exact-rescore probed lists.
    Also pins that every row meets its floor (the in-key assertion
    column) and that the spine is complete (3 methods x 3 ks)."""
    rows = (
        REGISTRY["q_sim_ivfpq_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["method", "k"])
        .sort_index()
    )
    assert len(rows) == 9
    assert rows["meets_floor"].all()
    for k in (1, 3, 5):
        assert rows.loc[("ivf_exact", k), "recall"] >= 0.5, k
        assert rows.loc[("ivfpq_adc", k), "recall"] < 0.2, k
        assert rows.loc[("pq_adc", k), "recall"] < 0.2, k
    # hits are consistent with recall (hits = recall * k * n_queries)
    for (m, k), r in rows.iterrows():
        assert r["hits"] == round(r["recall"] * k * r["n_queries"])


def test_trained_codebook_lifts_recall(spark):
    """Round-16 codebook training must BUY something measurable: the
    trained 16-entry/2-round ADC path's recall@5 must strictly exceed
    the untrained 4-entry path's (the q_sim_ivfpq_recall 'pq_adc'
    row) on the same fixture, and every trained row must meet its
    in-key floor. Also sanity-pins the training key: 8 subspaces,
    no centroid claims more members than the corpus, member counts
    per subspace sum to the number of vectors with >= 64 dims."""
    trained = (
        REGISTRY["q_sim_pq_trained_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index("k")
    )
    base = (
        REGISTRY["q_sim_ivfpq_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    base5 = base[(base.method == "pq_adc") & (base.k == 5)][
        "recall"
    ].iloc[0]
    assert trained.loc[5, "recall"] > base5
    assert trained["meets_floor"].all()
    cb = (
        REGISTRY["q_sim_pq_train_codebook"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    assert set(cb["s"]) == set(range(8))
    n_vec = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    )
    per_sub = cb.groupby("s")["n_members"].sum()
    assert (per_sub == n_vec).all()
    assert (cb["n_members"] <= n_vec).all()


def test_nprobe_sweep_tradeoff_shape(spark):
    """The round-16 nprobe sweep must have the structural properties
    an operating-point curve promises: recall non-decreasing in
    nprobe at every k; EXACT recall (1.0) at nprobe = nlist (pruning
    off); candidate cost strictly increasing in nprobe; and the
    nprobe=2 rows must agree exactly with q_sim_ivfpq_recall's
    'ivf_exact' rows (same path, two keys — any drift is a bug in
    one of them)."""
    sweep = (
        REGISTRY["q_sim_ivf_nprobe_sweep"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["nprobe", "k"])
        .sort_index()
    )
    assert len(sweep) == 9
    for k in (1, 3, 5):
        r1 = sweep.loc[(1, k), "recall"]
        r2 = sweep.loc[(2, k), "recall"]
        r4 = sweep.loc[(4, k), "recall"]
        assert r1 <= r2 <= r4, k
        assert r4 == 1.0, k
    c = sweep.reset_index().groupby("nprobe")["avg_candidates"].first()
    assert c[1] < c[2] < c[4]
    base = (
        REGISTRY["q_sim_ivfpq_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    ivfx = base[base.method == "ivf_exact"].set_index("k")
    for k in (1, 3, 5):
        assert (
            sweep.loc[(2, k), "hits"] == ivfx.loc[k, "hits"]
        ), k


def test_trained_ivfpq_chain_lifts_recall(spark):
    """Round-17 payoff pin (VERDICT r16 #2): serving the IVF-PQ chain
    from TRAINED quantizers must beat the untrained chain it
    replaces. On the sf0.01 fixture: trained ADC recall@5 = 0.22 vs
    the untrained ivfpq_adc's 0.01 (q_sim_ivfpq_recall rows), and
    trained coarse pruning (nprobe/nlist = 2/8, a 25% probe
    fraction) holds recall@5 >= 0.5 where the untrained chain needed
    2/4 = 50% of the corpus for 0.73. Also pins the coarse-training
    key's invariants: every trained centroid row accounted for,
    member counts partition the corpus."""
    trained = (
        REGISTRY["q_sim_ivfpq_trained_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["method", "k"])
        .sort_index()
    )
    assert len(trained) == 6
    assert trained["meets_floor"].all()
    base = (
        REGISTRY["q_sim_ivfpq_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["method", "k"])
    )
    for k in (1, 3, 5):
        assert (
            trained.loc[("ivfpq_adc_trained", k), "recall"]
            > base.loc[("ivfpq_adc", k), "recall"]
        ), k
        assert (
            trained.loc[("ivf_exact_trained", k), "recall"] >= 0.5
        ), k
    cb = (
        REGISTRY["q_sim_ivf_train_coarse"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    n_vec = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    )
    assert len(cb) <= 8  # Lloyd may drop empty clusters
    assert cb["n_members"].sum() == n_vec
    assert (cb["n_members"] <= n_vec).all()


def test_trained_semdedup_lifts_recall_at_lower_pair_volume(spark):
    """Round-17 SemDeDup training pin (VERDICT r16 #5): replacing the
    16 arbitrary seed centroids with trained k-means centroids must
    buy measurable structure — on the sf0.01 fixture the trained
    twin recovers MORE true duplicates (68 vs 61 of the 201 the
    exact all-pairs ground truth finds at tau=0.35) at NO MORE
    quadratic within-cluster pair volume (Σ|cluster|² 15,976 vs
    16,062). Clusters still partition the corpus."""
    t = (
        REGISTRY["q_dedup_semantic_trained"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    u = (
        REGISTRY["q_dedup_semantic"].builder(spark, SF_DIR).toPandas()
    )
    n_vec = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    )
    assert len(t) == len(u) == n_vec

    def pair_volume(df):
        sizes = df.groupby("cluster_id").size()
        return int((sizes * sizes).sum())

    assert t["is_dup"].sum() > u["is_dup"].sum()
    assert pair_volume(t) <= pair_volume(u)
    # canonical ids are cluster-internal: every canonical is a vec
    # of the same cluster, and non-dups are their own canonical
    keep = t[t.is_dup == 0]
    assert (keep["canonical_id"] == keep["vec_id"]).all()


def test_phash_cross_container_clusters_mix_formats(spark):
    """The round-16 cross-container dedup composite must demonstrate
    the thing it exists for: duplicate clusters MIX container
    formats (byte-level payload dedup would find nothing), every
    multi-member cluster spans >1 format at fixture scale, and the
    keeper election matches the plain phash key's shape."""
    got = (
        REGISTRY["q_multimodal_phash_cross_container"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    multi = got[got.cluster_n > 1]
    assert len(multi) > 0
    assert (multi["n_formats"] > 1).all()
    assert set(got["fmt"]) == {
        "bmp", "ppm", "png", "qoi", "gif", "tiff", "tiff_pb"
    }
    # keeper is a member of its own cluster and not a dup
    keepers = got[~got.is_dup]
    assert (keepers["doc_id"] == keepers["keep_doc"]).all()


def test_production_ivfpq_recall_at_scale_parameters(spark, tmp_path):
    """Round-18 production-shaped ANN pin (VERDICT r17 #4): the
    trained chain re-parameterized at deployment scale — nlist =
    floor(sqrt(N)), nprobe = nlist // 8, 256-entry PQ codebooks, and
    the FAISS-style refine stage (exact rescore of the ADC top-50
    shortlist). At sf0.01 (nlist=22): exact pruning 0.93@5, raw ADC
    0.52@5 (vs the fixture-sized trained chain's 0.62/0.22),
    ADC+refine 0.93@5. On a 10x PERTURBED-replica fixture (5,000
    vectors, nlist=70 — each vector's true neighbors are its 9
    jittered siblings, a real retrieval task, not byte duplicates)
    refine holds recall@{1,3,5} = 1.0 — the >= 0.8 regime the
    serving chain exists to reach."""
    import duckdb

    prod = (
        REGISTRY["q_sim_ivfpq_production_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["method", "k"])
        .sort_index()
    )
    assert len(prod) == 9
    trained = (
        REGISTRY["q_sim_ivfpq_trained_recall"]
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index(["method", "k"])
    )
    for k in (1, 3, 5):
        assert (
            prod.loc[("ivfpq_adc_prod", k), "recall"]
            > trained.loc[("ivfpq_adc_trained", k), "recall"]
        ), k
        assert prod.loc[("ivf_exact_prod", k), "recall"] >= 0.8, k
        assert (
            prod.loc[("ivfpq_refine_prod", k), "recall"] >= 0.9
        ), k
        # refine can only improve on raw ADC (same shortlist, exact
        # distances)
        assert (
            prod.loc[("ivfpq_refine_prod", k), "recall"]
            >= prod.loc[("ivfpq_adc_prod", k), "recall"]
        ), k
    assert prod.loc[("ivfpq_refine_prod", 5), "recall"] >= 0.8

    # 10x perturbed-replica fixture: replica r of vector v carries a
    # deterministic +-0.005 per-dim jitter, so ground truth is real
    dst = tmp_path / "sf10x"
    dst.mkdir()
    duckdb.sql(f"""
COPY (
  SELECT vec_id + r.range * 500 AS vec_id,
         LIST_TRANSFORM(generate_series(1, 64), i ->
           embedding[CAST(i AS INTEGER)]
           + 0.001 * ((vec_id * 7 + r.range * 13 + i * 3) % 11 - 5))
           AS embedding,
         label
  FROM '{SF_DIR}/embeddings.parquet', range(0, 10) r
) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
""")
    big = (
        REGISTRY["q_sim_ivfpq_production_recall"]
        .builder(spark, str(dst))
        .toPandas()
        .set_index(["method", "k"])
    )
    for k in (1, 3, 5):
        assert big.loc[("ivfpq_refine_prod", k), "recall"] == 1.0, k
        assert big.loc[("ivf_exact_prod", k), "recall"] == 1.0, k
