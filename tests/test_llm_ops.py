"""Oracle-differential + semantic tests for the B-10 LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal)."""

from __future__ import annotations

import pytest

SQL_KEYS = [
    "q_dedup_exact", "q_dedup_ngram_jaccard",
    "q_dedup_near_minhash", "q_dedup_simhash",
    "q_dedup_embed_cosine", "q_dedup_cc_clusters",
    "q_sim_knn_cosine", "q_sim_knn_blocked", "q_sim_threshold_pairs",
    "q_sim_lsh_ann", "q_sim_ivf_ann", "q_sim_threshold_lsh",
    "q_text_stats", "q_text_tfidf_top", "q_text_langid", "q_text_quality",
    "q_text_tokens", "q_text_fingerprint", "q_text_unigram_logprob",
    "q_multimodal_bundle", "q_multimodal_features", "q_pivot_lang_source",
    "q_multimodal_image_decode",
    "q_sample_hash_split", "q_sample_stratified",
    "q_dedup_cc_lsh", "q_text_contamination",
    "q_text_repetition", "q_text_boilerplate", "q_text_pii_redact",
    "q_pack_sequences", "q_dedup_semantic",
    "q_multimodal_resize", "q_multimodal_frame_sample", "q_graph_pagerank",
    "q_pipeline_pretrain",
]


@pytest.mark.parametrize("key", SQL_KEYS)
def test_oracle_match(check, key):
    check(key)


def test_minhash_finds_near_dups(check, oracle_con):
    """LSH candidates verified at J>=0.6 must be a subset of (and at near-1
    recall for very-high-J) the exact all-pairs ground truth."""
    pdf = check("q_dedup_near_minhash")
    got = {(int(r.d1), int(r.d2)) for r in pdf.itertuples()}
    truth = oracle_con.execute("""
        WITH sh AS (
          SELECT doc_id,
                 LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, LEN(STRING_SPLIT(text,' ')) - 2),
                   i -> STRING_SPLIT(text,' ')[i] || ' ' ||
                        STRING_SPLIT(text,' ')[i+1] || ' ' ||
                        STRING_SPLIT(text,' ')[i+2])) AS ss
          FROM documents)
        SELECT a.doc_id, b.doc_id,
               CAST(LEN(LIST_INTERSECT(a.ss,b.ss)) AS DOUBLE)
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.ss,b.ss))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(LIST_INTERSECT(a.ss,b.ss)) AS DOUBLE)
              / LEN(LIST_DISTINCT(LIST_CONCAT(a.ss,b.ss))) >= 0.6
    """).fetchall()
    truth_pairs = {(int(a), int(b)) for a, b, _ in truth}
    high = {(int(a), int(b)) for a, b, j in truth if j >= 0.9}
    assert got <= truth_pairs, "LSH reported a pair below the J threshold"
    if high:
        recall = len(got & high) / len(high)
        assert recall >= 0.9, f"recall@J>=0.9 too low: {recall}"


def test_simhash_rows(check):
    pdf = check("q_dedup_simhash")
    assert (pdf["hamming"] <= 3).all()


def test_lsh_ann_recall_assertion(check):
    """The LSH ANN key emits its own quality gate: one row asserting mean
    recall@5 vs exact top-5 >= 0.7 (multi-probe, 8 tables x 6 bits)."""
    ann = check("q_sim_lsh_ann")
    assert len(ann) == 1
    assert bool(ann.loc[0, "recall_ok"])
    assert int(ann.loc[0, "n_queries"]) == 20


def test_multimodal_codec_stubs_gated():
    """Decode stubs raise NotImplementedError without codecs, and the fake
    path produces the documented schema."""
    import pandas as pd
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions import multimodal as mm

    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"hello world" * 10]})
    with _pytest.raises(NotImplementedError):
        list(mm.decode_audio_batches(iter([pdf])))
    (img,) = list(mm.decode_image_batches(iter([pdf]), fake=True))
    assert list(img.columns) == ["doc_id", "width", "height", "n_channels",
                                 "mean_pixel"]
    (aud,) = list(mm.decode_audio_batches(iter([pdf]), fake=True))
    assert aud.loc[0, "n_samples"] == 110
    frames = list(mm.frame_sample_batches(iter([pdf]), fake=True))
    assert len(frames[0]) == 2  # 110 bytes / 64-byte frames → 2 frames


def test_bmp_ppm_codec_roundtrip():
    """The pure-NumPy BMP/PPM codecs are REAL (no stub): encode→decode is
    exact for arbitrary uint8 images, including widths whose BMP rows
    need 4-byte padding, and the decoders handle spec edge cases
    (top-down BMP, PPM header comments)."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions import multimodal as mm

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (5, 6), (8, 8), (3, 7), (16, 5)]:
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (mm.decode_bmp(mm.encode_bmp(img)) == img).all(), (h, w)
        assert (mm.decode_ppm(mm.encode_ppm(img)) == img).all(), (h, w)

    # top-down BMP (negative height): rows stored first-row-first
    img = rng.randint(0, 256, size=(4, 3, 3), dtype=np.uint8)
    b = bytearray(mm.encode_bmp(img[::-1]))  # encode flipped…
    import struct

    struct.pack_into("<i", b, 22, -4)  # …then mark as top-down
    assert (mm.decode_bmp(bytes(b)) == img[::-1][::-1]).all()

    # PPM with a comment line in the header
    ppm = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
    assert mm.decode_ppm(ppm).shape == (2, 3, 3)

    # magic dispatch: BMP/PPM decode without any codec library or fake flag
    import pandas as pd

    payloads = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [mm.encode_bmp(img), mm.encode_ppm(img)],
        }
    )
    (out,) = list(mm.decode_image_batches(iter([payloads])))
    assert (out["width"] == 3).all() and (out["height"] == 4).all()
    assert out.loc[0, "mean_pixel"] == out.loc[1, "mean_pixel"]


def test_plsh_bucketize_bit_identical_to_sequential_fold():
    """The vectorized NumPy bucketizer (mapInArrow kernel) must produce
    the exact bucket every row would get from a strict left-to-right
    scalar fold over dimensions — the operation order the SQL HOF and
    the DuckDB oracle's LIST_SUM use. Guards the kernel's core
    invariant: if the accumulation is ever swapped for a BLAS matmul,
    reassociation can flip near-zero sign bits and silently change the
    candidate set. Runs on the real sf0.001 embeddings, no Spark."""
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators.similarity import (
        _PLSH_BITS,
        _PLSH_TABLES,
        _plsh_bucketize,
        _plsh_plane,
    )

    tbl = pq.read_table(
        "/root/testdata/sf0.001/embeddings.parquet",
        columns=["vec_id", "embedding"],
    )
    got = {}
    for out in _plsh_bucketize(tbl.to_batches()):
        d = out.to_pydict()
        for vid, t, b in zip(d["vec_id"], d["tbl"], d["bucket"]):
            got[(vid, t)] = b

    rows = tbl.to_pydict()
    planes = {
        (t, b): _plsh_plane(t, b)
        for t in range(_PLSH_TABLES)
        for b in range(_PLSH_BITS)
    }
    assert len(rows["vec_id"]) > 0
    for vid, emb in zip(rows["vec_id"], rows["embedding"]):
        for t in range(_PLSH_TABLES):
            want = 0
            for b in range(_PLSH_BITS):
                p = planes[(t, b)]
                acc = 0.0
                for d_ in range(64):  # strict sequential fold
                    acc += float(emb[d_]) * p[d_]
                if acc > 0:
                    want |= 1 << b
            assert got[(vid, t)] == want, (vid, t, got[(vid, t)], want)


def test_exact_pairs_kernel_bit_identical(check):
    """The vectorized exact all-pairs kernel (mapInArrow, round 19)
    must emit exactly the pairs — and exactly the cos doubles — a
    strict left-to-right scalar fold over dimensions produces (the
    operation order of the previous zip_with/aggregate theta-join and
    of the DuckDB oracle's LIST_SUM). Guards the kernel's core
    invariant: if the accumulation is ever swapped for a BLAS matmul,
    reassociation can move pairs across the tau threshold. Runs on the
    real sf0.001 embeddings, no Spark."""
    import math

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators.similarity import (
        TAU,
        _exact_pairs_kernel,
    )

    del check  # fixture unused — pure-kernel test
    sf_dir = "/root/testdata/sf0.001"
    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    got = {}
    for out in _exact_pairs_kernel(sf_dir, TAU)(tbl.to_batches()):
        d = out.to_pydict()
        for v1, v2, c in zip(d["v1"], d["v2"], d["cos"]):
            got[(v1, v2)] = c

    rows = tbl.to_pydict()
    embs = dict(zip(rows["vec_id"], rows["embedding"]))

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):  # strict sequential fold
            acc = acc + float(x) * float(y)
        return acc

    nrm = {k: math.sqrt(dot(v, v)) for k, v in embs.items()}
    ids = sorted(embs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = dot(embs[a], embs[b]) / (nrm[a] * nrm[b])
            if c >= TAU:
                want[(a, b)] = c
    assert len(want) > 0
    assert got == want  # same pairs AND bit-equal doubles


def test_threshold_lsh_subset_and_recall(check):
    """LSH-prefiltered threshold pairs vs the exact quadratic baseline:
    precision is 1 by construction (exact verify on candidates) so every
    reported pair must be in the exact set; recall at tau follows sign-
    LSH theory (~0.35 for mid-similarity pairs with 8 tables x 6 bits —
    this corpus has no planted high-cos near-dups, where collision
    probability, and thus recall, would approach 1)."""
    lsh = check("q_sim_threshold_lsh")
    exact = check("q_sim_threshold_pairs")
    got = {(int(r.v1), int(r.v2)) for r in lsh.itertuples()}
    ex = {(int(r.v1), int(r.v2)) for r in exact.itertuples()}
    assert got <= ex, "LSH reported a pair the exact baseline lacks"
    assert len(got) / max(len(ex), 1) >= 0.25, (
        f"recall collapsed: {len(got)}/{len(ex)}"
    )


def test_ivf_ann_recall_vs_exact(check):
    """IVF with nprobe=4/nlist=16 emits its own >=0.7 recall@5 gate
    against exact k-NN as a hash-checked boolean row."""
    ann = check("q_sim_ivf_ann")
    assert len(ann) == 1
    assert bool(ann.loc[0, "recall_ok"])


def test_cc_lsh_is_finer_than_exact(check):
    """Clustering over the LSH (recall<1) edge subset can only MISS
    merges, never invent them: every vector's LSH component id must be
    >= its exact component id (min over a smaller reachable set)."""
    exact = check("q_dedup_cc_clusters").set_index("vec_id")
    lsh = check("q_dedup_cc_lsh").set_index("vec_id")
    j = exact.join(lsh, rsuffix="_lsh")
    assert (j["component_id_lsh"] >= j["component_id"]).all()


def test_cc_is_coarser_than_one_hop(check):
    """Transitive clustering must never split what one-hop merged: the
    component id of any vector is <= its one-hop canonical id."""
    one_hop = check("q_dedup_embed_cosine").set_index("vec_id")
    cc = check("q_dedup_cc_clusters").set_index("vec_id")
    joined = one_hop.join(cc)
    assert (joined["component_id"] <= joined["canonical_id"]).all()


def test_multimodal_resize_plumbing(spark):
    """Resize kernel end to end through mapInPandas: constant output
    shape, opaque-binary-out contract, deterministic fake decode."""
    import pandas as pd
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions import multimodal as mm

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [b"x" * 200, b"hello world" * 20]}
    )
    with _pytest.raises(NotImplementedError):
        list(mm.resize_image_batches(iter([pdf])))
    (out,) = list(mm.resize_image_batches(iter([pdf]), fake=True))
    assert list(out.columns) == ["doc_id", "width", "height", "n_channels", "pixels"]
    assert (out["width"] == 4).all() and (out["height"] == 4).all()
    assert all(len(p) == 4 * 4 * 3 for p in out["pixels"])

    # distributed: same kernel through mapInPandas over a binary column
    df = spark.createDataFrame(pdf)
    got = (
        df.mapInPandas(
            lambda it: mm.resize_image_batches(it, fake=True),
            mm.RESIZED_IMAGE_SCHEMA,
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    assert bytes(got.loc[0, "pixels"]) == bytes(out.loc[0, "pixels"])


# ---------------------------------------------------------------------------
# Round-4 additions
# ---------------------------------------------------------------------------


def test_emb_int8_quantize(check):
    """Quantized values stay in [-127,127]; reconstruction error per
    64-dim vector is bounded by 64 * (0.5/scale) — for unit-ish vectors
    that is well under 0.5 total (5e6 at the 1e7 fixed point)."""
    pdf = check("q_emb_int8_quantize")
    assert (pdf["q_abs_sum"] <= 127 * 64).all()
    assert (pdf["err_ppm"] >= 0).all()
    assert (pdf["err_ppm"] < 5_000_000).all()
    # amax really is the max: at least one dim quantizes to +/-127
    assert (pdf["q_abs_sum"] >= 127).all()


def test_text_bigram_logprob(check):
    """Log-probs are negative; add-1 smoothing bounds them below by
    ln(1/(max_ctx + V)); bigram count is tokens-1 for non-empty docs."""
    import numpy as np

    pdf = check("q_text_bigram_logprob")
    assert (pdf["avg_bigram_logprob"] < 0).all()
    assert (pdf["n_bigrams"] >= 1).all()
    assert np.isfinite(pdf["avg_bigram_logprob"]).all()


def test_ctx_derivable_from_bgc(spark):
    """Pin the identity the streaming-loop LM persist relies on
    (round 19): the context-count table is exactly the bigram-count
    table re-aggregated — c_u(w1) = Σ_w2 c_bg(w1, w2), both counting
    tbg rows grouped by w1 — so the loops may derive ctx from the
    persisted bgc parquet instead of re-running the corpus-linear
    tokenize pass. If perplexity_lm's definition of either table ever
    changes, this must fail loudly."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.operators.text import (
        perplexity_lm,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    bgc, ctx, _vsz = perplexity_lm(docs)
    derived = bgc.groupBy("w1").agg(F.sum("c_bg").alias("c_u"))
    got = sorted(
        derived.collect(), key=lambda r: (r["w1"] or "",)
    )
    want = sorted(ctx.collect(), key=lambda r: (r["w1"] or "",))
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_dedup_lines_keeper_semantics(check):
    """The earliest doc keeps everything: the min doc_id in the corpus
    must have zero duplicated chunks, and dup_frac = n_dup/n_chunks."""
    import numpy as np

    pdf = check("q_dedup_lines")
    first = pdf.loc[pdf["doc_id"].idxmin()]
    assert first["n_dup"] == 0
    np.testing.assert_allclose(
        pdf["dup_frac"], pdf["n_dup"] / pdf["n_chunks"]
    )
    assert (pdf["n_dup"] <= pdf["n_chunks"]).all()


def test_curriculum_order(check):
    """Stages are 0..3 and monotone in difficulty; ranks are dense
    1..n within each (stage, bucket)."""
    pdf = check("q_curriculum_order")
    assert set(pdf["stage"]) <= {0, 1, 2, 3}
    # monotone: every stage-s doc is no harder than any stage-(s+1) doc
    bounds = pdf.groupby("stage")["difficulty"].agg(["min", "max"])
    stages = sorted(bounds.index)
    for lo, hi in zip(stages, stages[1:]):
        assert bounds.loc[lo, "max"] <= bounds.loc[hi, "min"] + 95
    for (_s, _b), grp in pdf.groupby(["stage", "bucket"]):
        assert sorted(grp["rank_in_bucket"]) == list(
            range(1, len(grp) + 1)
        )


def test_multimodal_audio_vad(check):
    """Frame accounting: n_frames = ceil(n_samples/160) for the known
    closed-form waveform lengths; voiced fraction in [0,1]; energy of
    the max frame bounded by 160 * 1000^2."""
    pdf = check("q_multimodal_audio_vad").set_index("doc_id")
    for d in pdf.index[:50]:
        n = 400 + (d % 7) * 100
        assert pdf.loc[d, "n_frames"] == -(-n // 160)
    assert ((pdf["voiced_frac"] >= 0) & (pdf["voiced_frac"] <= 1)).all()
    assert (pdf["n_voiced"] <= pdf["n_frames"]).all()
    assert (pdf["max_frame_energy"] <= 160 * 1000 * 1000).all()
    # the threshold actually separates: both classes occur in-corpus
    assert pdf["n_voiced"].sum() > 0
    assert (pdf["n_voiced"] < pdf["n_frames"]).any()


def test_sample_temperature_rebalances(check):
    """alpha=0.5 keeps a LARGER fraction of rarer languages: kept_frac
    must be monotone non-increasing in corpus share, and the total kept
    stays near the 300-doc budget."""
    pdf = check("q_sample_temperature").sort_values("n_docs")
    thr = pdf["thr_ppm"].to_numpy()  # exact keep rates (ppm)
    assert all(thr[i] >= thr[i + 1] for i in range(len(thr) - 1))
    assert 150 <= pdf["n_kept"].sum() <= 450  # Bernoulli noise around 300
    assert (pdf["thr_ppm"] > 0).all()
    # the realized fractions track the thresholds
    import numpy as np

    np.testing.assert_allclose(
        pdf["kept_frac"], pdf["thr_ppm"] / 1e6, atol=0.08
    )


def test_image_phash_dedup_clusters(check):
    """500 docs share 50 distinct images (img = doc_id % 50). Identical
    images MUST hash together (cluster sizes are multiples of 10); a
    perceptual hash may additionally merge visually-close DISTINCT
    images (lossy by design), so the cluster count is <= 50; keepers
    are exactly one min-doc_id per hash, all among the first 50 docs."""
    pdf = check("q_dedup_image_phash")
    assert len(pdf) == 500
    # same image -> same hash, always
    img = pdf["doc_id"] % 50
    per_img = pdf.assign(img=img).groupby("img")[["h_hi", "h_lo"]].nunique()
    assert (per_img == 1).all().all()
    n_hashes = pdf.groupby(["h_hi", "h_lo"]).ngroups
    assert 10 <= n_hashes <= 50, n_hashes
    assert (pdf["cluster_n"] % 10 == 0).all() and (pdf["cluster_n"] >= 10).all()
    keep = pdf[~pdf["is_dup"]]
    assert len(keep) == n_hashes
    assert (keep["doc_id"] < 50).all()


def test_containment_superset_semantics(check, oracle_con):
    """Containment >= Jaccard always (min <= union); the reported pairs
    must include every FULL containment (C = 1.0) pair the exact
    shingle sets exhibit."""
    pdf = check("q_dedup_containment")
    assert len(pdf) > 0
    assert ((pdf["containment"] >= 0.2) & (pdf["containment"] <= 1.0)).all()
    assert (pdf["shared"] <= pdf[["n1", "n2"]].min(axis=1)).all()
    full = oracle_con.execute("""
        WITH d AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ts FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                      ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
               FROM d, UNNEST(generate_series(1, GREATEST(LEN(ts)-2,0))) AS u(i)),
        sets AS (SELECT doc_id, LIST(g) AS gs FROM sh GROUP BY doc_id)
        SELECT a.doc_id, b.doc_id
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        WHERE LEN(LIST_INTERSECT(a.gs, b.gs))
              = LEAST(LEN(a.gs), LEN(b.gs))
          AND LEN(LIST_INTERSECT(a.gs, b.gs)) >= 3
    """).fetchall()
    got = {(int(r.d1), int(r.d2)) for r in pdf.itertuples()}
    for pair in {(int(a), int(b)) for a, b in full}:
        assert pair in got, f"missed full-containment pair {pair}"


def test_emb_matryoshka(check):
    """Prefix energy/cosine invariants: energy fraction in (0, 10000],
    cos_fp = floor(sqrt(energy)) * 1e6 consistent with energy_bp, and
    the 16-dim prefix of a random-ish 64-dim vector keeps roughly a
    quarter of the energy on average."""
    pdf = check("q_emb_matryoshka")
    assert (pdf["norm2_k_fp"] <= pdf["norm2_full_fp"]).all()
    assert (pdf["energy_bp"] > 0).all() and (pdf["energy_bp"] <= 10000).all()
    assert (pdf["cos_fp"] <= 1_000_000).all()
    frac = pdf["energy_bp"].mean() / 10000
    assert 0.1 < frac < 0.5  # 16/64 dims of isotropic-ish vectors


def test_emb_centroids(check):
    """64 dims per label, n_vecs constant within a label, and the
    centroid component equals floor(sum/n) exactly."""
    pdf = check("q_emb_centroids")
    per_label = pdf.groupby("label")["pos"].count()
    assert (per_label == 64).all()
    assert (pdf.groupby("label")["n_vecs"].nunique() == 1).all()
    import numpy as np

    expect = np.floor(
        pdf["sum_fp"].astype(float) / pdf["n_vecs"]
    ).astype("int64")
    assert (pdf["mean_fp"] == expect).all()


def test_incremental_near_dedup_two_table_api(spark):
    """incremental_near_dedup (VERDICT r10 next #3) on two ad-hoc
    DataFrames: arbitrary 64-bit ids (beyond the old packed-id bound),
    custom column names, exact dups flagged with the right best match,
    unique and too-short-to-shingle batch docs get decision rows with
    is_dup = false."""
    from netcdf4_variable_streamer_spark.operators.dedup import (
        incremental_near_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    index_df = spark.createDataFrame(
        [
            (10**12 + 1, base),
            (10**12 + 2, base + " today"),          # near-dup of +1
            (10**12 + 3, "completely different words about spark engines"
                         " running large scale batch analytics pipelines"),
        ],
        "page_id long, body string",
    )
    batch_df = spark.createDataFrame(
        [
            (5_000_000_001, base),                  # exact dup of +1
            (5_000_000_002, "unrelated fresh crawl content mentioning"
                            " satellites weather models and ocean currents"
                            " in long sentences"),
            (5_000_000_003, "too short"),           # < 3 tokens: no shingle
        ],
        "page_id long, body string",
    )
    rows = {
        r["page_id"]: r
        for r in incremental_near_dedup(
            index_df, batch_df, id_col="page_id", text_col="body"
        ).collect()
    }
    assert set(rows) == {5_000_000_001, 5_000_000_002, 5_000_000_003}
    dup = rows[5_000_000_001]
    assert dup["is_dup"] is True
    assert dup["best_match"] == 10**12 + 1  # exact match beats the near-dup
    assert dup["best_jaccard"] == 1.0
    for pid in (5_000_000_002, 5_000_000_003):
        r = rows[pid]
        assert r["is_dup"] is False
        assert r["best_match"] is None and r["best_jaccard"] is None


def test_perplexity_filter_two_table_api(spark):
    """perplexity_filter (VERDICT r11 #7) on two ad-hoc DataFrames
    with custom column names: the LM trains on the reference corpus
    only, and the three backoff tiers score exactly as hand-computed —
    seen bigram ln((c+1)/(c_u+|V|)), unseen bigram under a seen
    context ln(1/(c_u+|V|)), unseen context ln(1/|V|) — through the
    1e-6 floor quantization; a one-token doc emits no decision row."""
    import math

    from netcdf4_variable_streamer_spark.operators.text import (
        perplexity_filter,
    )

    # train vocab {a,b,c} (|V|=3); bgc (a,b)=2 (b,a)=1 (a,c)=1; ctx a=3 b=1
    train = spark.createDataFrame(
        [("a b a b",), ("a c",)], "body string"
    )
    score = spark.createDataFrame(
        [
            (1, "en", "a b"),   # seen bigram: ln(3/6)
            (2, "en", "a z"),   # unseen bigram, seen ctx: ln(1/6)
            (3, "en", "z z"),   # unseen ctx: ln(1/3)
            (4, "en", "w"),     # no bigram: no row
        ],
        "pid long, lg string, body string",
    )
    rows = {
        r["pid"]: r
        for r in perplexity_filter(
            train, score, id_col="pid", lang_col="lg", text_col="body"
        ).collect()
    }
    assert set(rows) == {1, 2, 3}
    q = {
        p: math.floor(math.log(x) * 1e6)
        for p, x in {1: 3 / 6, 2: 1 / 6, 3: 1 / 3}.items()
    }
    for p in (1, 2, 3):
        assert rows[p]["avg_bigram_logprob"] == q[p] / 1e6
    sum_q = sum(q.values())
    for p in (1, 2, 3):
        assert rows[p]["keep"] == (q[p] * 3 >= sum_q)
    assert [rows[p]["keep"] for p in (1, 2, 3)] == [True, False, True]


def test_winnow_anchor_guarantee(spark):
    """The winnowing invariant, asserted on the REAL Spark anchor set:
    every valid window of _WINNOW_W consecutive span positions in
    every document contains at least one anchor — the deterministic
    guarantee that separates winnowing from 0-mod-p fingerprint
    sampling (whose misses are probabilistic). Token counts are
    recomputed independently with the pinned whitespace class."""
    import re as _re

    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators import dedup as dd
    from tests.conftest import SF_DIR

    anchors = (
        dd._winnow_anchor_table(spark, SF_DIR)
        .select("doc_id", "span_start")
        .toPandas()
    )
    by_doc: dict[int, list[int]] = {}
    for r in anchors.itertuples():
        by_doc.setdefault(r.doc_id, []).append(r.span_start)
    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    K, W = dd._SPAN_K, dd._WINNOW_W
    n_checked = 0
    for r in docs.itertuples():
        tk = _re.split("[ \t\n\f\r]+", r.text)
        n = len(tk) - K + 1
        if n < 1:
            assert r.doc_id not in by_doc
            continue
        pos = sorted(by_doc.get(r.doc_id, []))
        assert pos, f"doc {r.doc_id} has spans but no anchors"
        for p in range(1, max(n - W + 1, 1) + 1):
            assert any(p <= q <= p + W - 1 for q in pos), (
                f"doc {r.doc_id}: window [{p}, {p + W - 1}] "
                "has no anchor"
            )
            n_checked += 1
    assert n_checked > 100  # the fixture genuinely exercises windows


def test_anchored_rewrite_matches_exact_on_fixture(spark):
    """FIXTURE property (not a general identity — keeper and cap
    decisions are flagged-local, see the key's docstring): every
    planted repeat meets the winnow threshold, no cluster's first
    occurrence hides in an unflagged doc, and no cap decision
    diverges between the global and flagged counts — so here the
    anchored rewrite must reproduce the exact full-table rewrite
    row for row (same cut docs, ranges, rewritten-text md5s) at
    ~1/9 the detection shuffle."""
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    ex = (
        REGISTRY["q_dedup_substring_rewrite"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    an = (
        REGISTRY["q_dedup_substring_rewrite_anchored"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    assert len(ex) == len(an)
    for col in ("doc_id", "n_tokens_before", "n_ranges",
                "n_tokens_cut", "n_tokens_after", "rewritten_md5"):
        assert list(ex[col]) == list(an[col]), col
    assert (ex.n_tokens_cut > 0).any()  # the fixture exercises cuts


def test_rewrite_null_text_omitted_both_engines(spark, tmp_path):
    """Round-14 review finding: the NULL-text pin in _rewrite_emit had
    no coverage because the shipped fixtures contain no NULL text.
    Differential on a purpose-built corpus with a NULL-text doc: the
    Spark builder and the registered DuckDB oracle must BOTH omit the
    NULL doc and agree exactly on everything else (row set, counts,
    rewritten-text md5s) — without the pin Spark emitted a row of
    NULLs where DuckDB emitted none."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.registry import REGISTRY

    rep = " ".join(f"tok{i}" for i in range(12))  # >= k-token repeat
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            "text": [
                f"alpha beta {rep} gamma",
                None,  # the NULL-text doc: must vanish on BOTH sides
                f"delta {rep} epsilon zeta",
                "unrelated words entirely here",
            ],
        }
    )
    sf = str(tmp_path)
    pq.write_table(docs, f"{sf}/documents.parquet")
    got = (
        REGISTRY["q_dedup_substring_rewrite"]
        .builder(spark, sf)
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS FROM '{sf}/documents.parquet'"
    )
    want = con.execute(
        REGISTRY["q_dedup_substring_rewrite"].oracle
    ).df()
    assert list(got["doc_id"]) == [1, 3, 4] == list(want["doc_id"])
    for col in ("n_tokens_before", "n_ranges", "n_tokens_cut",
                "n_tokens_after", "rewritten_md5"):
        assert list(got[col]) == list(want[col]), col
    # the repeat was genuinely detected and cut from the later doc
    assert list(got["n_tokens_cut"]) == [0, 12, 0]


# ---- anchored-rewrite flagged-local divergences (VERDICT r14 #1) ----
#
# The anchored rewrite's docstring documents two divergences from the
# full-table twin, both flagged-LOCAL by construction; until round 15
# they were only narrated ("doesn't arise on the fixture"). The two
# purpose-built corpora below make each one ARISE and pin the
# documented relationship. Constructed offline against the pinned
# span/winnow parameters (K=8, W=15, cap=64) with the preconditions
# re-asserted here on the REAL Spark anchor table, so any drift in the
# machinery is loud rather than silently voiding the scenario.

_DIV_X = [f"x{i}" for i in range(8)]          # the k-token cluster X
_DIV_Y = [f"y{i}" for i in range(8)]          # the boilerplate-ish Y
_DIV_D = [f"d{i}" for i in range(22)]         # >= W+K-1 tokens: the
#                                               winnow-guaranteed flag


def _div_doc(prefix, mid):
    """90-token document: 20 unique filler + D(22) + 20 filler + the
    8-token mid cluster + 20 filler (filler unique per prefix)."""
    f1 = [f"{prefix}a0_{i}" for i in range(20)]
    f2 = [f"{prefix}b0_{i}" for i in range(20)]
    f3 = [f"{prefix}c0_{i}" for i in range(20)]
    return f1 + _DIV_D + f2 + mid + f3


def _div_write(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array([d for d, _ in rows], type=pa.int64()),
            "text": [" ".join(tk) for _, tk in rows],
        }
    )
    sf = str(tmp_path)
    pq.write_table(t, f"{sf}/documents.parquet")
    return sf


def _div_run(spark, sf):
    from netcdf4_variable_streamer_spark.registry import REGISTRY

    full = {
        r["doc_id"]: r
        for r in REGISTRY["q_dedup_substring_rewrite"]
        .builder(spark, sf)
        .collect()
    }
    anch = {
        r["doc_id"]: r
        for r in REGISTRY["q_dedup_substring_rewrite_anchored"]
        .builder(spark, sf)
        .collect()
    }
    return full, anch


def _div_flagged(spark, sf):
    """The anchored path's REAL flagged-doc set, recomputed exactly as
    the builder computes it (winnow anchors -> qualifying stats)."""
    from netcdf4_variable_streamer_spark.operators import dedup as dd

    anchors = dd._winnow_anchor_table(spark, sf)
    stats = dd._cluster_stats(anchors)
    return anchors, {
        r["doc_id"]: None
        for r in anchors.join(stats.select("cluster"), "cluster")
        .select("doc_id")
        .distinct()
        .collect()
    }.keys()


def _div_md5(tokens):
    import hashlib

    return hashlib.md5(" ".join(tokens).encode()).hexdigest()


def _div_expect(row, tokens, cut_1idx_ranges):
    """Assert one output row against explicitly-stated cut ranges
    ([start, end) over 1-indexed token positions)."""
    kept = [
        t
        for i, t in enumerate(tokens, start=1)
        if not any(s <= i < e for s, e in cut_1idx_ranges)
    ]
    assert row["n_tokens_before"] == len(tokens)
    assert row["n_ranges"] == len(cut_1idx_ranges)
    assert row["n_tokens_cut"] == len(tokens) - len(kept)
    assert row["n_tokens_after"] == len(kept)
    assert row["rewritten_md5"] == _div_md5(kept)


def test_anchored_rewrite_keeper_divergence(spark, tmp_path):
    """Divergence (1): keep-first ranks over flagged spans only. X's
    global first occurrence lies in doc 1 — an 8-token doc whose only
    span IS X, which winnowing never flags because X is not anchored
    in docs 2/3 (precondition asserted) and doc 1's lone anchor
    cluster has n_docs=1 on the anchor table. The full twin keeps
    doc 1's occurrence and cuts docs 2 AND 3; the anchored path keeps
    the flagged-first (doc 2) and cuts ONLY doc 3 — so per doc the
    anchored cut ranges are a SUBSET of the twin's, exactly the
    relationship the key's docstring documents for this case."""
    rows = [
        (1, _DIV_X),
        (2, _div_doc("b", _DIV_X)),
        (3, _div_doc("c", _DIV_X)),
    ]
    sf = _div_write(tmp_path, rows)

    # preconditions, on the REAL anchor table
    anchors, flagged = _div_flagged(spark, sf)
    assert set(flagged) == {2, 3}  # doc 1 (global first) unflagged
    xcl = _div_md5(_DIV_X)
    assert not [
        r
        for r in anchors.collect()
        if r["cluster"] == xcl and r["doc_id"] in (2, 3)
    ], "X unexpectedly anchored in a long doc; corpus invalid"

    full, anch = _div_run(spark, sf)
    assert set(full) == set(anch) == {1, 2, 3}
    b, c = rows[1][1], rows[2][1]
    # doc 1: both paths keep the global-first occurrence untouched
    _div_expect(full[1], _DIV_X, [])
    _div_expect(anch[1], _DIV_X, [])
    # doc 2: THE DIVERGENCE — full cuts X (range [63, 71)); anchored
    # keeps it (flagged-first). D survives in both (keep-first doc 2).
    _div_expect(full[2], b, [(63, 71)])
    _div_expect(anch[2], b, [])
    # doc 3: identical on both paths — D [21, 43) + X [63, 71) cut
    for r in (full[3], anch[3]):
        _div_expect(r, c, [(21, 43), (63, 71)])
    # the documented subset relationship, per doc
    for d in (1, 2, 3):
        assert anch[d]["n_tokens_cut"] <= full[d]["n_tokens_cut"]


def test_anchored_rewrite_cap_divergence(spark, tmp_path):
    """Divergence (2): occurrence caps are evaluated on the anchor
    table and the flagged subset. Y occurs 72 times corpus-wide (past
    the 64-occurrence boilerplate cap, so the FULL twin never cuts
    it) but only twice among the flagged docs — the anchored path's
    flagged-subset stats qualify it and cut doc 3's occurrence, a
    range the full twin does NOT cut. The 70 Y-only docs also pin the
    anchor-table cap: each contributes one Y anchor, pushing Y past
    the cap AT THE ANCHOR LEVEL, so none of them is ever flagged
    (asserted) and both paths leave them untouched."""
    rows = [(2, _div_doc("b", _DIV_Y)), (3, _div_doc("c", _DIV_Y))]
    rows += [(10 + i, _DIV_Y) for i in range(70)]
    sf = _div_write(tmp_path, rows)

    anchors, flagged = _div_flagged(spark, sf)
    assert set(flagged) == {2, 3}  # Y's anchor cap keeps Y-docs out

    full, anch = _div_run(spark, sf)
    assert set(full) == set(anch) == {2, 3} | {10 + i for i in range(70)}
    b, c = rows[0][1], rows[1][1]
    # doc 2: untouched on both paths (D keep-first, Y kept/capped)
    _div_expect(full[2], b, [])
    _div_expect(anch[2], b, [])
    # doc 3: full cuts D only; anchored ALSO cuts Y — the divergent
    # extra range the cap's flagged-subset evaluation admits
    _div_expect(full[3], c, [(21, 43)])
    _div_expect(anch[3], c, [(21, 43), (63, 71)])
    assert anch[3]["n_tokens_cut"] > full[3]["n_tokens_cut"]
    # the 70 Y-only docs are untouched on BOTH paths
    for d in range(10, 80):
        _div_expect(full[d], _DIV_Y, [])
        _div_expect(anch[d], _DIV_Y, [])


def test_anchored_decontam_short_quote_divergence(spark, tmp_path):
    """The anchored decontam key's two documented flagged-local
    divergences, each made to ARISE on a purpose-built corpus
    (round 15, same discipline as the anchored-rewrite divergence
    tests; constructed offline against the pinned K=8/W=15/cap=64
    parameters with preconditions re-asserted on the real anchor
    table).

    (1) short-quote miss: the reference doc is exactly the 8-token
    phrase P, whose anchor cluster is never selected in the crawl
    doc embedding it — the anchored path flags nothing and cuts
    nothing while the full twin surgically cuts P; anchored cut
    ranges remain a subset of the twin's.

    (2) cap on the flagged subset: Q sits in a reference doc without
    ever being anchored there, and occurs 71 times crawl-wide (past
    the 64-hit frequent-n-gram exclusion, so the full twin treats it
    as common text) but only ONCE among flagged docs — the anchored
    path cuts it, the divergent extra range."""
    import os

    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.operators import dedup as dd
    from netcdf4_variable_streamer_spark.registry import REGISTRY

    P = [f"p{i}" for i in range(8)]
    Q = [f"q{i}" for i in range(8)]
    L = [f"l{i}" for i in range(22)]

    def run_pair(sf):
        full = {
            r["doc_id"]: r
            for r in REGISTRY["q_dedup_substring_decontam_rewrite"]
            .builder(spark, sf)
            .collect()
        }
        anch = {
            r["doc_id"]: r
            for r in REGISTRY["q_dedup_substring_decontam_anchored"]
            .builder(spark, sf)
            .collect()
        }
        return full, anch

    def flagged_set(sf):
        anchors = dd._winnow_anchor_table(spark, sf)
        refa = (
            anchors.filter(F.col("doc_id") < dd._SXC_SPLIT)
            .select("cluster")
            .distinct()
        )
        return {
            r["doc_id"]
            for r in anchors.filter(
                F.col("doc_id") >= dd._SXC_SPLIT
            )
            .join(refa, "cluster")
            .select("doc_id")
            .distinct()
            .collect()
        }

    # --- scenario 1: short quote escapes the winnow threshold ---
    c = (
        [f"ca0_{i}" for i in range(20)] + P
        + [f"cb0_{i}" for i in range(20)]
    )
    sf1 = str(tmp_path / "s1")
    os.makedirs(sf1)
    _div_write(tmp_path / "s1", [(1, P), (400, c)])
    assert flagged_set(sf1) == set()  # precondition: nothing flagged
    full, anch = run_pair(sf1)
    assert set(full) == set(anch) == {400}  # crawl side only
    _div_expect(full[400], c, [(21, 29)])  # the 8-token quote cut
    _div_expect(anch[400], c, [])  # THE MISS — documented divergence
    assert anch[400]["n_tokens_cut"] <= full[400]["n_tokens_cut"]

    # --- scenario 2: cap evaluated on the flagged subset only ---
    r2 = (
        [f"ra0_{i}" for i in range(20)] + Q
        + [f"rb0_{i}" for i in range(20)] + L
        + [f"rc0_{i}" for i in range(20)]
    )
    c2 = (
        [f"cc_{i}" for i in range(20)] + L
        + [f"cd_{i}" for i in range(20)] + Q
        + [f"ce_{i}" for i in range(20)]
    )
    rows = [(1, r2), (400, c2)] + [
        (401 + i, Q) for i in range(70)
    ]
    sf2 = str(tmp_path / "s2")
    os.makedirs(sf2)
    _div_write(tmp_path / "s2", rows)
    assert flagged_set(sf2) == {400}  # Q-docs stay unflagged
    full, anch = run_pair(sf2)
    assert set(full) == set(anch) == {400} | set(range(401, 471))
    # full twin: Q is common text (71 crawl hits > 64) — L only
    _div_expect(full[400], c2, [(21, 43)])
    # anchored: Q hits once among flagged docs — cut as contamination
    _div_expect(anch[400], c2, [(21, 43), (63, 71)])
    assert anch[400]["n_tokens_cut"] > full[400]["n_tokens_cut"]
    # the 70 Q-only crawl docs are untouched on BOTH paths
    for d in range(401, 471):
        _div_expect(full[d], Q, [])
        _div_expect(anch[d], Q, [])


def test_anchored_decontam_matches_full_on_fixture(spark):
    """FIXTURE property (not a general identity — see the divergence
    test above): every planted contamination span in the shipped
    fixture exceeds the winnowing threshold and no cap decision
    diverges between corpus-wide and flagged-subset hit counts, so
    the anchored decontam must reproduce the full twin row for row
    while exploding exact spans over only the flagged slice of the
    crawl."""
    from netcdf4_variable_streamer_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    full = (
        REGISTRY["q_dedup_substring_decontam_rewrite"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    anch = (
        REGISTRY["q_dedup_substring_decontam_anchored"]
        .builder(spark, SF_DIR)
        .toPandas()
    )
    assert len(full) == len(anch)
    for col in ("doc_id", "n_tokens_before", "n_ranges",
                "n_tokens_cut", "n_tokens_after", "rewritten_md5"):
        assert list(full[col]) == list(anch[col]), col
    assert (full.n_tokens_cut > 0).any()  # cuts genuinely exercised


def test_surgical_curation_saves_doc_quarantine_drops(spark, tmp_path):
    """The surgical composite's reason to exist, made to arise
    (round 15): a crawl document whose 22-token eval quote pushes it
    past the quarantine threshold but whose REMAINING text is
    high-quality. The quarantine recipe (q_pipeline_curation_full)
    DROPS it before any gate; the surgical recipe cuts exactly the
    quote and the rewritten text PASSES the perplexity gate — the
    document is saved for training, which is why production pipelines
    prefer rewrite-out when documents are valuable. On the shipped
    fixture the two recipes coincide downstream (every rewritten doc
    happens to fail the gate there), so this corpus pins the
    divergent case; both Spark builders are also differentially
    checked against their oracles on it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.registry import REGISTRY

    cyc = lambda n, off=0: [f"t{(i + off) % 10}" for i in range(n)]  # noqa: E731
    E = [f"e{i}" for i in range(22)]  # the eval quote (>= W+k-1)
    docs = [
        # the reference/eval doc holding the quote
        (1, "en", " ".join(
            [f"ra_{i}" for i in range(20)] + E
            + [f"rb_{i}" for i in range(20)]
        )),
        # doc 400: 40 clean common-bigram tokens + the quote — 15 of
        # 55 spans contaminated (27% >= the 10% quarantine bar), but
        # the post-cut body is pure high-frequency bigrams
        (400, "en", " ".join(cyc(40) + E)),
    ] + [
        # five clean-ish crawl docs whose unique-junk tails drag the
        # per-language perplexity mean below doc 400's rewritten body
        (401 + k, "en", " ".join(
            cyc(40, off=k) + [f"u{k}_{j}" for j in range(10)]
        ))
        for k in range(5)
    ]
    sf = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _, _ in docs], pa.int64()),
                "lang": [la for _, la, _ in docs],
                "text": [x for _, _, x in docs],
            }
        ),
        f"{sf}/documents.parquet",
    )

    surg = {
        r["lang"]: r
        for r in REGISTRY["q_pipeline_curation_surgical"]
        .builder(spark, sf)
        .collect()
    }
    quar = {
        r["lang"]: r
        for r in REGISTRY["q_pipeline_curation_full"]
        .builder(spark, sf)
        .collect()
    }
    # exactly the quote was cut, nothing was dropped at the stage
    assert surg["en"]["n_tokens_cut"] == 22
    assert surg["en"]["n_after_dedup"] == 7
    # quarantine drops doc 400 pre-gate; surgery saves it THROUGH
    # the gate — the divergent doc survives to the ppl stage
    assert quar["en"]["n_after_decontam"] == 6
    assert quar["en"]["n_after_ppl"] == 5
    assert surg["en"]["n_after_ppl"] == 6

    # differential: both Spark funnels equal their oracles here too
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS FROM '{sf}/documents.parquet'"
    )
    for key, got in (
        ("q_pipeline_curation_surgical", surg),
        ("q_pipeline_curation_full", quar),
    ):
        want = con.execute(REGISTRY[key].oracle).df()
        assert len(want) == len(got)
        for _, w in want.iterrows():
            g = got[w["lang"]]
            for col in want.columns:
                assert g[col] == w[col], (key, col)


def test_winnow_hof_equals_reference_model(spark, tmp_path):
    """Differential pin for the round-15 MAP-SIDE winnow build: on a
    corpus of edge-geometry documents (exactly K tokens = one span;
    K-1 = no spans; exactly W spans = one full window; W±1; a long
    doc; multi-whitespace separators; duplicate window minima), the
    HOF anchor table must equal an independent pure-Python
    recomputation of the winnowing definition position for position —
    not just satisfy the coverage guarantee."""
    import hashlib
    import re as _re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators import dedup as dd

    K, W = dd._SPAN_K, dd._WINNOW_W
    rng_words = [f"w{i % 13}_{i % 7}" for i in range(200)]
    texts = {
        1: " ".join(rng_words[:K]),            # one span
        2: " ".join(rng_words[: K - 1]),       # below span threshold
        3: " ".join(rng_words[: K + W - 1]),   # exactly W spans
        4: " ".join(rng_words[: K + W - 2]),   # W-1 spans (short doc)
        5: " ".join(rng_words[: K + W]),       # W+1 spans (2 windows)
        6: " ".join(rng_words[:90]),           # long doc
        7: "a b\tc\nd e f g h i j k l\fm n\ro p q",  # mixed whitespace
        8: " ".join(["rep"] * (K + 2 * W)),    # constant tokens: all
        #   clusters identical, min decided purely by position padding
    }
    sf = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), type=pa.int64()),
                "text": [texts[d] for d in sorted(texts)],
            }
        ),
        f"{sf}/documents.parquet",
    )
    got = {
        (r["doc_id"], r["span_start"], r["cluster"])
        for r in dd._winnow_anchor_table(spark, sf).collect()
    }

    want = set()
    for d, tx in texts.items():
        tk = _re.split("[ \t\n\f\r]+", tx)
        n = len(tk) - K + 1
        if n < 1:
            continue
        ss = [
            hashlib.md5(
                " ".join(tk[p - 1 : p - 1 + K]).encode()
            ).hexdigest()
            + ":"
            + str(p).zfill(12)
            for p in range(1, n + 1)
        ]
        for p in range(1, max(n - W + 1, 1) + 1):
            m = min(ss[p - 1 : p - 1 + W])
            want.add((d, int(m[33:]), m[:32]))
    assert got == want


def test_qoi_codec_roundtrip():
    """The pure-NumPy QOI codec is REAL (round 15): encode→decode is
    exact for arbitrary RGB and RGBA uint8 images, with purpose-built
    images forcing every chunk op — constant blocks (RUN incl. the
    62-run split), small gradients (DIFF/LUMA), recurring colors
    (INDEX via the 64-entry hash), and alpha changes (RGBA op). The
    magic dispatch decodes QOI payloads with no codec library."""
    import numpy as np
    import pandas as pd

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    rng = np.random.RandomState(5)
    for shape in [(1, 1, 3), (6, 5, 3), (6, 5, 4), (17, 3, 4),
                  (4, 70, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert (mm.decode_qoi(mm.encode_qoi(img)) == img).all(), shape
    # long runs (> 62 pixels force the run split)
    img = np.full((9, 9, 4), 200, dtype=np.uint8)
    assert (mm.decode_qoi(mm.encode_qoi(img)) == img).all()
    # gradients: DIFF/LUMA territory
    g = (np.indices((8, 8))[0] * 2 + np.indices((8, 8))[1]).astype(
        np.uint8
    )
    img = np.stack([g, g + 1, g + 2], axis=2)
    assert (mm.decode_qoi(mm.encode_qoi(img)) == img).all()
    # recurring colors: INDEX hits
    big = np.tile(
        rng.randint(0, 256, size=(1, 64, 4), dtype=np.uint8),
        (70, 1, 1),
    )
    assert (mm.decode_qoi(mm.encode_qoi(big)) == big).all()
    # alpha transitions force the RGBA op
    img = rng.randint(0, 256, size=(5, 5, 4), dtype=np.uint8)
    img[..., 3] = (np.indices((5, 5)).sum(axis=0) * 37 % 256).astype(
        np.uint8
    )
    assert (mm.decode_qoi(mm.encode_qoi(img)) == img).all()
    # magic dispatch
    payloads = pd.DataFrame(
        {"doc_id": [1], "payload": [mm.encode_qoi(img)]}
    )
    (out,) = list(mm.decode_image_batches(iter([payloads])))
    assert out.loc[0, "width"] == 5 and out.loc[0, "n_channels"] == 4


def test_gif_codec_roundtrip():
    """The pure-NumPy GIF89a codec is REAL (round 15): animated
    round-trips are exact (multi-frame, non-gray palettes, the full
    256-color boundary, 1x1, frames wide enough to split 255-byte
    sub-blocks and re-CLEAR the literal-code LZW stream), >256
    distinct colors refuses by name, and the magic dispatch returns
    the first frame as a plain image."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    rng = np.random.RandomState(9)
    frames = (
        rng.randint(0, 6, size=(4, 9, 11, 1)).astype(np.uint8) * 40
    ).repeat(3, axis=3)
    got = mm.decode_gif(mm.encode_gif(frames))
    assert got.shape == (4, 9, 11, 3)
    assert (got == frames).all()
    colored = rng.randint(0, 5, size=(2, 16, 16, 3)).astype(
        np.uint8
    ) * 50
    assert (mm.decode_gif(mm.encode_gif(colored)) == colored).all()
    base = np.arange(256, dtype=np.uint8).reshape(16, 16)
    img = np.stack([base, base // 2, base // 3], axis=2).astype(
        np.uint8
    )
    assert (mm.decode_gif(mm.encode_gif(img))[0] == img).all()
    tiny = np.zeros((1, 1, 3), np.uint8)
    assert (mm.decode_gif(mm.encode_gif(tiny))[0] == tiny).all()
    wide = rng.randint(0, 3, size=(40, 40, 3)).astype(np.uint8) * 80
    assert (mm.decode_gif(mm.encode_gif(wide))[0] == wide).all()
    with _pytest.raises(NotImplementedError, match="distinct colors"):
        mm.encode_gif(
            rng.randint(0, 256, size=(1, 32, 32, 3)).astype(np.uint8)
        )
    payloads = pd.DataFrame(
        {"doc_id": [1], "payload": [mm.encode_gif(colored)]}
    )
    (out,) = list(mm.decode_image_batches(iter([payloads])))
    assert out.loc[0, "width"] == 16 and out.loc[0, "height"] == 16


def test_gif_decodes_foreign_compressed_lzw(tmp_path):
    """The in-repo GIF encoder deliberately emits only literal LZW
    codes, so this differential drives the decoder with a FOREIGN-
    style stream: an independent, test-local LZW compressor (real
    dictionary growth, code-width bumps, the 12-bit cap) compresses
    patterns chosen to hit the KwKwK edge (code == next table slot —
    the classic LZW corner) and long repeats; hand-assembled GIF
    bytes around it must decode to exactly the source pixels."""
    import numpy as np
    import struct as _struct

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    def ref_lzw_compress(indices, mcs):
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        table = {(i,): i for i in range(1 << mcs)}
        next_code = eoi + 1
        out_codes = [clear]
        w = ()
        for k in indices:
            wk = w + (k,)
            if wk in table:
                w = wk
                continue
            out_codes.append(table[w])
            table[wk] = next_code
            next_code += 1
            w = (k,)
        if w:
            out_codes.append(table[w])
        out_codes.append(eoi)
        # pack each code at the width the DECODER holds when reading
        # it, by simulating the decoder's table growth (one entry per
        # code after the first following a CLEAR; width bumps when
        # the next free slot reaches 2^width — the spec-appendix
        # rule). The encoder's own dictionary never needs a width.
        bits = bytearray()
        acc = nacc = 0
        size = eoi + 1
        width = mcs + 1
        first = True
        for c in out_codes:
            acc |= c << nacc
            nacc += width
            while nacc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nacc -= 8
            if c == clear:
                size, width, first = eoi + 1, mcs + 1, True
            elif c != eoi:
                if first:
                    first = False
                else:
                    size += 1
                    if size == (1 << width) and width < 12:
                        width += 1
        if nacc:
            bits.append(acc & 0xFF)
        return bytes(bits)

    for pattern in (
        [0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1],       # KwKwK territory
        [2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2],       # long single run
        [0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3],       # repeating phrase
        list(np.random.RandomState(3).randint(0, 4, 60)),
    ):
        w = len(pattern)
        mcs = 2
        data = ref_lzw_compress([int(v) for v in pattern], mcs)
        gif = bytearray(b"GIF89a")
        gif += _struct.pack("<HHBBB", w, 1, 0x80 | 0x11, 0, 0)
        gif += bytes([0, 0, 0, 60, 60, 60, 120, 120, 120,
                      180, 180, 180])  # 4-entry GCT
        gif += b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, 1, 0)
        gif += bytes([mcs])
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            gif += bytes([len(chunk)]) + chunk
        gif += b"\x00\x3b"
        got = mm.decode_gif(bytes(gif))
        assert got.shape == (1, 1, w, 3)
        want = (np.asarray(pattern) * 60).astype(np.uint8)
        assert (got[0, 0, :, 0] == want).all(), pattern


def test_ima_adpcm_codec_hand_derived_and_roundtrip():
    """IMA ADPCM (round 17, functions/multimodal.py — public IMA
    algorithm, WAV fmt tag 0x11): (a) a HAND-DERIVED block pinned
    against the spec arithmetic (pred=100, idx=0/step=7: nibble 3 →
    +4, nibble 8 → −0, nibble 15 → −11 with idx → 8); (b) state
    clamps (int16 saturation, idx 0..88); (c) container round-trip
    through the RIFF walker and the decode_audio_any dispatch with
    reconstruction SNR > 30 dB on a smooth signal (the codec is
    lossy — exactness is per the decode recursion, which the
    registry key's recursive-CTE oracle pins end to end);
    (d) multi-block streams incl. a final short block via the fact
    chunk; (e) first sample of every block is bit-exact (header
    predictor)."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    blk = (
        np.int16(100).tobytes()
        + bytes([0, 0])
        + bytes([3 | (8 << 4), 15])
    )
    assert mm.ima_adpcm_decode_block(blk, 4).tolist() == [
        100, 104, 104, 93,
    ]
    p, i = mm._ima_step(32760, 88, 7)
    assert p == 32767 and i == 88
    p, _ = mm._ima_step(-32760, 88, 15)
    assert p == -32768
    assert mm._ima_step(0, 0, 0)[1] == 0  # idx floor

    t = np.arange(5000)
    sig = (3000 * np.sin(t / 20) + 500 * np.sin(t / 3)).astype(
        np.int16
    )
    wav = mm.encode_wav_ima_adpcm(sig, 16000)
    dec, rate = mm.decode_audio_any(wav)
    assert rate == 16000 and len(dec) == len(sig)
    err = dec.astype(np.float64) - sig.astype(np.float64)
    snr = 10 * np.log10(
        (sig.astype(np.float64) ** 2).mean() / (err**2).mean()
    )
    assert snr > 30, snr
    blocks, spb = mm.ima_adpcm_encode(sig)
    assert len(blocks) > 1 and len(sig) % spb != 0  # short tail
    for b in range(0, len(sig), spb):
        assert dec[b] == sig[b], b  # block header samples exact


def test_ima_adpcm_refusals_and_mutation_sweep():
    """ADPCM refusal envelope: step index > 88, nonzero reserved
    byte, samplesPerBlock past block capacity, stereo/8-bit claims,
    missing samplesPerBlock, truncated data; 400-case mutation sweep
    surfaces only ValueError / NotImplementedError."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    with _pytest.raises(ValueError, match="step index"):
        mm.ima_adpcm_decode_block(
            np.int16(0).tobytes() + bytes([89, 0, 0x00]), 2
        )
    with _pytest.raises(ValueError, match="reserved"):
        mm.ima_adpcm_decode_block(
            np.int16(0).tobytes() + bytes([0, 7, 0x00]), 2
        )
    with _pytest.raises(ValueError, match="nibbles"):
        mm.ima_adpcm_decode_block(
            np.int16(0).tobytes() + bytes([0, 0]), 5
        )
    rng = np.random.RandomState(4)
    sig = rng.randint(-2000, 2000, 600).astype(np.int16)
    good = mm.encode_wav_ima_adpcm(sig, 8000, block_nibbles=100)
    assert (
        len(mm.decode_wav_pcm16(good)[0]) == 600
    )
    # a stereo CLAIM over the mono block layout fails the stereo
    # group-structure check (round 17 decodes real stereo — see
    # test_ima_adpcm_stereo below)
    bad = bytearray(good)
    i = bad.index(b"fmt ") + 8
    _struct.pack_into("<HH", bad, i, 0x11, 2)
    with _pytest.raises(ValueError, match="channel groups"):
        mm.decode_wav_pcm16(bytes(bad))
    # 3-channel refuses by name
    bad = bytearray(good)
    _struct.pack_into("<HH", bad, i, 0x11, 3)
    with _pytest.raises(NotImplementedError, match="mono/stereo"):
        mm.decode_wav_pcm16(bytes(bad))
    # fmt chunk too short for samplesPerBlock
    bad = bytearray(good)
    _struct.pack_into("<I", bad, bad.index(b"fmt ") + 4, 16)
    with _pytest.raises((ValueError, NotImplementedError)):
        mm.decode_wav_pcm16(bytes(bad))
    for _ in range(400):
        b2 = bytearray(good)
        pos = rng.randint(0, len(b2) * 8)
        b2[pos // 8] ^= 1 << (pos % 8)
        try:
            mm.decode_wav_pcm16(bytes(b2))
        except (ValueError, NotImplementedError):
            pass
    for cut in (0, 11, 40, len(good) // 2, len(good) - 1):
        try:
            mm.decode_wav_pcm16(bytes(good[:cut]))
        except (ValueError, NotImplementedError):
            pass


def test_ima_adpcm_stereo():
    """Stereo IMA ADPCM (round 17): (a) a HAND-DERIVED two-channel
    block — per-channel 4-byte headers then interleaved 4-byte
    nibble groups — decodes both channels against spec arithmetic
    computed independently (ch0 reproduces the mono hand block;
    ch1 pinned at pred=-50: n=15 → -61 with idx→8, n=3 at step 16 →
    -47); (b) container round-trip through the RIFF walker with
    (n, 2) output (the FLAC shape convention), SNR > 30 dB, and
    every block-header sample bit-exact; (c) a stereo blockAlign
    that is not headers + whole 8-byte groups refuses."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    hdr = _struct.pack("<hBB", 100, 0, 0) + _struct.pack(
        "<hBB", -50, 0, 0
    )
    blk = hdr + bytes([3 | (8 << 4), 15, 0, 0]) + bytes(
        [15 | (3 << 4), 0, 0, 0]
    )
    out = mm.ima_adpcm_decode_block_stereo(blk, 9)
    assert out[:4, 0].tolist() == [100, 104, 104, 93]
    assert out[:3, 1].tolist() == [-50, -61, -47]

    t = np.arange(5000)
    sig = np.stack(
        [
            (3000 * np.sin(t / 20)).astype(np.int16),
            (2000 * np.sin(t / 31 + 1.0)).astype(np.int16),
        ],
        axis=1,
    )
    wav = mm.encode_wav_ima_adpcm(sig, 22050)
    dec, rate = mm.decode_audio_any(wav)
    assert rate == 22050 and dec.shape == sig.shape
    err = dec.astype(np.float64) - sig
    snr = 10 * np.log10(
        (sig.astype(np.float64) ** 2).mean() / (err**2).mean()
    )
    assert snr > 30, snr
    _, spb = mm.ima_adpcm_encode_stereo(sig)
    for b in range(0, len(sig), spb):
        assert (dec[b] == sig[b]).all(), b

    bad = bytearray(wav)
    i = bad.index(b"fmt ") + 8 + 12  # blockAlign field
    _struct.pack_into("<H", bad, i, 1011)
    with _pytest.raises(ValueError, match="channel groups"):
        mm.decode_wav_pcm16(bytes(bad))


def test_g711_codec_properties():
    """G.711 mu-law/A-law (round 15): value-level idempotency over
    ALL 256 codewords of both laws (decode∘encode∘decode == decode —
    the strongest statement a lossy companding pair admits; both
    laws carry a duplicate-zero codeword, so raw codeword identity
    is deliberately NOT claimed), ITU golden values, sign
    preservation and companding error bounds over the full int16
    range, and WAV container round-trips through fmt tags 7/6."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    codes = np.arange(256, dtype=np.uint8)
    for dec, enc in (
        (mm.mulaw_decode, mm.mulaw_encode),
        (mm.alaw_decode, mm.alaw_encode),
    ):
        vals = dec(codes)
        assert (dec(enc(vals)) == vals).all()
    # ITU goldens
    assert int(mm.mulaw_decode(np.array([0xFF], np.uint8))[0]) == 0
    assert int(mm.mulaw_decode(np.array([0x7F], np.uint8))[0]) == 0
    assert int(mm.alaw_decode(np.array([0xD5], np.uint8))[0]) == 8
    assert int(mm.alaw_decode(np.array([0x55], np.uint8))[0]) == -8
    assert (
        int(mm.alaw_decode(np.array([0x2A], np.uint8))[0]) == -32256
    )
    # full-range error bounds + sign preservation
    x = np.arange(-32768, 32768, dtype=np.int16)
    for name, enc, dec, bound in (
        ("mulaw", mm.mulaw_encode, mm.mulaw_decode, 1024),
        ("alaw", mm.alaw_encode, mm.alaw_decode, 1024),
    ):
        y = dec(enc(x)).astype(np.int32)
        err = np.abs(y - x.astype(np.int32))
        assert err.max() <= bound, (name, err.max())
        big = np.abs(x.astype(np.int32)) > 64
        assert (
            np.sign(y[big]) == np.sign(x.astype(np.int32)[big])
        ).all(), name
    # container round-trips (fmt 7 / fmt 6)
    s16 = (np.sin(np.arange(500) / 5) * 12000).astype(np.int16)
    for law in ("mulaw", "alaw"):
        out, rate = mm.decode_wav_pcm16(mm.encode_wav_g711(s16, law))
        assert rate == 8000 and len(out) == 500
        assert (
            np.abs(out.astype(np.int32) - s16.astype(np.int32)).max()
            <= 256
        )


def test_jpeg_codec_roundtrip_properties():
    """Baseline JPEG (round 16, functions/jpeg.py — pure NumPy from
    the public ITU-T T.81 spec): (a) flat-8x8-block images at quality
    75 round-trip EXACTLY (the Annex-K luminance DC quantizer scales
    to 8, so DC quantization is lossless and every AC coefficient is
    zero) in grayscale AND gray-in-RGB through 4:2:0; (b) smooth
    natural-statistics images round-trip within tight error bounds at
    high quality; (c) quality is monotone in distortion; (d) odd
    (non-multiple-of-16) dimensions pad and crop correctly in every
    mode; (e) the magic dispatch routes JPEG."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )
    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(16)
    # (a) flat-block exactness, gray and 4:2:0 color
    blocks = rng.randint(0, 256, (3, 4)).astype(np.uint8)
    gray = blocks.repeat(8, 0).repeat(8, 1)
    assert (decode_jpeg(encode_jpeg(gray, quality=75)) == gray).all()
    g = rng.randint(0, 256, (2, 2)).astype(np.uint8)
    g = g.repeat(8, 0).repeat(8, 1)
    rgb = np.stack([g, g, g], axis=2)
    for ss in ("420", "444"):
        got = decode_jpeg(encode_jpeg(rgb, quality=75, subsampling=ss))
        assert (got == rgb).all(), ss
    # (b) smooth image at q90: near-lossless
    yy, xx = np.mgrid[0:48, 0:56].astype(np.float64)
    sm = np.stack(
        [
            (np.sin(yy / 9) + np.cos(xx / 11)) * 55 + 128,
            (np.sin(yy / 7) - np.cos(xx / 13)) * 50 + 120,
            (np.cos(yy / 8) + np.sin(xx / 9)) * 45 + 130,
        ],
        axis=2,
    ).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(sm, quality=90, subsampling="444"))
    err = np.abs(got.astype(int) - sm.astype(int))
    assert err.max() <= 6 and err.mean() < 1.5
    # grayscale smooth
    got = decode_jpeg(encode_jpeg(sm[:, :, 0], quality=90))
    assert got.ndim == 2
    assert np.abs(got.astype(int) - sm[:, :, 0].astype(int)).max() <= 4
    # (c) monotone distortion in quality
    noisy = rng.randint(0, 256, (32, 40, 3)).astype(np.uint8)
    errs = []
    for q in (25, 60, 95):
        got = decode_jpeg(encode_jpeg(noisy, quality=q, subsampling="444"))
        errs.append(float(np.abs(got.astype(int) - noisy.astype(int)).mean()))
    assert errs[0] > errs[1] > errs[2]
    # (d) odd dimensions, all modes
    for shape, kw in (
        ((17, 13, 3), {"subsampling": "420"}),
        ((9, 23, 3), {"subsampling": "444"}),
        ((11, 7), {}),
    ):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        got = decode_jpeg(encode_jpeg(img, quality=80, **kw))
        assert got.shape == img.shape
    # (e) dispatch: magic bytes route to the JPEG decoder
    out = mm.decode_any(encode_jpeg(rgb, quality=75))
    assert out.shape == rgb.shape and (out == rgb).all()


def test_jpeg_decoder_differential_custom_tables():
    """Differential against an INDEPENDENTLY-constructed JPEG stream
    (the discipline GIF's LZW got in round 15): a hand-assembled
    single-block grayscale stream using CUSTOM Huffman tables and a
    16-bit-precision DQT — none of the Annex K defaults the in-repo
    encoder ships — whose three nonzero DCT coefficients are placed
    by hand (DC + two AC with a zero-run between them). The decoder
    must reproduce the pixels of the spec's own IDCT formula, computed
    here with an explicit double cosine loop independent of the
    codec's basis-matrix implementation. A wrong zigzag order, EXTEND
    rule, canonical code assignment, run-length walk, or IDCT scale
    all diverge."""
    import numpy as np
    import struct as _struct

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
    )

    # custom canonical tables: DC = six symbols (cats 0..5) at length
    # 3; AC = four symbols at length 4 in order EOB, (0,3), (3,2), ZRL
    dc_bits = [0, 0, 6] + [0] * 13
    dc_vals = [0, 1, 2, 3, 4, 5]
    ac_bits = [0, 0, 0, 4] + [0] * 12
    ac_vals = [0x00, 0x03, 0x32, 0xF0]

    bits = []  # entropy bits, MSB-first
    bits += [1, 0, 1]               # DC symbol 5 (canonical code 101)
    bits += [1, 0, 1, 0, 0]         # DC raw bits: +20
    bits += [0, 0, 0, 1]            # AC (0,3) -> zigzag k=1
    bits += [0, 1, 0]               # raw bits: -5 (= 2 under EXTEND)
    bits += [0, 0, 1, 0]            # AC (3,2) -> run 3, zigzag k=5
    bits += [1, 1]                  # raw bits: +3
    bits += [0, 0, 0, 0]            # EOB
    while len(bits) % 8:
        bits.append(1)              # 1-padding per spec
    ent = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    jpg = bytearray(b"\xff\xd8")
    jpg += b"\xff\xdb" + _struct.pack(">HB", 131, 0x10)  # Pq=1 (16-bit)
    jpg += _struct.pack(">64H", *([1] * 64))             # unit quant
    jpg += b"\xff\xc0" + _struct.pack(">HBHHB", 11, 8, 8, 8, 1)
    jpg += bytes([1, 0x11, 0])
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 6, 0x00)
    jpg += bytes(dc_bits) + bytes(dc_vals)
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 4, 0x10)
    jpg += bytes(ac_bits) + bytes(ac_vals)
    jpg += b"\xff\xda" + _struct.pack(">HB", 8, 1)
    jpg += bytes([1, 0x00, 0, 63, 0])
    jpg += ent + b"\xff\xd9"
    got = decode_jpeg(bytes(jpg))
    # independent IDCT: T.81 A.3.3 with an explicit cosine loop
    F = np.zeros((8, 8))
    F[0, 0], F[0, 1], F[0, 2] = 20, -5, 3  # zigzag 0, 1, 5
    want = np.zeros((8, 8))
    a = lambda u: (1 / np.sqrt(2)) if u == 0 else 1.0  # noqa: E731
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += (
                        a(u) * a(v) / 4 * F[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                    )
            want[y, x] = s + 128
    want = np.clip(np.round(want), 0, 255).astype(np.uint8)
    assert got.shape == (8, 8)
    assert (np.abs(got.astype(int) - want.astype(int)) <= 1).all()
    assert (got == want).mean() > 0.9


def test_jpeg_restart_markers_reset_dc():
    """Restart-marker support, against a hand-built stream: DRI=1
    with an RST0 between two flat MCUs. The DC predictor must RESET
    at the marker (each segment codes the full DC, not a diff) and
    each segment must be independently byte-aligned — a decoder that
    ignores either produces the wrong second block or desyncs."""
    import struct as _struct

    import numpy as np

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
    )

    dc_bits = [0, 0, 8] + [0] * 13      # cats 0..7 at length 3
    dc_vals = list(range(8))
    ac_bits = [1] + [0] * 15            # single length-1 EOB code
    ac_vals = [0x00]

    def seg(dc_val):
        cat = int(abs(dc_val)).bit_length()
        bits = []
        code = cat  # canonical: symbol k gets code k at length 3
        bits += [(code >> 2) & 1, (code >> 1) & 1, code & 1]
        raw = dc_val if dc_val >= 0 else dc_val + (1 << cat) - 1
        bits += [(raw >> (cat - 1 - i)) & 1 for i in range(cat)]
        bits += [0]  # EOB
        while len(bits) % 8:
            bits.append(1)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )

    v1, v2 = 130, 140  # flat blocks; DC = 8*(v-128) under unit quant
    jpg = bytearray(b"\xff\xd8")
    jpg += b"\xff\xdb" + _struct.pack(">HB", 67, 0x00)
    jpg += bytes([1] * 64)
    jpg += b"\xff\xc0" + _struct.pack(">HBHHB", 11, 8, 8, 16, 1)
    jpg += bytes([1, 0x11, 0])
    jpg += b"\xff\xdd" + _struct.pack(">HH", 4, 1)  # DRI interval 1
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 8, 0x00)
    jpg += bytes(dc_bits) + bytes(dc_vals)
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 1, 0x10)
    jpg += bytes(ac_bits) + bytes(ac_vals)
    jpg += b"\xff\xda" + _struct.pack(">HB", 8, 1)
    jpg += bytes([1, 0x00, 0, 63, 0])
    jpg += seg(8 * (v1 - 128)) + b"\xff\xd0" + seg(8 * (v2 - 128))
    jpg += b"\xff\xd9"
    got = decode_jpeg(bytes(jpg))
    assert got.shape == (8, 16)
    assert (got[:, :8] == v1).all() and (got[:, 8:] == v2).all()


def test_jpeg_progressive_equals_baseline():
    """Progressive JPEG (round 16): the encoder's 4-phase scan script
    (interleaved DC first at Al=1, per-component full-band AC first,
    DC refinement, AC refinement with buffered correction bits) is a
    lossless RE-CODING of the same quantized coefficients — so the
    progressive stream must decode to EXACTLY the baseline stream's
    pixels, for gray and color, 4:2:0 and 4:4:4, odd dims, and
    multiple qualities. Any defect in EOB-run bookkeeping,
    successive-approximation shifts, correction-bit order, or
    non-interleaved geometry breaks pixel identity."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(77)
    for shape, kw in (
        ((16, 24, 3), {"subsampling": "420"}),
        ((37, 45, 3), {"subsampling": "420"}),
        ((9, 23, 3), {"subsampling": "444"}),
        ((23, 31), {}),
        ((64, 80, 3), {"subsampling": "420"}),
    ):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for q in (30, 75, 95):
            base = decode_jpeg(encode_jpeg(img, quality=q, **kw))
            prog = decode_jpeg(
                encode_jpeg(img, quality=q, progressive=True, **kw)
            )
            assert (base == prog).all(), (shape, q)
    # smooth/sparse image: most AC bands are all-zero, so the stream
    # MUST contain real EOBn (r>=1) runs — assert the decoder path is
    # actually exercised by checking the flat fixture decodes exactly
    flat = np.full((32, 48), 200, np.uint8)
    got = decode_jpeg(encode_jpeg(flat, quality=75, progressive=True))
    assert (got == flat).all()
    # magic dispatch routes progressive too (same FFD8 signature)
    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )

    rgb = np.full((16, 16, 3), 100, np.uint8)
    out = mm.decode_any(encode_jpeg(rgb, quality=75, progressive=True))
    assert (out == rgb).all()


def test_jpeg_progressive_differential_hand_built():
    """Differential for the progressive decoder against a HAND-BUILT
    SOF2 stream with custom tables (independent of the in-repo
    encoder): grayscale 8x24 (3 blocks), unit 8-bit DQT, four scans —
    DC first (Al=1), AC first (Al=1) where block 0 carries two AC
    coefficients and blocks 1-2 form a real EOBRUN=2 (EOBn r=1 +
    1 extra bit), DC refinement bits, and an AC refinement scan that
    appends one correction bit to an existing coefficient and plants
    one newly-significant +-1. Expected pixels computed with an
    explicit independent IDCT cosine loop."""
    import struct as _struct

    import numpy as np

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
    )

    # custom tables: DC cats 0..5 at length 3; AC symbols at length 4
    dc_bits = [0, 0, 6] + [0] * 13
    dc_vals = [0, 1, 2, 3, 4, 5]
    ac_bits = [0, 0, 0, 5] + [0] * 12
    # canonical codes 0000..0100 in this order:
    ac_vals = [0x00, 0x01, 0x03, 0x10, 0x11]

    def pack(bits):
        while len(bits) % 8:
            bits.append(1)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )

    def dc_code(cat):  # canonical: symbol k -> code k at length 3
        return [(cat >> 2) & 1, (cat >> 1) & 1, cat & 1]

    ac_code = {v: [(i >> 3) & 1, (i >> 2) & 1, (i >> 1) & 1, i & 1]
               for i, v in enumerate(ac_vals)}

    # final coefficient targets (zigzag): block0 DC=12, k1=-5, k2=3
    # block1 DC=-7, block2 DC=4, plus refine adds
    # scan 1: DC first Al=1 -> code (dc >> 1) as diffs: 6, -4, 2
    s1 = []
    for v, pred in ((6, 0), (-4, 6), (2, -4)):
        diff = v - pred
        cat = abs(diff).bit_length()
        s1 += dc_code(cat)
        raw = diff if diff >= 0 else diff + (1 << cat) - 1
        s1 += [(raw >> (cat - 1 - i)) & 1 for i in range(cat)]
    # scan 2: AC first Al=1, band 1..63 — block 0 plants first-pass
    # magnitudes of 1 at k=1 (negative) and k=2 (positive); blocks
    # 1-2 form the EOBRUN
    s2 = []
    s2 += ac_code[0x01] + [0]             # k=1: (run 0, cat 1), -1
    s2 += ac_code[0x01] + [1]             # k=2: (run 0, cat 1), +1
    s2 += ac_code[0x00]                   # EOB for rest of block 0
    s2 += ac_code[0x10] + [0]             # EOBn r=1, extra bit 0 -> run 2
    # scan 3: DC refine Ah=1 Al=0 -> bit 0 of each true DC (12,-7,4)
    s3 = [12 & 1, (-7) & 1, 4 & 1]
    # scan 4: AC refine Ah=1 Al=0 on block 0 — final targets:
    #   k1 = -2 (history -1<<1, correction bit 0 keeps it),
    #   k2 = +3 (history  1<<1 = 2, correction bit 1 appends),
    #   k3 = +1 (newly significant; r=0 because k1/k2 have nonzero
    #   history and only ZERO-history positions count toward the run)
    # blocks 1-2: EOBRUN = 2
    s4 = []
    s4 += ac_code[0x01]        # (r=0, s=1): next new coef
    s4 += [1]                  # sign: positive
    s4 += [0, 1]               # correction bits for k1 (-2: bit0=0),
                               # k2 (2 -> +1 => 3: bit 1)
    s4 += ac_code[0x00]        # EOB: rest of block 0
    s4 += ac_code[0x10] + [0]  # EOBRUN = 2 for blocks 1-2
    jpg = bytearray(b"\xff\xd8")
    jpg += b"\xff\xdb" + _struct.pack(">HB", 67, 0x00) + bytes([1] * 64)
    jpg += b"\xff\xc2" + _struct.pack(">HBHHB", 11, 8, 8, 24, 1)
    jpg += bytes([1, 0x11, 0])
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 6, 0x00)
    jpg += bytes(dc_bits) + bytes(dc_vals)
    jpg += b"\xff\xc4" + _struct.pack(">HB", 19 + 5, 0x10)
    jpg += bytes(ac_bits) + bytes(ac_vals)
    for ss, se, ah, al, bits in (
        (0, 0, 0, 1, s1),
        (1, 63, 0, 1, s2),
        (0, 0, 1, 0, s3),
        (1, 63, 1, 0, s4),
    ):
        jpg += b"\xff\xda" + _struct.pack(">HB", 8, 1)
        jpg += bytes([1, 0x00, ss, se, (ah << 4) | al])
        jpg += pack(list(bits))
    jpg += b"\xff\xd9"
    got = decode_jpeg(bytes(jpg))
    assert got.shape == (8, 24)
    # expected: independent IDCT of the final coefficient targets
    ZZ_NAT = [(0, 0), (0, 1), (1, 0), (0, 2)]  # zigzag 0..3
    F0 = np.zeros((8, 8))
    F0[ZZ_NAT[0]] = 12
    F0[ZZ_NAT[1]] = -2
    F0[ZZ_NAT[2]] = 3
    F0[ZZ_NAT[3]] = 1
    F1 = np.zeros((8, 8)); F1[0, 0] = -7
    F2 = np.zeros((8, 8)); F2[0, 0] = 4
    a = lambda u: (1 / np.sqrt(2)) if u == 0 else 1.0  # noqa: E731
    want = np.zeros((8, 24))
    for bi, Fm in enumerate((F0, F1, F2)):
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        s += (
                            a(u) * a(v) / 4 * Fm[u, v]
                            * np.cos((2 * y + 1) * u * np.pi / 16)
                            * np.cos((2 * x + 1) * v * np.pi / 16)
                        )
                want[y, bi * 8 + x] = s + 128
    want = np.clip(np.round(want), 0, 255).astype(np.uint8)
    assert (np.abs(got.astype(int) - want.astype(int)) <= 1).all()
    assert (got == want).mean() > 0.9


def test_jpeg_restart_interval_roundtrip():
    """Encoder-side restart markers (round 16): DRI + RSTn emission
    every N MCUs (baseline / interleaved progressive scans) or blocks
    (non-interleaved AC scans) must decode pixel-identically to the
    marker-free stream — DC predictors and EOB runs reset and
    byte-align at every boundary, in BOTH codings. ri=1 (a marker
    after every unit) is the stress case."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(88)
    for shape, kw in (
        ((37, 45, 3), {"subsampling": "420"}),
        ((23, 31), {}),
        ((9, 23, 3), {"subsampling": "444"}),
    ):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        ref_b = decode_jpeg(encode_jpeg(img, quality=75, **kw))
        ref_p = decode_jpeg(
            encode_jpeg(img, quality=75, progressive=True, **kw)
        )
        for ri in (1, 3, 7):
            b = decode_jpeg(
                encode_jpeg(img, quality=75, restart_interval=ri, **kw)
            )
            assert (b == ref_b).all(), (shape, ri)
            p = decode_jpeg(
                encode_jpeg(
                    img,
                    quality=75,
                    progressive=True,
                    restart_interval=ri,
                    **kw,
                )
            )
            assert (p == ref_p).all(), (shape, ri)
        # the streams really carry RST markers
        wm = encode_jpeg(img, quality=75, restart_interval=2, **kw)
        assert any(
            bytes([0xFF, 0xD0 + i]) in wm for i in range(8)
        )


def test_jpeg_422_subsampling():
    """4:2:2 chroma subsampling (round 16): the decoder's generic
    upsampler handled 2x1 factors but no encoder exercised them —
    now one does. Flat gray-in-RGB blocks at Q75 stay exact through
    4:2:2 (the same lossless-DC argument as 4:2:0/4:4:4), random
    images keep their shape in baseline/progressive/restart
    combinations, and progressive==baseline pixel identity holds."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(42)
    v = rng.randint(0, 256, (2, 3)).astype(np.uint8)
    g = v.repeat(8, 0).repeat(8, 1)
    rgb = np.stack([g, g, g], 2)
    assert (
        decode_jpeg(encode_jpeg(rgb, quality=75, subsampling="422"))
        == rgb
    ).all()
    for shape in ((37, 45, 3), (9, 23, 3)):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(
            encode_jpeg(img, quality=80, subsampling="422")
        )
        prog = decode_jpeg(
            encode_jpeg(
                img, quality=80, subsampling="422", progressive=True
            )
        )
        assert base.shape == img.shape
        assert (base == prog).all(), shape
        rst = decode_jpeg(
            encode_jpeg(
                img, quality=80, subsampling="422", restart_interval=2
            )
        )
        assert (rst == base).all(), shape


def _flac_crc8(data):
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data):
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _FlacBits:
    def __init__(self):
        self.bits = []

    def w(self, v, n):
        self.bits += [(v >> (n - 1 - i)) & 1 for i in range(n)]

    def sw(self, v, n):  # signed
        self.w(v & ((1 << n) - 1), n)

    def rice(self, r, param):
        u = (abs(r) << 1) - (1 if r < 0 else 0)
        q = u >> param
        self.w(0, q) if q else None
        self.w(1, 1)
        if param:
            self.w(u & ((1 << param) - 1), param)

    def bytes(self):
        bits = list(self.bits)
        while len(bits) % 8:
            bits.append(0)
        return bytearray(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )


def _flac_stream(nch, bps, rate, total, frame_builders):
    """Hand-assemble a FLAC stream: STREAMINFO + frames built by
    callbacks writing subframe bits into a _FlacBits."""
    import struct as _struct

    si = _FlacBits()
    si.w(16, 16); si.w(65535, 16); si.w(0, 24); si.w(0, 24)
    si.w(rate, 20); si.w(nch - 1, 3); si.w(bps - 1, 5); si.w(total, 36)
    body = bytes(si.bytes()) + b"\x00" * 16
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + _struct.pack(">I", len(body))[1:] + body
    for fno, (blocksize, ch_code, build) in enumerate(frame_builders):
        hdr = _FlacBits()
        hdr.w(0x3FFE, 14); hdr.w(0, 1); hdr.w(0, 1)
        hdr.w(7, 4)       # 16-bit explicit block size
        hdr.w(0, 4)       # rate from STREAMINFO
        hdr.w(ch_code, 4)
        hdr.w(0, 3)       # bps from STREAMINFO
        hdr.w(0, 1)
        hb = hdr.bytes()
        hb += bytes([fno])  # utf8-coded small frame number
        hb += _struct.pack(">H", blocksize - 1)
        hb.append(_flac_crc8(bytes(hb)))
        fb = _FlacBits()
        build(fb)
        frame = bytes(hb) + bytes(fb.bytes())
        frame += _struct.pack(">H", _flac_crc16(frame))
        out += frame
    return bytes(out)


def test_flac_decoder_differential_hand_built():
    """Differential for the FLAC decoder against HAND-BUILT streams
    (independent test-local bit packer + CRCs) covering every path
    the in-repo encoder deliberately never emits: CONSTANT and
    VERBATIM subframes, an LPC subframe (order 2, quantized coefs +
    shift — expectation computed by the recurrence here), the 5-bit
    rice method, an ESCAPE partition (raw 6-bit residuals),
    partition order 1, wasted bits, and all three stereo
    decorrelations (left/side, right/side, mid/side)."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions.flac import (
        decode_flac,
    )

    # 1. CONSTANT + VERBATIM + wasted bits (mono, two frames)
    def f_const(fb):
        fb.w(0, 1); fb.w(0, 6); fb.w(0, 1)
        fb.sw(-300, 16)

    def f_verb_wasted(fb):
        fb.w(0, 1); fb.w(1, 6)
        fb.w(1, 1); fb.w(1, 1)  # wasted-bits flag, unary 0 -> 1 bit
        for v in (-8, 6, 4, -2):  # 15-bit values, shifted <<1 out
            fb.sw(v, 15)

    out, rate = decode_flac(
        _flac_stream(
            1, 16, 8000, 8,
            [(4, 0, f_const), (4, 0, f_verb_wasted)],
        )
    )
    assert rate == 8000
    assert list(out) == [-300] * 4 + [-16, 12, 8, -4]

    # 2. LPC order 2: x[i] = ((2*x[i-1] - 1*x[i-2]) >> 1) + r[i],
    #    5-bit rice method, partition order 1 (two partitions)
    warm = [100, 110]
    resid = [3, -2, 5, 0, -1, 2]  # 8 samples total, partitions 2+4?
    # partition order 1 over blocksize 8, order 2: first part 2, second 4
    def f_lpc(fb):
        fb.w(0, 1); fb.w(32 | (2 - 1), 6); fb.w(0, 1)
        fb.sw(warm[0], 16); fb.sw(warm[1], 16)
        fb.w(4 - 1, 4)   # precision 4 bits
        fb.sw(1, 5)      # shift 1
        fb.sw(2, 4); fb.sw(-1, 4)  # coefs
        fb.w(1, 2)       # 5-bit rice method
        fb.w(1, 4)       # partition order 1
        fb.w(2, 5)       # partition 1 param
        for r in resid[:2]:
            fb.rice(r, 2)
        fb.w(0b11111, 5)  # partition 2: ESCAPE
        fb.w(6, 5)        # raw width 6
        for r in resid[2:]:
            fb.sw(r, 6)

    out, _ = decode_flac(_flac_stream(1, 16, 8000, 8, [(8, 0, f_lpc)]))
    want = list(warm)
    for r in resid:
        pred = (2 * want[-1] - want[-2]) >> 1
        want.append(pred + r)
    assert list(out) == want

    # 3. stereo decorrelations: known L/R as verbatim subframes
    L = [100, -50, 7, 0]
    R = [90, -60, -7, 3]

    def verb(fb, vals, bits):
        fb.w(0, 1); fb.w(1, 6); fb.w(0, 1)
        for v in vals:
            fb.sw(v, bits)

    def f_ls(fb):  # left/side: side = L - R
        verb(fb, L, 16)
        verb(fb, [a - b for a, b in zip(L, R)], 17)

    def f_rs(fb):  # right/side: side = L - R, right stored
        verb(fb, [a - b for a, b in zip(L, R)], 17)
        verb(fb, R, 16)

    def f_ms(fb):  # mid/side: mid = (L+R)>>1, side = L-R
        verb(fb, [(a + b) >> 1 for a, b in zip(L, R)], 16)
        verb(fb, [a - b for a, b in zip(L, R)], 17)

    for code, build in ((8, f_ls), (9, f_rs), (10, f_ms)):
        out, _ = decode_flac(
            _flac_stream(2, 16, 16000, 4, [(4, code, build)])
        )
        assert out.shape == (4, 2), code
        assert list(out[:, 0]) == L and list(out[:, 1]) == R, code


def test_flac_codec_roundtrip_and_refusals():
    """FLAC (round 16): lossless round-trips (mono/stereo, extremes,
    multi-block, empty), CRC enforcement (a flipped sample byte must
    fail the frame CRC-16, a flipped header byte the CRC-8), and
    named refusals for non-FLAC payloads and truncations. Plus a
    400-case mutation sweep: only ValueError may surface."""
    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(4)
    s = (np.sin(np.arange(9000) / 11) * 12000).astype(np.int16)
    enc = encode_flac(s, 16000, block=2048)
    out, rate = decode_flac(enc)
    assert rate == 16000 and (out == s).all()
    st = rng.randint(-32768, 32768, (3000, 2)).astype(np.int16)
    out, _ = decode_flac(encode_flac(st))
    assert (out == st).all()
    with _pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFF1234")
    # CRC-16 catches a corrupted sample byte
    bad = bytearray(enc)
    bad[-40] ^= 0x10
    with _pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))
    for cut in (2, 10, 40, len(enc) // 2, len(enc) - 1):
        with _pytest.raises(ValueError):
            decode_flac(enc[:cut])
    for _ in range(400):
        b2 = bytearray(enc)
        pos = rng.randint(0, len(b2))
        b2[pos] = rng.randint(0, 256)
        try:
            decode_flac(bytes(b2))
        except ValueError:
            pass


def test_tiff_codec_roundtrip_and_lzw_differential():
    """TIFF (round 16, functions/tiff.py — public TIFF 6.0 spec):
    (a) lossless round-trips through the own encoder (gray/RGB/RGBA,
    strip splits, uncompressed + PackBits); (b) a DIFFERENTIAL
    against an independently-constructed BIG-ENDIAN LZW stream with
    horizontal-predictor differencing — a test-local TIFF-LZW
    compressor (real dictionary growth with the EARLY-CHANGE width
    bumps at 511/1023/2047 that distinguish TIFF LZW from GIF LZW)
    over data long enough to cross two width bumps; (c) WhiteIsZero
    inversion; (d) the magic dispatch routes both byte orders."""
    import struct as _struct

    import numpy as np

    from netcdf4_variable_streamer_spark.functions import (
        multimodal as mm,
    )
    from netcdf4_variable_streamer_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(6)
    for shape in ((7, 5), (16, 16, 3), (33, 21, 4)):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for comp in ("none", "packbits"):
            got = decode_tiff(
                encode_tiff(img, compression=comp, rows_per_strip=4)
            )
            assert got.shape == img.shape and (got == img).all()
    # dispatch: LE from our encoder
    img = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
    out = mm.decode_any(encode_tiff(img))
    assert (out == img).all()

    # (b) hand-built big-endian LZW + predictor=2 single-strip file
    def lzw_compress(data):
        bits = []
        width = 9

        def emit(code, w):
            bits.extend((code >> (w - 1 - i)) & 1 for i in range(w))

        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        emit(256, width)
        w = b""
        for ch in data:
            wk = w + bytes([ch])
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            table[wk] = next_code
            next_code += 1
            # TIFF6 early change, encoder side: switch when the
            # ADDED code == 511/1023/2047 (the decoder switches at
            # 510/1022/2046 — one earlier, compensating its one-entry
            # lag)
            if next_code - 1 == (1 << width) - 1 and width < 12:
                width += 1
            w = bytes([ch])
        if w:
            emit(table[w], width)
        emit(257, width)
        while len(bits) % 8:
            bits.append(0)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )

    h, w_ = 40, 50  # 2000 bytes -> dictionary crosses the 511 bump
    src = rng.randint(0, 256, (h, w_)).astype(np.uint8)
    diffed = np.diff(
        src.astype(np.int64), axis=1, prepend=0
    ) % 256  # horizontal differencing, first column absolute
    diffed[:, 0] = src[:, 0]
    blob = lzw_compress(diffed.astype(np.uint8).tobytes())
    # big-endian IFD, 8 short/long tags
    entries = [
        (256, 3, 1, w_), (257, 3, 1, h), (258, 3, 1, 8),
        (259, 3, 1, 5), (262, 3, 1, 1), (273, 4, 1, None),
        (279, 4, 1, len(blob)), (317, 3, 1, 2),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(entries) + 4
    out = bytearray(b"MM\x00*" + _struct.pack(">I", ifd_off))
    out += _struct.pack(">H", len(entries))
    for tag, typ, count, val in entries:
        if tag == 273:
            val = strip_off
        out += _struct.pack(">HHI", tag, typ, count)
        if typ == 3:
            out += _struct.pack(">H", val) + b"\0\0"
        else:
            out += _struct.pack(">I", val)
    out += _struct.pack(">I", 0)
    out += blob
    got = decode_tiff(bytes(out))
    assert got.shape == (h, w_)
    assert (got == src).all()

    # (c) WhiteIsZero: photometric 0 inverts
    out2 = bytearray(out)
    # photometric tag value lives in the 5th entry's value field
    idx = bytes(out2).index(_struct.pack(">HHI", 262, 3, 1)) + 8
    out2[idx : idx + 2] = _struct.pack(">H", 0)
    got_inv = decode_tiff(bytes(out2))
    assert (got_inv == 255 - src).all()


def test_tiff_refusals_and_mutation_sweep():
    """TIFF refusal envelope + 400-case bit-flip/truncation sweep:
    tiled layouts, 16-bit samples, palette, planar=2, unknown
    compressions and predictors refuse by name; mutations surface
    only ValueError / NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, (12, 10, 3)).astype(np.uint8)
    good = encode_tiff(img, compression="packbits")
    with _pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"GIF89a")
    for _ in range(400):
        b2 = bytearray(good)
        pos = rng.randint(0, len(b2) * 8)
        b2[pos // 8] ^= 1 << (pos % 8)
        try:
            decode_tiff(bytes(b2))
        except (ValueError, NotImplementedError):
            pass
    for n in (0, 3, 8, 20, len(good) // 2, len(good) - 1):
        try:
            decode_tiff(bytes(good[:n]))
        except (ValueError, NotImplementedError):
            pass


def test_tiff_g4_differential_and_roundtrip():
    """CCITT Group 4 (round 17, VERDICT r16 #3 — ITU-T T.6 2-D MMR,
    the dominant compression of real scanned-document archives):
    (a) TWO hand-built differential streams derived bit by bit from
    the public spec tables, pinned in both directions — one
    exercising horizontal mode with white/black terminating codes
    (W4/W0/W6, B4/B2/B0), one exercising V0/VR1/PASS; (b) lossless
    round-trips over random, solid, and run-structured bilevel
    images incl. multi-strip container assembly; (c) real
    compression on a text-like page; (d) make-up codes: a wide
    image whose runs need make-up + terminating composition."""
    import numpy as np

    from netcdf4_variable_streamer_spark.functions.tiff import (
        _ccitt_g4_decode,
        _ccitt_g4_encode,
        decode_tiff,
        encode_tiff,
    )

    # (a1) row0 = wwwwbbbb, row1 = bbwwwwww. Hand-derivation:
    # row0: H(001) W4(1011) B4(011); row1: H(001) W0(00110101)
    # B2(11), then H(001) W6(1110) B0(0000110111) = 40 bits.
    img1 = np.array(
        [[0, 0, 0, 0, 1, 1, 1, 1], [1, 1, 0, 0, 0, 0, 0, 0]],
        np.uint8,
    )
    hand1 = bytes([0x36, 0xC9, 0xAE, 0x78, 0x37])
    assert _ccitt_g4_encode(img1) == hand1
    assert (_ccitt_g4_decode(hand1, 8, 2) == img1).all()
    # (a2) V/P modes: wwbbbwww / wwwbbwww / wwwwwwww.
    # row0: H W2(0111) B3(10), V0(1); row1: VR1(011) V0(1) V0(1);
    # row2: PASS(0001) V0(1) = 20 bits.
    img2 = np.array(
        [
            [0, 0, 1, 1, 1, 0, 0, 0],
            [0, 0, 0, 1, 1, 0, 0, 0],
            [0, 0, 0, 0, 0, 0, 0, 0],
        ],
        np.uint8,
    )
    hand2 = bytes([0x2F, 0x5E, 0x30])
    assert _ccitt_g4_encode(img2) == hand2
    assert (_ccitt_g4_decode(hand2, 8, 3) == img2).all()

    # (b) round-trips: random / solid / run-structured, multi-strip
    rng = np.random.RandomState(17)
    for trial in range(60):
        h = rng.randint(1, 20)
        w = rng.randint(1, 80)
        kind = trial % 4
        if kind == 0:
            bits = rng.randint(0, 2, (h, w)).astype(np.uint8)
        elif kind == 1:
            bits = np.zeros((h, w), np.uint8)
        elif kind == 2:
            bits = np.ones((h, w), np.uint8)
        else:
            bits = (rng.rand(h, w) < 0.1).astype(np.uint8)
            bits = np.maximum(bits, np.roll(bits, 1, axis=1))
        enc = _ccitt_g4_encode(bits)
        assert (_ccitt_g4_decode(enc, w, h) == bits).all()
        gray = ((1 - bits) * 255).astype(np.uint8)
        got = decode_tiff(
            encode_tiff(gray, compression="g4", rows_per_strip=6)
        )
        assert got.shape == gray.shape and (got == gray).all()

    # (c) a text-like page compresses ~380x
    page = np.full((100, 800), 255, np.uint8)
    page[::7, 50:750] = 0
    blob = encode_tiff(page, compression="g4", rows_per_strip=100)
    assert len(blob) < 100 * 800 // 100
    assert (decode_tiff(blob) == page).all()

    # (d) make-up + terminating composition: 1 x 3100 with one long
    # white run (2560 + 476 make-ups + terminator) and a black tail
    wide = np.zeros((1, 3100), np.uint8)
    wide[0, 3036:] = 1
    enc = _ccitt_g4_encode(wide)
    assert (_ccitt_g4_decode(enc, 3100, 1) == wide).all()


def test_tiff_g4_refusals_and_mutation_sweep():
    """G4 refusal envelope: extension/uncompressed mode, LSB-first
    FillOrder, invalid T6Options, 8-bit sample claims with comp=4,
    predictor 2, G4 with spp>1; 500-case bit-flip + truncation sweep
    surfaces only ValueError / NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.tiff import (
        _ccitt_g4_decode,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(9)
    img = (rng.randint(0, 2, (20, 31)) * 255).astype(np.uint8)
    good = encode_tiff(img, compression="g4", rows_per_strip=7)

    def set_tag(payload, tag, val, add=False):
        b = bytearray(payload)
        i = b.index(_struct.pack("<HH", tag, 3)) + 8
        b[i : i + 2] = _struct.pack("<H", val)
        return bytes(b)

    # extension code 0000001 refuses by name
    with _pytest.raises(NotImplementedError, match="extension"):
        _ccitt_g4_decode(bytes([0x02, 0x00]), 8, 1)
    # seven zeros = EOL-ish garbage inside a strip
    with _pytest.raises(ValueError, match="mode code"):
        _ccitt_g4_decode(bytes([0x00, 0x10]), 8, 1)
    # truncated stream
    with _pytest.raises(ValueError, match="truncated"):
        _ccitt_g4_decode(b"", 8, 1)
    # the minimal-file fixture decodes before any tag is poisoned
    assert (decode_tiff(_mini_g4()) == [[255, 0, 0, 255]]).all()
    with _pytest.raises(ValueError, match="T6Options"):
        decode_tiff(_mini_g4(t6options=5))
    # FillOrder 2 is SUPPORTED since round 18 — a tag claiming LSB
    # order over MSB-encoded strip data bit-reverses into garbage and
    # must fail the G4 walk loudly, never decode wrong pixels
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_tiff(_mini_g4(fillorder=2))
    with _pytest.raises(ValueError, match="FillOrder 3"):
        decode_tiff(_mini_g4(fillorder=3))
    with _pytest.raises(NotImplementedError, match="bilevel"):
        decode_tiff(_mini_g4(bps=8))
    with _pytest.raises(NotImplementedError, match="predictor"):
        decode_tiff(_mini_g4(predictor=2))
    # mutation sweep
    for _ in range(500):
        b2 = bytearray(good)
        pos = rng.randint(0, len(b2) * 8)
        b2[pos // 8] ^= 1 << (pos % 8)
        try:
            decode_tiff(bytes(b2))
        except (ValueError, NotImplementedError):
            pass
    for cut in (0, 9, 30, len(good) // 2, len(good) - 1):
        try:
            decode_tiff(bytes(good[:cut]))
        except (ValueError, NotImplementedError):
            pass


def _mini_g4(bps=1, fillorder=1, t6options=0, predictor=1):
    """Minimal single-strip little-endian G4 TIFF with injectable
    tag values for the refusal tests."""
    import struct as _struct

    import numpy as np

    from netcdf4_variable_streamer_spark.functions.tiff import (
        _ccitt_g4_encode,
    )

    bits = np.array([[0, 1, 1, 0]], np.uint8)
    blob = _ccitt_g4_encode(bits)
    entries = [
        (256, 3, 1, 4), (257, 3, 1, 1), (258, 3, 1, bps),
        (259, 3, 1, 4), (262, 3, 1, 0), (266, 3, 1, fillorder),
        (273, 4, 1, None), (277, 3, 1, 1), (279, 4, 1, len(blob)),
        (293, 4, 1, t6options), (317, 3, 1, predictor),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + _struct.pack("<I", ifd_off))
    out += _struct.pack("<H", len(entries))
    for tag, typ, count, val in entries:
        if tag == 273:
            val = strip_off
        out += _struct.pack("<HHI", tag, typ, count)
        if typ == 3:
            out += _struct.pack("<H", val) + b"\0\0"
        else:
            out += _struct.pack("<I", val)
    out += _struct.pack("<I", 0)
    out += blob
    return bytes(out)


def test_tiff_tiled_layout_roundtrip_and_placement():
    """Tiled TIFF (round 17 — TIFF 6.0 §15, the other layout real
    scanned archives ship): (a) an INDEPENDENTLY-constructed
    big-endian tiled file (test-local IFD writer, constant-valued
    tiles) decodes with every tile in its grid position and edge
    padding cropped; (b) round-trips for gray/RGB/RGBA x
    none/PackBits/G4 across edge-padding shapes and non-square
    tiles; (c) the per-tile horizontal predictor; (d) refusals:
    non-multiple-of-16 dims, strip+tile tag mixes, count/grid
    mismatches, grid bombs; (e) 400-case mutation sweep."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
    )

    # (a) hand-built: 20x30 gray, 16x16 tiles -> 2x2 grid, tile k
    # filled with value 10*k; uncompressed, big-endian
    def build(tile_vals, w=30, h=20, tw=16, tl=16, extra=()):
        tiles = [bytes([v]) * (tw * tl) for v in tile_vals]
        entries = [
            (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8),
            (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
            (322, 3, 1, tw), (323, 3, 1, tl),
            (324, 4, len(tiles), None),
            (325, 4, len(tiles), [len(t) for t in tiles]),
            *extra,
        ]
        entries.sort()
        ifd = 8
        # layout: IFD, then out-of-line arrays, then tiles
        oline = ifd + 2 + 12 * len(entries) + 4
        arrays = bytearray()
        offs = {}
        for tag, typ, cnt, val in entries:
            if cnt > 1 or tag == 324:
                offs[tag] = oline + len(arrays)
                if tag == 324:
                    arrays += b"\0\0\0\0" * cnt  # patched below
                else:
                    arrays += _struct.pack(f">{cnt}I", *val)
        tile_base = oline + len(arrays)
        toffs = []
        o = tile_base
        for t in tiles:
            toffs.append(o)
            o += len(t)
        arrays[
            offs[324] - oline : offs[324] - oline + 4 * len(tiles)
        ] = _struct.pack(f">{len(tiles)}I", *toffs)
        out = bytearray(b"MM\x00*" + _struct.pack(">I", ifd))
        out += _struct.pack(">H", len(entries))
        for tag, typ, cnt, val in entries:
            out += _struct.pack(">HHI", tag, typ, cnt)
            if cnt > 1 or tag == 324:
                out += _struct.pack(">I", offs[tag])
            elif typ == 3:
                out += _struct.pack(">H", val) + b"\0\0"
            else:
                out += _struct.pack(">I", val)
        out += _struct.pack(">I", 0)
        out += arrays
        for t in tiles:
            out += t
        return bytes(out)

    img = decode_tiff(build([10, 20, 30, 40]))
    assert img.shape == (20, 30)
    assert img[0, 0] == 10 and img[0, 29] == 20
    assert img[19, 0] == 30 and img[19, 29] == 40
    assert (img[:16, :16] == 10).all() and (img[16:, 16:] == 40).all()

    # (b) round-trips incl. G4 tiles and (c) predictor via packbits
    rng = np.random.RandomState(22)
    for shape in ((5, 7), (17, 33, 3), (40, 50, 4)):
        im = rng.randint(0, 256, shape).astype(np.uint8)
        for comp in ("none", "packbits"):
            got = decode_tiff(
                encode_tiff(im, compression=comp, tile=(16, 32))
            )
            assert got.shape == im.shape and (got == im).all()
    bil = (rng.randint(0, 2, (37, 61)) * 255).astype(np.uint8)
    got = decode_tiff(encode_tiff(bil, compression="g4", tile=(16, 16)))
    assert (got == bil).all()

    # (d) refusals
    with _pytest.raises(ValueError, match="multiples of 16"):
        decode_tiff(build([10, 20, 30, 40], tw=10))
    with _pytest.raises(ValueError, match="both strip and tile"):
        decode_tiff(
            build([10, 20, 30, 40], extra=((278, 3, 1, 16),))
        )
    with _pytest.raises(ValueError, match="tile count"):
        decode_tiff(build([10, 20, 30]))
    with _pytest.raises(ValueError, match="implausible"):
        decode_tiff(build([10, 20, 30, 40], w=60000, h=60000))
    with _pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff(np.zeros((8, 8), np.uint8), tile=(16, 24 + 1))

    # (e) mutation sweep over a tiled packbits file
    good = encode_tiff(
        rng.randint(0, 256, (20, 30, 3)).astype(np.uint8),
        compression="packbits",
        tile=(16, 16),
    )
    for _ in range(400):
        b2 = bytearray(good)
        pos = rng.randint(0, len(b2) * 8)
        b2[pos // 8] ^= 1 << (pos % 8)
        try:
            decode_tiff(bytes(b2))
        except (ValueError, NotImplementedError):
            pass
    for cut in (0, 9, 30, len(good) // 2, len(good) - 1):
        try:
            decode_tiff(bytes(good[:cut]))
        except (ValueError, NotImplementedError):
            pass


def test_avi_mjpeg_roundtrip_and_refusals():
    """MJPEG-in-AVI (round 16): flat-block frames round-trip EXACTLY
    (each frame is the exact-through-JPEG fixture), lossy frames keep
    shape/count/fps, and the container refuses by name: non-AVI
    payloads, frame-vs-header dimension and count disagreements,
    truncated chunks. Plus a 300-case mutation sweep (ValueError /
    NotImplementedError only)."""
    import numpy as np
    import pytest as _pytest
    import struct as _struct

    from netcdf4_variable_streamer_spark.functions.avi import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    rng = np.random.RandomState(3)
    v = rng.randint(0, 256, (4, 2, 2)).astype(np.uint8)
    frames = np.stack(
        [
            np.stack([v[i].repeat(8, 0).repeat(8, 1)] * 3, axis=2)
            for i in range(4)
        ]
    )
    enc = encode_avi_mjpeg(frames, fps=25)
    out, fps = decode_avi_mjpeg(enc)
    assert fps == 25 and (out == frames).all()
    nf = rng.randint(0, 256, (3, 24, 32, 3)).astype(np.uint8)
    out, _ = decode_avi_mjpeg(encode_avi_mjpeg(nf))
    assert out.shape == (3, 24, 32, 3)
    with _pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")
    # header/frame-count disagreement refuses
    bad = bytearray(enc)
    i = bad.index(b"avih") + 8 + 16  # dwTotalFrames
    _struct.pack_into("<I", bad, i, 9)
    with _pytest.raises(ValueError, match="declares 9 frames"):
        decode_avi_mjpeg(bytes(bad))
    # header/frame-dims disagreement refuses
    bad = bytearray(enc)
    i = bad.index(b"avih") + 8 + 32  # dwWidth
    _struct.pack_into("<I", bad, i, 8)
    with _pytest.raises(ValueError, match="header"):
        decode_avi_mjpeg(bytes(bad))
    for _ in range(300):
        b2 = bytearray(enc)
        pos = rng.randint(0, len(b2))
        b2[pos] = rng.randint(0, 256)
        try:
            decode_avi_mjpeg(bytes(b2))
        except (ValueError, NotImplementedError):
            pass
    for n in (0, 4, 11, 40, len(enc) // 2, len(enc) - 1):
        try:
            decode_avi_mjpeg(bytes(enc[:n]))
        except (ValueError, NotImplementedError):
            pass


def test_round16_codec_review_regressions():
    """Round-16 code-review findings, pinned: (1) FLAC encodes the
    high studio rates (96/176.4/192 kHz) via the daHz frame-header
    code instead of dying in struct.pack, and refuses non-
    representable rates BY NAME; (2) TIFF dimension tags switch to
    LONG beyond 65535 (a 2x70000 strip image round-trips); (3) the
    JPEG marker loop skips T.81 fill bytes (0xFF padding) before
    markers instead of mis-parsing them as segment lengths."""
    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )
    from netcdf4_variable_streamer_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from netcdf4_variable_streamer_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(16)
    for rate in (96000, 176400, 192000):
        s = rng.randint(-3000, 3000, 700).astype(np.int16)
        out, r = decode_flac(encode_flac(s, rate))
        assert r == rate and (out == s).all(), rate
    with _pytest.raises(ValueError, match="not representable"):
        encode_flac(np.zeros(4, np.int16), 65537)
    with _pytest.raises(ValueError, match="20-bit"):
        encode_flac(np.zeros(4, np.int16), 1 << 20)

    img = rng.randint(0, 256, (2, 70000, 3)).astype(np.uint8)
    assert (decode_tiff(encode_tiff(img)) == img).all()

    base = encode_jpeg(np.full((8, 8), 100, np.uint8), quality=75)
    padded = base[:-2] + b"\xff\xff\xff" + base[-2:]
    assert (decode_jpeg(padded) == 100).all()
    sos = base.index(b"\xff\xda")
    padded2 = base[:sos] + b"\xff\xff" + base[sos:]
    assert (decode_jpeg(padded2) == 100).all()


def test_tiff_fillorder2_roundtrip_and_tag_honored():
    """Round-18 FillOrder 2 (tag 266, LSB-first byte fill — the
    fax-derived convention): (a) every supported codec x layout
    round-trips with fill_order=2 to the SAME pixels as its
    MSB-first twin while the files differ on disk; (b) the tag is
    actually honored — rewriting 266 to 1 over LSB data changes the
    decoded pixels (uncompressed) or dies in the G4 walk; (c)
    FillOrder 3 refuses by name; (d) the encoder refuses
    fill_order outside {1, 2}."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.functions.tiff import (
        _BITREV,
        decode_tiff,
        encode_tiff,
    )

    assert bytes(range(256)).translate(_BITREV).translate(
        _BITREV
    ) == bytes(range(256))
    rng = np.random.RandomState(18)
    page = (rng.randint(0, 2, (37, 61)) * 255).astype(np.uint8)
    rgb = rng.randint(0, 256, (23, 19, 3)).astype(np.uint8)
    for img, kw in [
        (page, dict(compression="g4", rows_per_strip=9)),
        (page, dict(compression="g4", tile=(16, 16))),
        (rgb, dict(compression="none", rows_per_strip=5)),
        (rgb, dict(compression="packbits", rows_per_strip=5)),
        (rgb, dict(compression="packbits", tile=(16, 32))),
    ]:
        f1 = encode_tiff(img, **kw)
        f2 = encode_tiff(img, fill_order=2, **kw)
        assert f2 != f1
        assert (decode_tiff(f2) == decode_tiff(f1)).all(), kw
    f2 = bytearray(
        encode_tiff(rgb, compression="none", fill_order=2)
    )
    i = f2.index(_struct.pack("<HH", 266, 3)) + 8
    f2[i : i + 2] = _struct.pack("<H", 1)
    assert not (decode_tiff(bytes(f2)) == rgb).all()
    f2[i : i + 2] = _struct.pack("<H", 3)
    with _pytest.raises(ValueError, match="FillOrder 3"):
        decode_tiff(bytes(f2))
    with _pytest.raises(ValueError, match="fill_order"):
        encode_tiff(rgb, fill_order=0)


def test_exact_pairs_block_fits_budget():
    """The kernel's dense dot block (float64, batch rows x block rows)
    stays within ``_PAIRS_BLOCK_BYTES`` at the default 10000-row Arrow
    batch, where the former 1024-row floor gave 78 MB per block."""
    from netcdf4_variable_streamer_spark.operators.similarity import (
        _PAIRS_BLOCK_BYTES,
        _pairs_block_rows,
    )

    for rows in (256, 8192, 10_000, 100_000):
        blk = _pairs_block_rows(rows)
        assert blk >= 1
        assert 8 * rows * blk <= _PAIRS_BLOCK_BYTES, (rows, blk)
    assert _pairs_block_rows(256) == 32768  # small batches: one block


def _lloyd_case(width: int, seed: int):
    """Integer points P and centroids C (ids ascending) with three
    planted cases: point 0 is equidistant from centroids 0 and 1,
    centroid 2 is too far to attract any point, and both live
    centroids get negative coordinate sums that do not divide evenly."""
    import numpy as np

    c = np.zeros((3, width), np.int64)
    c[1, 0] = 2
    c[2, :] = 100
    planted = np.zeros((6, width), np.int64)
    planted[0, 0] = 1  # d2 = 1 to both centroid 0 and centroid 1
    planted[1:4, 1] = (-1, -2, -2)  # members of centroid 0
    planted[4, 0] = 3  # members of centroid 1
    planted[5, :2] = (2, -1)
    rng = np.random.default_rng(seed)
    p = np.vstack([planted, rng.integers(-3, 4, (10, width))])
    return p, c


def _np_lloyd_round(p, c, ids):
    """One Lloyd round in NumPy: argmin (first index = lowest id on a
    tie), then the floor mean of each centroid's members."""
    import numpy as np

    lab = np.argmin(((p[:, None, :] - c[None, :, :]) ** 2).sum(-1), 1)
    upd = {
        ids[j]: np.floor_divide(p[lab == j].sum(0), (lab == j).sum())
        for j in np.unique(lab)
    }
    return [ids[j] for j in lab], upd


@pytest.mark.parametrize("layout", ["full", "subspace"])
def test_lloyd_round_matches_numpy(spark, layout):
    """One round of the shared Lloyd assign/update equals NumPy argmin
    + floor_divide in both layouts: lowest id wins a tie, a centroid
    with no members drops out, and negative means floor (not
    truncate)."""
    import numpy as np

    from netcdf4_variable_streamer_spark.operators.similarity import (
        _FULLVEC,
        _SUBSPACE,
        _lloyd_assign,
        _lloyd_update,
    )

    ids = [0, 3, 7]
    shape = _FULLVEC if layout == "full" else _SUBSPACE
    subspaces = [()] if layout == "full" else [(0,), (5,)]
    pts, cents, want_lab, want_upd = [], [], {}, {}
    for k, s in enumerate(subspaces):
        p, c = _lloyd_case(shape.width, seed=k)
        lab, upd = _np_lloyd_round(p, c, ids)
        # the planted cases are exercised: the tie, the empty centroid,
        # and a negative mean whose floor differs from truncation
        assert lab[0] == ids[0] and ids[2] not in upd
        members = {i: p[np.array(lab) == i] for i in upd}
        trunc = {i: (m.sum(0) / len(m)).astype(np.int64)
                 for i, m in members.items()}
        assert any((upd[i] != trunc[i]).any() for i in upd)
        pts += [(v, *s, [int(x) for x in row]) for v, row in enumerate(p)]
        cents += [(*s, i, [int(x) for x in row]) for i, row in zip(ids, c)]
        want_lab.update({(v, *s): i for v, i in enumerate(lab)})
        want_upd.update(
            {(*s, i): [int(x) for x in row] for i, row in upd.items()}
        )
    part = [f"{n} int" for n in shape.part]
    pts_df = spark.createDataFrame(
        pts, ", ".join(["vec_id long", *part, f"{shape.vec} array<long>"])
    )
    cents_df = spark.createDataFrame(
        cents, ", ".join([*part, f"{shape.label} long", "cfx array<long>"])
    )
    asg = _lloyd_assign(pts_df, cents_df, shape, carry=(shape.vec,))
    key = ("vec_id", *shape.part)
    got_lab = {
        tuple(r[k] for k in key): r[shape.label] for r in asg.collect()
    }
    assert got_lab == want_lab
    grp = (*shape.part, shape.label)
    got_upd = {
        tuple(r[k] for k in grp): list(r["cfx"])
        for r in _lloyd_update(asg, shape).collect()
    }
    assert got_upd == want_upd
