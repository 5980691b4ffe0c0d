"""Corpus-preparation operators beyond the dedup/text families (B-10
addendum): exact duplicate-span detection, BPE-style pair statistics,
context-window chunking, and weighted sampling.

These are the remaining steps of a pretraining-data pipeline that the
dedup (document-level) and text (quality-filter) modules don't cover:
*span*-level duplication (the "Deduplicating Training Data Makes
Language Models Better" operation), tokenizer vocabulary statistics,
slicing documents into fixed context windows, and importance-weighted
subsampling. All four follow the repo's hash-match hygiene: md5-derived
integers, truncated integer ratios, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.registry import register
from netcdf4_variable_streamer_spark.tables import load_table, materialize_once

# ---------------------------------------------------------------------------
# Shared n-gram-with-position construction (Spark + DuckDB twins). Unlike
# the dedup shingles these keep the token position, because span dedup
# reports WHERE in the document the duplicated span sits.
# ---------------------------------------------------------------------------

_SPAN_N = 5  # word n-gram length (real pipelines use ~13; docs here are short)


def _positioned_grams(d: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, g): every n-token window with its 1-based position.

    The split array is materialized as a column BEFORE the lambda indexes
    it (inline expressions inside HOF lambdas re-evaluate per element —
    the 7x shingling trap).
    """
    ts = F.col("ts")
    grams = F.when(
        F.size(ts) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ts, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.posexplode(grams).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")


def _positioned_grams_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"ts[i+{j}]" for j in range(n))
    return f"""
d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
pg AS (
  SELECT doc_id, i AS pos, {parts.replace('ts[i+0]', 'ts[i]')} AS g
  FROM d, UNNEST(generate_series(1, GREATEST(LEN(ts) - {n - 1}, 0))) AS u(i)
)"""


@register(
    "q_dedup_ngram_spans",
    oracle=f"""
WITH {_positioned_grams_sql(_SPAN_N)},
gd AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM pg GROUP BY g),
scored AS (
  SELECT pg.doc_id, pg.pos, (gd.nd >= 2) AS is_dup
  FROM pg JOIN gd USING (g)
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       (SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000 // COUNT(*))
         / 10000.0 AS dup_frac,
       MIN(CASE WHEN is_dup THEN pos END) AS first_dup_pos
FROM scored GROUP BY doc_id
""",
    doc="Span-level exact duplication scan (the suffix-array-dedup "
        "semantics of 'Deduplicating Training Data Makes Language Models "
        "Better', expressed relationally): every word-5-gram occurrence "
        "that also appears in ANOTHER document is a duplicated span; per "
        "document we report the span count, duplicated fraction, and the "
        "first duplicated position (where a trim-the-duplicate pass would "
        "start cutting). Shape at 100 TB: gram→distinct-doc-count is one "
        "aggregation keyed by the gram (map-side partial agg collapses "
        "within-partition repeats), the score-back is a shuffle equi-join "
        "on the gram, and the roll-up is keyed by doc_id — the same "
        "3-stage shape as the boilerplate filter, no all-pairs step "
        "anywhere. Real pipelines key the shuffle by an 8-byte gram hash "
        "instead of the string; the string is kept here so the oracle is "
        "byte-identical.",
)
def q_dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    pg = _positioned_grams(d, _SPAN_N)
    gd = pg.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    scored = pg.join(gd, "g").select(
        "doc_id", "pos", (F.col("nd") >= 2).alias("is_dup")
    )
    dup1 = F.when(F.col("is_dup"), 1).otherwise(0)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(dup1).alias("n_dup_spans"),
        (F.floor(F.sum(dup1) * 10000 / F.count(F.lit(1))) / 10000.0).alias(
            "dup_frac"
        ),
        F.min(F.when(F.col("is_dup"), F.col("pos"))).alias("first_dup_pos"),
    )


@register(
    "q_text_vocab_pairs",
    oracle="""
WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
bg AS (
  SELECT ts[i] || ' ' || ts[i+1] AS pair
  FROM d, UNNEST(generate_series(1, GREATEST(LEN(ts) - 1, 0))) AS u(i)
),
c AS (SELECT pair, COUNT(*) AS cnt FROM bg GROUP BY pair)
SELECT pair, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rnk
FROM c
ORDER BY cnt DESC, pair LIMIT 30
""",
    doc="Tokenizer-vocabulary pair statistics — the counting step of one "
        "BPE merge round: global counts of adjacent token pairs, top 30 "
        "with a deterministic (count DESC, pair ASC) tie-break. Shape at "
        "100 TB: pair construction is a map-side array transform; the "
        "count is one aggregation keyed by pair with map-side partial agg "
        "(the heavy hitters collapse before the shuffle — this is why "
        "pair counting scales even though pair frequency is zipfian); the "
        "top-30 is TakeOrderedAndProject, never a global sort. Iterated "
        "BPE training replays this query on the re-segmented corpus; each "
        "round is the same single-shuffle plan.",
)
def q_text_vocab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ts = F.col("ts")
    pairs = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ts, i), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c = (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(30)
    )


_MIN_SUPPORT = 20  # collocation pairs below this count are noise


@register(
    "q_text_collocation_lift",
    oracle=f"""
WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
bg AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM d, UNNEST(generate_series(1, GREATEST(LEN(ts) - 1, 0))) AS u(i)
  WHERE ts[i] <> '' AND ts[i+1] <> ''
),
uni AS (
  SELECT t.tok, COUNT(*) AS cnt FROM d,
       UNNEST(ts) AS t(tok) WHERE t.tok <> '' GROUP BY t.tok
),
n AS (SELECT COUNT(*) AS n_tok FROM d, UNNEST(ts) AS t(tok)
      WHERE t.tok <> ''),
pc AS (
  SELECT w1, w2, COUNT(*) AS pair_cnt FROM bg GROUP BY w1, w2
  HAVING COUNT(*) >= {_MIN_SUPPORT}
)
SELECT w1, w2, pair_cnt, u1.cnt AS cnt1, u2.cnt AS cnt2,
       (pair_cnt * n.n_tok * 10000) // (u1.cnt * u2.cnt) AS lift_x1e4
FROM pc
JOIN uni u1 ON u1.tok = pc.w1
JOIN uni u2 ON u2.tok = pc.w2
CROSS JOIN n
ORDER BY lift_x1e4 DESC, w1, w2 LIMIT 30
""",
    doc=f"Collocation mining by lift — the association step after "
        "q_text_vocab_pairs' raw counts: lift = P(w1 w2) / (P(w1)P(w2)) "
        "computed ENTIRELY in integers as (pair_cnt * N * 1e4) div "
        "(cnt1 * cnt2), so no log/PMI float leaves the engine (the PMI "
        f"ranking is monotone in lift). Min-support {_MIN_SUPPORT} "
        "prunes the zipfian tail BEFORE the unigram joins; the unigram "
        "table joins are keyed equi-joins on the (small) "
        "post-support-filter pair set; top-30 is TakeOrdered. One "
        "token-keyed shuffle + one pair-keyed shuffle regardless of "
        "corpus size.",
)
def q_text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ts = F.col("ts")
    pair_structs = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("w1"),
                F.element_at(ts, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        d.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    toks = d.select(F.explode(ts).alias("tok")).filter(F.col("tok") != "")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = toks.agg(F.count(F.lit(1)).alias("n_tok"))
    pc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _MIN_SUPPORT)
    )
    j = (
        pc.join(
            uni.select(
                F.col("tok").alias("w1"), F.col("cnt").alias("cnt1")
            ),
            "w1",
        )
        .join(
            uni.select(
                F.col("tok").alias("w2"), F.col("cnt").alias("cnt2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(n))
    )
    return (
        j.select(
            "w1",
            "w2",
            "pair_cnt",
            "cnt1",
            "cnt2",
            F.expr(
                "(pair_cnt * n_tok * 10000) div (cnt1 * cnt2)"
            ).alias("lift_x1e4"),
        )
        .orderBy(F.desc("lift_x1e4"), "w1", "w2")
        .limit(30)
    )


_CHUNK = 32  # context window length in tokens
_STRIDE = 24  # 8-token overlap between consecutive windows


@register(
    "q_chunk_context_windows",
    oracle=f"""
WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
ch AS (
  SELECT doc_id, i AS chunk_idx, i * {_STRIDE} + 1 AS start_tok,
         LIST_SLICE(ts, i * {_STRIDE} + 1,
                    i * {_STRIDE} + {_CHUNK}) AS chunk
  FROM d,
       UNNEST(generate_series(0, GREATEST((LEN(ts) - 1) // {_STRIDE}, 0)))
         AS u(i)
)
SELECT doc_id, chunk_idx, start_tok,
       CAST(LEN(chunk) AS BIGINT) AS n_tokens,
       MD5(ARRAY_TO_STRING(chunk, ' ')) AS chunk_md5
FROM ch
""",
    doc="Context-window chunking — slicing documents into fixed-length "
        "overlapping token windows (length 32, stride 24) the way a "
        "pretraining tokenizer pipeline shards long documents before "
        "sequence packing (q_pack_sequences consumes windows like these). "
        "Entirely map-side: split, index-generate, slice — ZERO shuffles "
        "(plan-asserted), so at 100 TB it runs at scan speed and "
        "preserves the input partitioning for the packer downstream. "
        "Each window carries its provenance (doc_id, chunk_idx, "
        "start_tok) and an md5 for downstream exact-dedup of windows.",
)
def q_chunk_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ts = F.col("ts")
    n_chunks_m1 = F.greatest(
        F.floor((F.size(ts) - 1) / _STRIDE).cast("int"), F.lit(0)
    )
    ch = d.select(
        "doc_id",
        F.col("ts"),
        F.explode(F.sequence(F.lit(0), n_chunks_m1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * _STRIDE + 1).alias("start_tok"),
        F.slice(
            F.col("ts"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK
        ).alias("chunk"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


# inclusion probability ∝ n_chars, scaled so p = n_chars / 1000 (docs are
# 48..553 chars → p in ~[0.05, 0.55]); decision = md5-derived 60-bit
# integer compared against the per-row threshold — deterministic, engine-
# portable, and stable under corpus growth/partitioning.
_W_DEN = 1000


@register(
    "q_sample_weighted",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hx
  FROM documents
),
kept AS (
  SELECT * FROM h
  WHERE hx % 1000000 < (n_chars * 1000000) // {_W_DEN}
)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM kept GROUP BY lang
""",
    doc="Importance-weighted Bernoulli sampling: each document is kept "
        "with probability proportional to its length (weight = n_chars / "
        "1000, the 'sample long documents more' heuristic of data-mixture "
        "tuning), decided by comparing a 60-bit md5 hash of the stable "
        "doc key against the per-row integer threshold. Pure map-side "
        "predicate — no shuffle, no RNG state, reproducible across "
        "engines, corpus size, and partitioning (the same properties as "
        "q_sample_hash_split, generalized to per-row weights). One "
        "aggregation for the audit counts.",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hx = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    thresh = F.floor(F.col("n_chars") * 1000000 / _W_DEN)
    return (
        d.filter((hx % 1000000) < thresh)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_PER_GROUP_K = 10


@register(
    "q_sample_per_group",
    oracle=f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
  FROM documents
)
SELECT doc_id, lang, n_chars, rnk
FROM r WHERE rnk <= {_PER_GROUP_K}
""",
    doc="Fixed-size per-stratum sample (deterministic reservoir): each "
        "language keeps its 10 documents with the smallest md5(doc_key) "
        "— the sample a true reservoir algorithm would converge to under "
        "this priority order, but stable across engines, partitioning, "
        "and reruns (classic reservoir sampling is order-dependent and "
        "thus unreproducible on a cluster). One window shuffle keyed by "
        "the stratum; at extreme per-stratum cardinality the same "
        "contract runs as a per-group TakeOrdered (rank pushdown "
        "filters rnk <= k before the final sort completes).",
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PER_GROUP_K)
        .select("doc_id", "lang", "n_chars", "rnk")
    )


@register(
    "q_sample_mixture",
    oracle="""
WITH c AS (SELECT lang, COUNT(*) AS n_src FROM documents GROUP BY lang),
mn AS (SELECT MIN(n_src) AS n_min FROM c),
r AS (SELECT lang, n_src, (n_min * 1000000) // n_src AS rate_ppm
      FROM c CROSS JOIN mn),
h AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hx
  FROM documents
),
kept AS (
  SELECT h.doc_id, h.lang, h.n_chars, r.n_src, r.rate_ppm
  FROM h JOIN r USING (lang)
  WHERE hx % 1000000 < rate_ppm
)
SELECT lang, n_src, rate_ppm, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars, MIN(doc_id) AS min_doc_id
FROM kept GROUP BY 1, 2, 3
""",
    doc="Corpus mixture rebalancing with DATA-DEPENDENT rates — the "
        "'data mixing' step of pretraining pipelines (downsample "
        "dominant languages/sources to a target mixture; here: equalize "
        "every language to the smallest one). Unlike q_sample_stratified "
        "(hard-coded rates), the per-stratum keep rate is COMPUTED from "
        "the corpus itself (n_min/n_lang, integer ppm), broadcast back, "
        "and applied as the same engine-portable md5-threshold "
        "predicate. Two tiny aggregations (|langs| rows) + one broadcast "
        "join + a map-side filter — the full pass over the corpus "
        "happens exactly once, and document membership is stable under "
        "partitioning, engine, and rerun. Output audits the achieved "
        "mixture against the rate that produced it.",
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_src"))
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_src",
        F.expr("(n_min * 1000000) div n_src").alias("rate_ppm"),
    )
    hx = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    kept = d.join(F.broadcast(rates), "lang").filter(
        (hx % 1000000) < F.col("rate_ppm")
    )
    return kept.groupBy("lang", "n_src", "rate_ppm").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "q_dedup_keep_best",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY MD5(text)
           ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY MD5(text)) AS grp_n
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(grp_n - 1) AS BIGINT) AS n_dropped,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
FROM ranked WHERE rn = 1 GROUP BY lang
""",
    doc="Canonical-copy selection — the step AFTER duplicate detection "
        "that decides WHICH copy survives: exact-duplicate groups "
        "(md5(text)) each keep their best representative by an explicit "
        "quality order (longest text, then lowest doc_id as the "
        "deterministic tie-break; in production this is the composite "
        "quality score). Implemented as max_by(struct(...), "
        "struct(quality...)) in ONE hash aggregate keyed by the content "
        "hash — no window sort over the corpus, map-side partials do "
        "most of the elimination since true duplicates collide early. "
        "Per-language kept/dropped counts, surviving chars, and the "
        "kept-id checksum make the selection itself hash-verified, not "
        "just the group count.",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    best = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(
            F.max_by(
                F.struct("doc_id", "lang", "n_chars"),
                F.struct(F.col("n_chars"), -F.col("doc_id")),
            ).alias("keep"),
            F.count(F.lit(1)).alias("grp_n"),
        )
        .select(
            F.col("keep.doc_id").alias("doc_id"),
            F.col("keep.lang").alias("lang"),
            F.col("keep.n_chars").alias("n_chars"),
            "grp_n",
        )
    )
    return best.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("grp_n") - 1).alias("n_dropped"),
        F.sum("n_chars").alias("kept_chars"),
        F.sum("doc_id").alias("kept_id_sum"),
    )


@register(
    "q_sample_topk_hash",
    oracle="""
WITH sample AS (
  SELECT doc_id, lang, n_chars
  FROM documents
  ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':sample'), doc_id
  LIMIT 1000
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM sample GROUP BY lang
""",
    doc="Fixed-size uniform corpus sample via smallest-hash top-k: "
        "order by md5(doc_id || salt) and keep the k smallest — the "
        "deterministic, engine-portable stand-in for reservoir "
        "sampling (same marginal uniformity, but stable across "
        "engines, retries, and partitionings, and composable: the "
        "k-sample of a union is the k-smallest of the per-shard "
        "k-samples, i.e. it is MERGEABLE exactly like a sketch). "
        "Shape at 100 TB: TakeOrdered keeps k rows per partition and "
        "merges — no global sort, no shuffle of the corpus; the "
        "readout aggregates 1000 rows. Changing the salt draws an "
        "independent resample.",
)
def q_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sample = (
        d.select("doc_id", "lang", "n_chars")
        .orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))),
            "doc_id",
        )
        .limit(1000)
    )
    return sample.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (round 3): crawl dedup's very first stage.
# ---------------------------------------------------------------------------

_TRACKING_RE = "^(utm_[^=]*|ref|fbclid|gclid)="
_URL_PACK = 1 << 24  # pack = (2^17 - n_chars) * 2^24 + doc_id


@register(
    "q_dedup_url_canonical",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, n_chars,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'https://WWW.' || source || '.Example.COM:443/docs/'
                       || CAST(doc_id // 4 AS VARCHAR)
                       || '?utm_source=x&ref=abc#frag'
           WHEN 1 THEN 'https://' || source || '.example.com/docs/'
                       || CAST(doc_id // 4 AS VARCHAR) || '/'
           WHEN 2 THEN 'https://www.' || source || '.example.com/docs/'
                       || CAST(doc_id // 4 AS VARCHAR) || '?v=1'
           ELSE 'https://' || source || '.example.com:443/docs/'
                || CAST(doc_id // 4 AS VARCHAR) || '?fbclid=zz&v=1'
         END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, n_chars,
         REGEXP_REPLACE(REGEXP_REPLACE(
           LOWER(REGEXP_EXTRACT(url, 'https?://([^/?#]+)', 1)),
           '^www\\.', ''), ':(443|80)$', '') AS host,
         REGEXP_REPLACE(
           REGEXP_EXTRACT(url, 'https?://[^/?#]+([^?#]*)', 1),
           '/$', '') AS path,
         ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
           STRING_SPLIT(REGEXP_EXTRACT(url, '\\?([^#]*)', 1), '&'),
           p -> p <> '' AND NOT REGEXP_MATCHES(p, '{_TRACKING_RE}')
         )), '&') AS q
  FROM raw
),
canon AS (
  SELECT doc_id, n_chars,
         'https://' || host || path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon_url
  FROM parts
)
SELECT canon_url,
       COUNT(*) AS n_dupes,
       MIN(({(1 << 17)} - n_chars) * {_URL_PACK} + doc_id) % {_URL_PACK}
         AS keep_doc_id,
       MAX(n_chars) AS max_chars
FROM canon GROUP BY canon_url
""",
    doc="URL-canonicalization dedup — the FIRST stage of every crawl "
        "pipeline, upstream even of MinHash: the same page arrives as "
        "casing/WWW/port/trailing-slash/tracking-param/fragment "
        "variants, and canonicalizing before fetch-dedup removes the "
        "bulk of exact duplicates for the cost of a map expression. "
        "Synthetic variants (4 per canonical target, built "
        "deterministically from doc_id) exercise each rule: lowercase "
        "host, strip www., strip default :443/:80, strip fragment, "
        "strip trailing slash, drop utm_*/ref/fbclid/gclid params, "
        "sort surviving params. The canonical form then groups with a "
        "packed-MIN keep-best (longest n_chars, doc_id tie-break; "
        "bound-guarded like q_geo_grid_knn). All regex/array ops sit "
        "in the Java∩RE2 subset so DuckDB recomputes the identical "
        "canonical string. At 100 TB: map-side canonicalization + ONE "
        "hash agg keyed by canonical URL — class A, no joins at all.",
)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mod4 = F.expr("CAST(doc_id % 4 AS INT)")
    base = F.expr("CAST(doc_id div 4 AS STRING)")
    url = (
        F.when(
            mod4 == 0,
            F.concat(
                F.lit("https://WWW."), F.col("source"),
                F.lit(".Example.COM:443/docs/"), base,
                F.lit("?utm_source=x&ref=abc#frag"),
            ),
        )
        .when(
            mod4 == 1,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/docs/"), base, F.lit("/"),
            ),
        )
        .when(
            mod4 == 2,
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com/docs/"), base, F.lit("?v=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com:443/docs/"), base,
                F.lit("?fbclid=zz&v=1"),
            )
        )
    )
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(F.col("url"), r"https?://([^/?#]+)", 1)),
            r"^www\.", "",
        ),
        r":(443|80)$", "",
    )
    path = F.regexp_replace(
        F.regexp_extract(F.col("url"), r"https?://[^/?#]+([^?#]*)", 1),
        r"/$", "",
    )
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(
                    F.regexp_extract(F.col("url"), r"\?([^#]*)", 1), "&"
                ),
                lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
            )
        ),
        "&",
    )
    canon = d.select("doc_id", "n_chars", url.alias("url")).select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ).alias("canon_url"),
    )
    pack = F.expr(
        f"CASE WHEN n_chars >= {1 << 17} OR doc_id >= {_URL_PACK} THEN "
        "CAST(raise_error('q_dedup_url_canonical: n_chars or doc_id "
        "overflows the packed keep-best') AS BIGINT) "
        f"ELSE ({1 << 17} - n_chars) * {_URL_PACK} + doc_id END"
    )
    return canon.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_dupes"),
        (F.min(pack) % _URL_PACK).alias("keep_doc_id"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_dedup_lines",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS words
  FROM documents
),
c AS (
  SELECT doc_id, words,
         GREATEST(CAST(1 AS BIGINT), (len(words) + 7) // 8) AS n_chunks
  FROM w
),
chunks AS (
  SELECT doc_id, t.cid,
         array_to_string(
           list_slice(words, t.cid * 8 + 1, t.cid * 8 + 8), ' ') AS chunk
  FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS t(cid)
),
keeper AS (
  SELECT chunk, MIN(doc_id) AS keep_doc FROM chunks GROUP BY chunk
)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN k.keep_doc < ch.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN k.keep_doc < ch.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS dup_frac
FROM chunks ch JOIN keeper k ON ch.chunk = k.chunk
GROUP BY ch.doc_id
""",
    doc="Cross-document chunk-level exact dedup — the paragraph/line "
        "dedup step of C4/RefinedWeb/Dolma (duplicated boilerplate "
        "paragraphs are removed from LATER documents while the earliest "
        "occurrence keeps them; document-level dedup misses these "
        "partial overlaps, span dedup (q_dedup_ngram_spans) reports "
        "overlap but not the remove-set): documents are segmented into "
        "deterministic 8-token chunks (the corpus has no newlines, so "
        "fixed windows stand in for lines), each distinct chunk elects "
        "its keeper (min doc_id), and every document reports how many "
        "of its chunks are duplicates of an earlier document. Scale "
        "shape: chunking is a zero-shuffle map-side explode, the keeper "
        "election is ONE chunk-keyed agg (map-side combine), the "
        "score-back is ONE chunk-keyed equi-join, per-doc rollup is one "
        "keyed agg — no quadratic stage, no window sort; at 100 TB the "
        "chunk table is the corpus itself re-keyed, exactly the shape "
        "of the production paragraph-dedup jobs.",
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("words"),
    )
    n_chunks = F.greatest(
        F.lit(1).cast("long"), F.expr("(size(words) + 7) div 8")
    )
    chunks = (
        w.select("doc_id", "words", n_chunks.alias("n_chunks"))
        .select(
            "doc_id",
            "words",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias("cid"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.slice(
                    "words", (F.col("cid") * 8 + 1).cast("int"), 8
                ),
                " ",
            ).alias("chunk"),
        )
    )
    keeper = chunks.groupBy("chunk").agg(F.min("doc_id").alias("keep_doc"))
    dup = F.when(F.col("keep_doc") < F.col("doc_id"), 1).otherwise(0)
    return (
        chunks.join(keeper, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias(
                "dup_frac"
            ),
        )
    )


@register(
    "q_curriculum_order",
    oracle="""
WITH tok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
tot AS (
  SELECT (SELECT COUNT(*) FROM tok) AS total,
         (SELECT COUNT(*) FROM freq) AS vsz
),
per_doc AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN f.c * tot.vsz < tot.total THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rare
  FROM tok t JOIN freq f USING (tok) CROSS JOIN tot
  GROUP BY t.doc_id
),
staged AS (
  SELECT doc_id, n_tokens, n_rare,
         n_tokens + 5 * n_rare AS difficulty,
         LEAST(CAST(3 AS BIGINT), (n_tokens + 5 * n_rare) // 96) AS stage,
         SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM per_doc
)
SELECT doc_id, difficulty, stage, bucket,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY stage, bucket
         ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS rank_in_bucket
FROM staged
""",
    doc="Curriculum construction for pretraining: each document gets an "
        "integer difficulty score (token count + 5x rare-token count; "
        "rare = below-mean corpus frequency, computed as c*V < total to "
        "stay division-free), a curriculum stage (easy->hard buckets "
        "fed to training in order), and a DETERMINISTIC shuffle order "
        "within its stage. The order is two-level — md5 prefix bucket "
        "(256 per stage) then rank within (stage, bucket) — because a "
        "single per-stage ROW_NUMBER is a 4-partition sort that dies at "
        "100 TB, while (stage, bucket) gives 1024-way parallel windows "
        "and readers recover the total order by concatenating buckets "
        "in hex order: the distributed deterministic-shuffle pattern "
        "production data loaders use. Rare-token model is one "
        "vocab-sized agg broadcast back (grows ~log corpus); "
        "everything else is doc-keyed.",
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = tok.count()  # scalar: corpus token count
    vsz = freq.count()  # scalar: vocabulary size (bounded)
    per_doc = (
        tok.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("c") * vsz < total, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rare"),
        )
    )
    diff = F.col("n_tokens") + 5 * F.col("n_rare")
    staged = per_doc.select(
        "doc_id",
        diff.alias("difficulty"),
        F.least(
            F.lit(3).cast("long"), F.expr("(n_tokens + 5 * n_rare) div 96")
        ).alias("stage"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias(
            "bucket"
        ),
    )
    win = Window.partitionBy("stage", "bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return staged.select(
        "doc_id",
        "difficulty",
        "stage",
        "bucket",
        F.row_number().over(win).cast("long").alias("rank_in_bucket"),
    )


@register(
    "q_sample_temperature",
    oracle="""
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
s AS (
  SELECT list_sum(list(SQRT(CAST(n AS DOUBLE)) ORDER BY lang)) AS tot
  FROM counts
),
thr AS (
  SELECT c.lang, c.n,
         CAST(FLOOR(1000000 * 300 * SQRT(CAST(c.n AS DOUBLE))
                    / s.tot / c.n) AS BIGINT) AS thr
  FROM counts c CROSS JOIN s
),
h AS (
  SELECT d.doc_id, d.lang, t.n, t.thr,
         CAST(('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS hx
  FROM documents d JOIN thr t USING (lang)
)
SELECT lang,
       MAX(n) AS n_docs,
       CAST(SUM(CASE WHEN hx < thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN hx < thr THEN 1 ELSE 0 END) AS DOUBLE)
         / MAX(n) AS kept_frac,
       MAX(thr) AS thr_ppm
FROM h GROUP BY lang
""",
    doc="Temperature-based language rebalancing — the mC4/NLLB "
        "p_l^alpha mixture sampler that keeps low-resource languages "
        "from vanishing in a pretraining mix: per-language keep rates "
        "proportional to n_l^alpha / n_l with alpha = 0.5, so rare "
        "languages keep a larger FRACTION while the corpus-wide budget "
        "(300 docs) holds. alpha = 0.5 is deliberate: SQRT is "
        "correctly-rounded under IEEE-754 and therefore bit-identical "
        "across engines, unlike POW(x, 0.3) whose libm drift would "
        "break the hash check; the normalizer folds the per-language "
        "sqrts in sorted-lang order (sequential fold both engines — "
        "no float-sum order drift), and the keep decision is the "
        "house md5-threshold Bernoulli (reproducible across engines, "
        "corpus size, partitioning). Scale shape: one |langs|-sized "
        "agg, a broadcast of the |langs|-row threshold table, one "
        "map-side keep predicate, one final keyed agg — the corpus "
        "never shuffles.",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct("lang", F.sqrt(F.col("n").cast("double")).alias("s"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("tot")
    )
    thr = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.floor(
            1000000
            * 300
            * F.sqrt(F.col("n").cast("double"))
            / F.col("tot")
            / F.col("n")
        ).alias("thr"),
    )
    hx = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    h = d.join(F.broadcast(thr), "lang").select(
        "lang", "n", "thr", hx.alias("hx")
    )
    kept = F.when(F.col("hx") < F.col("thr"), 1).otherwise(0)
    return h.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        (F.sum(kept).cast("double") / F.max("n")).alias("kept_frac"),
        F.max("thr").alias("thr_ppm"),
    )


def _bpe_oracle_round(n: int, prev: str) -> str:
    """One BPE merge round of the DuckDB oracle: pair counts over the
    double-space token strings, the (count DESC, pair ASC) winner, and
    the non-overlapping left-to-right merge via replace() — the shared
    double-space gap lets replace() catch consecutive occurrences
    exactly like the greedy fold."""
    return f"""
p{n} AS (
  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, ts[i] AS l, ts[i+1] AS r
    FROM (SELECT STRING_SPLIT(ws, '  ') AS ts, freq FROM {prev}) x,
         UNNEST(generate_series(1, GREATEST(LEN(ts) - 1, 0))) AS u(i)
  ) WHERE l <> '' AND r <> '' GROUP BY l, r
),
m{n} AS (SELECT {n} AS round, l, r, cnt FROM p{n}
         ORDER BY cnt DESC, l, r LIMIT 1),
w{n} AS (
  SELECT replace(ws,
           ' ' || (SELECT l FROM m{n}) || '  '
               || (SELECT r FROM m{n}) || ' ',
           ' ' || (SELECT l FROM m{n})
               || (SELECT r FROM m{n}) || ' ') AS ws,
         freq FROM {prev}
)"""


_BPE_ORACLE_W0 = """
WITH w0 AS (
  SELECT '  ' || regexp_replace(t.tok, '(.)', '\\1  ', 'g') AS ws,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT STRING_SPLIT(text, ' ') AS ts FROM documents) d,
       UNNEST(ts) AS t(tok)
  WHERE t.tok <> ''
  GROUP BY t.tok
)"""


@register(
    "q_text_bpe_merges",
    oracle=f"""
{_BPE_ORACLE_W0},{_bpe_oracle_round(1, "w0")},{_bpe_oracle_round(2, "w1")},{_bpe_oracle_round(3, "w2")}
SELECT CAST(round AS BIGINT) AS round, l AS left_tok, r AS right_tok,
       cnt AS pair_count
FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
      UNION ALL SELECT * FROM m3)
ORDER BY round
""",
    doc="BPE merge TRAINING (3 rounds) — the iterative step "
        "q_text_vocab_pairs only counts: learn the top merge, apply it "
        "to the corpus, repeat. Runs on the word-TYPE table (one "
        "up-front word-frequency aggregation — at 100 TB the type "
        "table is millions of rows regardless of corpus size, the "
        "standard Sennrich-style compression), then each round is one "
        "pair-count shuffle over the compact type table plus a "
        "broadcast of the single winning pair; the merge itself is a "
        "non-overlapping replace() on double-space token strings whose "
        "shared-gap encoding makes consecutive occurrences merge "
        "exactly like the greedy left-to-right fold. Fully declarative "
        "— no driver collect anywhere; the winner reaches the merge "
        "step as a 1-row broadcast crossJoin. Deterministic "
        "(count DESC, pair ASC) tie-break in both engines.",
)
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _cur = _bpe_train(load_table(spark, sf_dir, "documents"))
    return merges[0].unionAll(merges[1]).unionAll(merges[2]).orderBy(
        "round"
    )


def _bpe_train(d: DataFrame) -> tuple[list, DataFrame]:
    """Shared BPE training chain: word-type table -> 3 merge rounds.
    Returns (the 1-row winner DataFrames, the final merged type
    table) — `q_text_bpe_merges` reports the winners,
    `q_text_bpe_apply` tokenizes with the final types."""
    cur = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit("  "), F.regexp_replace("tok", "(.)", "$1  ")
            ).alias("ws"),
            "freq",
        )
    )
    merges = []
    for rnd in (1, 2, 3):
        ts = F.split("ws", "  ")
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("l"),
                F.element_at(ts, i + 1).alias("r"),
            ),
        )
        top = (
            cur.select("freq", F.explode(pairs).alias("p"))
            .filter((F.col("p.l") != "") & (F.col("p.r") != ""))
            .groupBy(
                F.col("p.l").alias("l"), F.col("p.r").alias("r")
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .select(
                F.lit(rnd).cast("long").alias("round"),
                F.col("l").alias("left_tok"),
                F.col("r").alias("right_tok"),
                F.col("cnt").alias("pair_count"),
            )
        )
        merges.append(top)
        cur = cur.crossJoin(
            F.broadcast(top.select("left_tok", "right_tok"))
        ).select(
            F.replace(
                F.col("ws"),
                F.concat(
                    F.lit(" "), F.col("left_tok"), F.lit("  "),
                    F.col("right_tok"), F.lit(" "),
                ),
                F.concat(
                    F.lit(" "), F.col("left_tok"),
                    F.col("right_tok"), F.lit(" "),
                ),
            ).alias("ws"),
            "freq",
        )
    return merges, cur


@register(
    "q_text_bpe_apply",
    oracle=f"""
{_BPE_ORACLE_W0},{_bpe_oracle_round(1, "w0")},{_bpe_oracle_round(2, "w1")},{_bpe_oracle_round(3, "w2")}
SELECT tok AS token, CAST(SUM(freq) AS BIGINT) AS n_occ
FROM (SELECT UNNEST(STRING_SPLIT(ws, '  ')) AS tok, freq FROM w3)
WHERE tok <> ''
GROUP BY tok
ORDER BY n_occ DESC, token
LIMIT 25
""",
    doc="BPE TOKENIZATION — the other half of the q_text_bpe_merges "
        "story: train the 3 merges, then ENCODE the corpus with them "
        "and report the resulting token vocabulary histogram (top 25 "
        "by occurrence count, the sanity readout a tokenizer pipeline "
        "prints after training). Tokenization happens on the word-TYPE "
        "table — each distinct word is encoded once and its token "
        "counts weighted by the word frequency, so the cost is "
        "type-table-sized regardless of corpus size (the same reason "
        "real BPE trainers count types, not tokens). Shuffle shape: "
        "one corpus-wide type agg, 3 pair-count shuffles + 1-row "
        "broadcast merges (shared with training), one final token agg "
        "whose cardinality is the vocabulary. Exact integer counts, "
        "deterministic (count DESC, token ASC) ordering in both "
        "engines.",
)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, cur = _bpe_train(load_table(spark, sf_dir, "documents"))
    return (
        cur.select(
            F.explode(F.split("ws", "  ")).alias("token"), "freq"
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(25)
    )


@register(
    "q_sample_dedup_aware",
    oracle="""
WITH cl AS (
  SELECT doc_id, lang, MD5(text) AS text_md5,
         COUNT(*) OVER (PARTITION BY MD5(text)) AS n_copies
  FROM documents
),
dec AS (
  SELECT *,
         (CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000) * n_copies < 1000000 AS keep
  FROM cl
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_dup_clusters,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep AND n_copies > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept_from_dups,
       MIN(CASE WHEN keep THEN doc_id END) AS first_kept
FROM dec GROUP BY lang ORDER BY lang
""",
    doc="DEDUP-AWARE sampling (round 11) — the soft alternative to "
        "hard dedup when unbiasedness matters: every document is kept "
        "with probability 1 / |its exact-duplicate cluster| (decided "
        "by the portable 60-bit md5 hash against the integer "
        "threshold hx % 1e6 * n_copies < 1e6 — cross-multiplied, so "
        "no float division at the boundary; keep probability is "
        "ceil(1e6/n)/1e6, so the EXPECTED survivors per cluster is "
        "approximately one — exact when n divides 1e6) while every copy "
        "retains equal chance — the inverse-frequency downweighting "
        "data-mixture work applies to crawl duplicates instead of "
        "dropping all-but-min. Plan: one window over md5(text) for "
        "cluster sizes (16-byte shuffle key, never the text), then a "
        "map-side keep predicate and one |langs| audit agg. At 100 TB "
        "this is the same single-shuffle posture as q_dedup_exact "
        "with the decision fused in.",
)
def q_sample_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("text_md5")
    )
    wc = Window.partitionBy("text_md5")
    hx = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    dec = d.withColumn(
        "n_copies", F.count(F.lit(1)).over(wc)
    ).withColumn("keep", (hx % 1000000) * F.col("n_copies") < 1000000)
    return (
        dec.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_copies") > 1).cast("long")).alias(
                "n_in_dup_clusters"
            ),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(
                (F.col("keep") & (F.col("n_copies") > 1)).cast("long")
            ).alias("n_kept_from_dups"),
            F.min(F.when(F.col("keep"), F.col("doc_id"))).alias(
                "first_kept"
            ),
        )
        .orderBy("lang")
    )


@register(
    "q_pipeline_curation",
    oracle="""
WITH dedup AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep_id
    FROM documents) t
  WHERE doc_id = keep_id
),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM dedup
),
tok AS (SELECT UNNEST(w) AS tok FROM toks),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
bg AS (
  SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c_u FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, b.lang,
         CAST(SUM(CAST(FLOOR(LN(
             CAST(COALESCE(bgc.c_bg, 0) + 1 AS DOUBLE)
             / (COALESCE(ctx.c_u, 0) + v.vsz)) * 1000000)
           AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS cnt
  FROM bg b
  LEFT JOIN ctx ON b.w1 = ctx.w1
  LEFT JOIN bgc ON b.w1 = bgc.w1 AND b.w2 = bgc.w2
  CROSS JOIN v
  GROUP BY b.doc_id, b.lang
),
qd AS (SELECT doc_id, lang, -((-s) // cnt) AS q FROM scored),
pcut AS (
  SELECT lang, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n_docs
  FROM qd GROUP BY lang
),
ppl AS (
  SELECT s.doc_id FROM qd s JOIN pcut c USING (lang)
  WHERE s.q * c.n_docs >= c.sum_q
),
cl_tok AS (
  SELECT d.doc_id, d.lang, UNNEST(STRING_SPLIT(d.text, ' ')) AS tok
  FROM dedup d JOIN ppl USING (doc_id)
),
cl_feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM cl_tok WHERE tok <> '' GROUP BY doc_id, lang, bucket
),
cl_scored AS (
  SELECT doc_id, lang,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM cl_feats GROUP BY doc_id, lang
),
ccut AS (
  SELECT lang,
         CAST(SUM(score_q) AS BIGINT) AS sum_q,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_n
  FROM cl_scored GROUP BY lang
),
final AS (
  SELECT s.doc_id, s.lang, s.n_tokens
  FROM cl_scored s JOIN ccut c USING (lang)
  WHERE s.score_q * c.sum_n >= c.sum_q * s.n_tokens
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_dedup,
       CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_ppl,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final,
       CAST(COALESCE(SUM(f.n_tokens), 0) AS BIGINT) AS tokens_final
FROM documents d
LEFT JOIN dedup dd ON d.doc_id = dd.doc_id
LEFT JOIN ppl p ON d.doc_id = p.doc_id
LEFT JOIN final f ON d.doc_id = f.doc_id
GROUP BY d.lang
ORDER BY d.lang
""",
    doc="END-TO-END CURATION PIPELINE (round 12) — the DCLM/FineWeb "
        "recipe as ONE declarative plan, composing three gates this "
        "engine already proves individually: (1) exact dedup (min-id "
        "keeper per md5(text) cluster), (2) the corpus-bigram "
        "perplexity gate over the SURVIVORS (1e-6 fixed-point "
        "integer decisions, per-language cutoffs), (3) the hashed "
        "linear classifier gate over what remains (int64 cross-"
        "multiplied length-normalized threshold) — then a per-"
        "language funnel audit (docs in, after each gate, final "
        "token budget). Each stage consumes the previous stage's "
        "DataFrame lazily: Catalyst sees the WHOLE pipeline and "
        "prunes columns across stage boundaries — the composability "
        "argument for declarative curation over imperative scripts. "
        "100 TB: every stage is corpus-linear; the one difference "
        "from the standalone q_dedup_exact posture is that the dedup "
        "window here moves each document ONCE on its md5 key (the "
        "text must continue down the pipeline, so one text shuffle "
        "is the minimum possible — the standalone key's agg emits "
        "only hashes because nothing downstream needs the text); "
        "the funnel audit joins are id-keyed and the final output "
        "is |langs| rows.",
)
def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curation_funnel(spark, sf_dir, None)


_BUDGET_TOKENS = 2000  # per-language token budget for the fixture


@register(
    "q_sample_token_budget",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
  FROM documents WHERE LENGTH(text) > 0
),
feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM toks WHERE tok <> '' GROUP BY doc_id, lang, bucket
),
scored AS (
  SELECT doc_id, lang,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM feats GROUP BY doc_id, lang
),
cum AS (
  SELECT doc_id, lang, n_tokens, score_q,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang
                             ORDER BY score_q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, n_tokens, score_q, cum_tokens,
       (cum_tokens <= {_BUDGET_TOKENS}) AS kept
FROM cum
ORDER BY doc_id
""",
    doc="TOKEN-BUDGET sampling (round 12) — the data-mixture step "
        "after quality scoring: fill each language's token budget "
        "greedily BEST-FIRST (the hashed-classifier score from "
        "q_text_classifier_score as the priority, doc_id as the "
        "total tie-break), cutting at the running token sum — how a "
        "pretraining mix caps each source/language at N tokens while "
        "keeping its highest-quality documents. All-integer: the "
        "priority is the raw int64 score (no normalization division "
        "anywhere near the ORDER BY, so the cut is bit-identical "
        "cross-engine), the budget test is a running SUM window. "
        "100 TB: per-row scoring + ONE lang-partitioned "
        "window — per-language sort parallelism is the lang "
        "cardinality; for a skewed single-language corpus, "
        "pre-bucket by score range (the q_curriculum_order two-level "
        "pattern) before the window.",
)
def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from netcdf4_variable_streamer_spark.operators.text import (
        hashed_classifier_scores,
    )

    scored = hashed_classifier_scores(load_table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "lang", "n_tokens", "score_q", "cum_tokens",
            (F.col("cum_tokens") <= _BUDGET_TOKENS).alias("kept"),
        )
        .orderBy("doc_id")
    )


# the curation funnel's decontam stage and the decontam-aware sampler
# import the span-decontamination machinery (pinned tokenizer +
# split/threshold constants) from dedup
from netcdf4_variable_streamer_spark.operators.dedup import (  # noqa: E402
    _SDR_CUT_CTE_SQL,
    _SDR_MAX_OCC,
    _cap_excluded_cut,
    _SPAN_CTE_SQL,
    _SXC_QUARANTINE_PPM,
    _SXC_SPLIT,
    _rewrite_kept,
    _rewrite_ranges_cte_sql,
    _sdr_cut,
    _span_cte_sql,
    _span_quarantine,
    _span_table,
)


def _decontam_stage(dedup: DataFrame, mode: str | None):
    """The curation recipe's middle stage over the dedup survivors.
    Returns the frame the gates consume and the stage's funnel column
    as a (doc_id-keyed frame, aggregate) pair; ``mode=None`` is no stage
    (the dedup frame, no column).
    ``"quarantine"`` drops crawl docs at or above the span-contamination
    ppm threshold (funnel: ``n_after_decontam``); ``"rewrite"`` cuts
    every reference-matching span out of crawl docs under the
    frequent-n-gram exclusion and keeps them (funnel: ``n_tokens_cut``).
    Reference-side docs pass through both. The stage's output is
    materialized once: the LM train pass, the scoring pass, the
    classifier and the funnel join all read it."""
    if mode is None:
        return dedup, None
    if mode == "quarantine":
        spans = _span_table(dedup.select("doc_id", "text"))
        sref = (
            spans.filter(F.col("doc_id") < _SXC_SPLIT)
            .select(F.col("cluster").alias("h"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        quar = _span_quarantine(
            spans.filter(F.col("doc_id") >= _SXC_SPLIT), sref
        )
        decon = materialize_once(
            dedup.join(F.broadcast(quar), "doc_id", "left_anti")
        )
        return decon, (
            decon.select("doc_id", F.lit(1).alias("in_decon")),
            _marked("in_decon").alias("n_after_decontam"),
        )
    ref = dedup.filter(F.col("doc_id") < _SXC_SPLIT)
    crawl = dedup.filter(F.col("doc_id") >= _SXC_SPLIT)
    sref = (
        _span_table(ref.select("doc_id", "text")).select("cluster").distinct()
    )
    hits = _span_table(crawl.select("doc_id", "text")).join(
        F.broadcast(sref), "cluster"
    )
    rw = _rewrite_kept(_cap_excluded_cut(hits), crawl, extra_cols=("lang",))
    surg = materialize_once(
        ref.select(
            "doc_id", "lang", "text", F.lit(0).cast("long").alias("n_cut")
        ).unionByName(
            rw.select(
                "doc_id",
                "lang",
                F.array_join("kept", " ").alias("text"),
                (F.size("tk") - F.size("kept")).cast("long").alias("n_cut"),
            )
        )
    )
    return surg, (
        surg.select("doc_id", "n_cut"),
        F.coalesce(F.sum("n_cut"), F.lit(0)).cast("long").alias(
            "n_tokens_cut"
        ),
    )


def _marked(col: str):
    """Funnel count of the docs a left join marked with ``col``."""
    return F.sum(F.coalesce(F.col(col), F.lit(0)).cast("long"))


def _curation_funnel(
    spark: SparkSession, sf_dir: str, mode: str | None
) -> DataFrame:
    """The batch curation recipe as one plan: exact dedup (min-id keeper
    per ``md5(text)``), the :func:`_decontam_stage` named by ``mode``,
    the perplexity gate, the hashed-classifier gate, then a per-language
    funnel of docs in, after each stage, and final tokens. Every stage
    consumes the previous one's frame lazily."""
    from netcdf4_variable_streamer_spark.operators.text import (
        classifier_keep,
        hashed_classifier_scores,
        perplexity_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    wkeep = Window.partitionBy(F.md5("text"))
    # read by the decontam stage (or the gates) AND the funnel join
    dedup = materialize_once(
        docs.withColumn("keep_id", F.min("doc_id").over(wkeep))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    gated, stage = _decontam_stage(dedup, mode)
    ppl = (
        perplexity_filter(gated, gated)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    final = (
        classifier_keep(hashed_classifier_scores(gated.join(ppl, "doc_id")))
        .filter(F.col("keep"))
        .select("doc_id", F.col("n_tokens").alias("f_tokens"))
    )
    funnel = docs.select("doc_id", "lang").join(
        dedup.select("doc_id", F.lit(1).alias("in_dedup")), "doc_id", "left"
    )
    stage_cols = []
    if stage is not None:
        funnel = funnel.join(stage[0], "doc_id", "left")
        stage_cols = [stage[1]]
    return (
        funnel.join(
            ppl.select("doc_id", F.lit(1).alias("in_ppl")), "doc_id", "left"
        )
        .join(final, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            _marked("in_dedup").alias("n_after_dedup"),
            *stage_cols,
            _marked("in_ppl").alias("n_after_ppl"),
            F.sum(F.col("f_tokens").isNotNull().cast("long")).alias(
                "n_final"
            ),
            F.coalesce(F.sum("f_tokens"), F.lit(0)).cast("long").alias(
                "tokens_final"
            ),
        )
        .orderBy("lang")
    )


_CURF_ORACLE = rf"""
WITH dedup AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep_id
    FROM documents) z
  WHERE doc_id = keep_id
),
{_span_cte_sql("dedup", "d")},
sref AS (
  SELECT DISTINCT cluster AS h FROM dspans
  WHERE doc_id < {_SXC_SPLIT}
),
sprobe AS (
  SELECT s.doc_id, (r.h IS NOT NULL) AS hit
  FROM dspans s LEFT JOIN sref r ON s.cluster = r.h
  WHERE s.doc_id >= {_SXC_SPLIT}
),
quar AS (
  SELECT doc_id FROM sprobe GROUP BY doc_id
  HAVING SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 1000000
         // COUNT(*) >= {_SXC_QUARANTINE_PPM}
),
decon AS (
  SELECT d.doc_id, d.lang, d.text
  FROM dedup d LEFT JOIN quar q USING (doc_id)
  WHERE q.doc_id IS NULL
),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM decon
),
tok AS (SELECT UNNEST(w) AS tok FROM toks),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
bg AS (
  SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c_u FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, b.lang,
         CAST(SUM(CAST(FLOOR(LN(
             CAST(COALESCE(bgc.c_bg, 0) + 1 AS DOUBLE)
             / (COALESCE(ctx.c_u, 0) + v.vsz)) * 1000000)
           AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS cnt
  FROM bg b
  LEFT JOIN ctx ON b.w1 = ctx.w1
  LEFT JOIN bgc ON b.w1 = bgc.w1 AND b.w2 = bgc.w2
  CROSS JOIN v
  GROUP BY b.doc_id, b.lang
),
qd AS (SELECT doc_id, lang, -((-s) // cnt) AS q FROM scored),
pcut AS (
  SELECT lang, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n_docs
  FROM qd GROUP BY lang
),
ppl AS (
  SELECT s.doc_id FROM qd s JOIN pcut c USING (lang)
  WHERE s.q * c.n_docs >= c.sum_q
),
cl_tok AS (
  SELECT d.doc_id, d.lang, UNNEST(STRING_SPLIT(d.text, ' ')) AS tok
  FROM decon d JOIN ppl USING (doc_id)
),
cl_feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM cl_tok WHERE tok <> '' GROUP BY doc_id, lang, bucket
),
cl_scored AS (
  SELECT doc_id, lang,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM cl_feats GROUP BY doc_id, lang
),
ccut AS (
  SELECT lang,
         CAST(SUM(score_q) AS BIGINT) AS sum_q,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_n
  FROM cl_scored GROUP BY lang
),
final AS (
  SELECT s.doc_id, s.lang, s.n_tokens
  FROM cl_scored s JOIN ccut c USING (lang)
  WHERE s.score_q * c.sum_n >= c.sum_q * s.n_tokens
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_dedup,
       CAST(SUM(CASE WHEN dc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_decontam,
       CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_ppl,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final,
       CAST(COALESCE(SUM(f.n_tokens), 0) AS BIGINT) AS tokens_final
FROM documents d
LEFT JOIN dedup dd ON d.doc_id = dd.doc_id
LEFT JOIN decon dc ON d.doc_id = dc.doc_id
LEFT JOIN ppl p ON d.doc_id = p.doc_id
LEFT JOIN final f ON d.doc_id = f.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


@register(
    "q_pipeline_curation_full",
    oracle=_CURF_ORACLE,
    doc="FULL-RECIPE CURATION (round 14, VERDICT r13 #4): the modern "
        "production sequence — exact dedup -> SPAN-LEVEL EVAL "
        "DECONTAMINATION -> perplexity gate -> classifier gate -> "
        "per-language funnel — as ONE declarative plan. The new stage "
        "is q_dedup_substring_cross_corpus's machinery applied to the "
        "dedup survivors: every k-token span of a crawl-side doc "
        f"(doc_id >= {_SXC_SPLIT}) probes the reference side's "
        "distinct span-hash set, and docs at or above the "
        f"{_SXC_QUARANTINE_PPM}-ppm contamination ratio are "
        "quarantined before any quality gate sees them (eval-side "
        "docs pass through — they ARE the reference corpus). The "
        "decontam machinery itself moves NO text: its span/probe/"
        "ratio stages shuffle only (doc_id, position, 16-byte hash) "
        "[plan-enforced: every Exchange touching span or probe "
        "columns excludes text], and the quarantine list is "
        "duplication-sized, broadcast back as one anti join. Text-"
        "carrying exchanges in the composed plan come solely from "
        "re-derivations of the dedup/decon frame across stages — the "
        "base pipeline's documented posture (Catalyst sees one plan; "
        "production would persist the interstage frame, which "
        "changes no semantics). Downstream gates consume the "
        "decontaminated frame lazily, so Catalyst still sees one "
        "end-to-end plan; the funnel audit gains n_after_decontam "
        "between dedup and perplexity. 100 TB: every stage corpus-"
        "linear; the reference span set is MB-scale for static eval "
        "corpora and persistable exactly as the standalone key "
        "documents.",
)
def q_pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curation_funnel(spark, sf_dir, "quarantine")


# per-language token budget for the decontam-aware sampler fixture —
# sized so the cut lands INSIDE every language's crawl-side token mass
# at sf0.01 (449-2108 post-rewrite tokens/lang) so both verdicts occur
_BDC_BUDGET = 500


@register(
    "q_sample_budget_decontam",
    oracle=f"""
WITH {_SPAN_CTE_SQL},
{_SDR_CUT_CTE_SQL},
{_rewrite_ranges_cte_sql("ct")},
acct AS (
  SELECT doc_id,
         CAST(COUNT(*) - SUM(CASE WHEN is_cut THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tokens_after
  FROM posk GROUP BY doc_id
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM posk WHERE NOT is_cut AND tok <> '' GROUP BY doc_id, bucket
),
sc AS (
  SELECT doc_id,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM feats GROUP BY doc_id
),
scored AS (
  SELECT a.doc_id, d.lang, a.n_tokens_after,
         COALESCE(s.score_q, 0) AS score_q
  FROM acct a
  JOIN documents d USING (doc_id)
  LEFT JOIN sc s USING (doc_id)
),
cum AS (
  SELECT doc_id, lang, n_tokens_after, score_q,
         CAST(SUM(n_tokens_after) OVER (PARTITION BY lang
                ORDER BY score_q DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, n_tokens_after, score_q, cum_tokens,
       (cum_tokens <= {_BDC_BUDGET}) AS kept
FROM cum
ORDER BY doc_id
""",
    doc="DECONTAM-AWARE TOKEN-BUDGET sampling (round 15, VERDICT r14 "
        "#3) — q_sample_token_budget composed with the surgical "
        "decontamination rewrite's cut accounting: the per-language "
        "budget fills greedily best-first over POST-REWRITE token "
        "counts (q_dedup_substring_decontam_rewrite's n_tokens_after, "
        "bit-identical accounting via the shared _rewrite_kept/"
        "_rewrite_ranges_cte_sql core), and the hashed-classifier "
        "priority score is computed over the KEPT tokens only — you "
        "rank and budget the text you will actually train on, not the "
        "contaminated raw bytes. A fully-cut document scores 0 and "
        "consumes 0 budget. All-integer ordering (raw int64 score, "
        "doc_id tie-break) keeps the cut bit-identical cross-engine. "
        "100 TB: the cut table is bounded by the _SDR_MAX_OCC "
        "frequent-n-gram exclusion and broadcasts into ONE map-side "
        "reassembly (shared with the rewrite keys); scoring is a "
        "per-row fold over the kept tokens — document text enters "
        "the scan and the map stage, never an Exchange "
        "[plan-enforced]; the budget window is the same lang-"
        "partitioned running SUM as q_sample_token_budget (per-"
        "language sort parallelism = lang cardinality; pre-bucket by "
        "score range for a skewed single-language corpus).",
)
def q_sample_budget_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from netcdf4_variable_streamer_spark.operators.text import (
        hashed_classifier_sql,
    )

    crawl = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= _SXC_SPLIT
    )
    k = _rewrite_kept(_sdr_cut(spark, sf_dir), crawl, extra_cols=("lang",))
    # scored per row over the kept tokens (no token contains a space,
    # so splitting their join gives them back); n_tokens_after is
    # size(kept), which also counts the empty-string split artifacts
    # the classifier drops — the rewrite keys' accounting. A fully-cut
    # document keeps its row with 0 tokens and score 0.
    _, score_q = hashed_classifier_sql("array_join(kept, ' ')")
    scored = k.selectExpr(
        "doc_id", "lang", "CAST(size(kept) AS BIGINT) AS n_tokens_after",
        f"{score_q} AS score_q",
    )
    return (
        scored.selectExpr(
            "*",
            "sum(n_tokens_after) OVER (PARTITION BY lang ORDER BY score_q "
            "DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
            "ROW) AS cum_tokens",
        )
        .selectExpr("*", f"cum_tokens <= {_BDC_BUDGET} AS kept")
        .orderBy("doc_id")
    )


_CURS_ORACLE = rf"""
WITH dedup AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep_id
    FROM documents) z
  WHERE doc_id = keep_id
),
{_span_cte_sql("dedup", "d")},
sref AS (
  SELECT DISTINCT cluster FROM dspans WHERE doc_id < {_SXC_SPLIT}
),
shits AS (
  SELECT s.doc_id, s.span_start, s.cluster
  FROM dspans s JOIN sref USING (cluster)
  WHERE s.doc_id >= {_SXC_SPLIT}
),
scommon AS (
  SELECT cluster FROM shits GROUP BY cluster
  HAVING COUNT(*) > {_SDR_MAX_OCC}
),
cut AS (
  SELECT h.doc_id, h.span_start
  FROM shits h LEFT JOIN scommon c USING (cluster)
  WHERE c.cluster IS NULL
),
ct AS (
  SELECT doc_id, tk FROM dt WHERE doc_id >= {_SXC_SPLIT}
),
{_rewrite_ranges_cte_sql("ct")},
rwx AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cut,
         COALESCE(STRING_AGG(CASE WHEN NOT is_cut THEN tok END,
             ' ' ORDER BY p), '') AS rtext
  FROM posk GROUP BY doc_id
),
surg AS (
  SELECT doc_id, lang, text, CAST(0 AS BIGINT) AS n_cut
  FROM dedup WHERE doc_id < {_SXC_SPLIT}
  UNION ALL
  SELECT d.doc_id, d.lang, r.rtext AS text, r.n_cut
  FROM dedup d JOIN rwx r USING (doc_id)
),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM surg
),
tok AS (SELECT UNNEST(w) AS tok FROM toks),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
bg AS (
  SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c_u FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, b.lang,
         CAST(SUM(CAST(FLOOR(LN(
             CAST(COALESCE(bgc.c_bg, 0) + 1 AS DOUBLE)
             / (COALESCE(ctx.c_u, 0) + v.vsz)) * 1000000)
           AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS cnt
  FROM bg b
  LEFT JOIN ctx ON b.w1 = ctx.w1
  LEFT JOIN bgc ON b.w1 = bgc.w1 AND b.w2 = bgc.w2
  CROSS JOIN v
  GROUP BY b.doc_id, b.lang
),
qd AS (SELECT doc_id, lang, -((-s) // cnt) AS q FROM scored),
pcut AS (
  SELECT lang, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n_docs
  FROM qd GROUP BY lang
),
ppl AS (
  SELECT s.doc_id FROM qd s JOIN pcut c USING (lang)
  WHERE s.q * c.n_docs >= c.sum_q
),
cl_tok AS (
  SELECT d.doc_id, d.lang, UNNEST(STRING_SPLIT(d.text, ' ')) AS tok
  FROM surg d JOIN ppl USING (doc_id)
),
cl_feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 4096
           AS bucket,
         COUNT(*) AS cnt
  FROM cl_tok WHERE tok <> '' GROUP BY doc_id, lang, bucket
),
cl_scored AS (
  SELECT doc_id, lang,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * (CAST(('0x' || SUBSTR(MD5('w:' || bucket), 1, 7))
                              AS BIGINT) % 2001 - 1000)) AS BIGINT)
           AS score_q
  FROM cl_feats GROUP BY doc_id, lang
),
ccut AS (
  SELECT lang,
         CAST(SUM(score_q) AS BIGINT) AS sum_q,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_n
  FROM cl_scored GROUP BY lang
),
final AS (
  SELECT s.doc_id, s.lang, s.n_tokens
  FROM cl_scored s JOIN ccut c USING (lang)
  WHERE s.score_q * c.sum_n >= c.sum_q * s.n_tokens
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_dedup,
       CAST(COALESCE(SUM(sr.n_cut), 0) AS BIGINT) AS n_tokens_cut,
       CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_ppl,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final,
       CAST(COALESCE(SUM(f.n_tokens), 0) AS BIGINT) AS tokens_final
FROM documents d
LEFT JOIN dedup dd ON d.doc_id = dd.doc_id
LEFT JOIN surg sr ON d.doc_id = sr.doc_id
LEFT JOIN ppl p ON d.doc_id = p.doc_id
LEFT JOIN final f ON d.doc_id = f.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


@register(
    "q_pipeline_curation_surgical",
    oracle=_CURS_ORACLE,
    doc="SURGICAL-RECIPE CURATION (round 15) — the batch twin of "
        "q_stream_pipeline_curation_rewrite and the rewrite-out "
        "sibling of q_pipeline_curation_full: exact dedup -> "
        "SURGICAL span-level decontamination (cut every reference-"
        "matching span out of every crawl survivor, no keep-first — "
        "eval text must all go — under the frequent-n-gram "
        "exclusion) -> perplexity gate -> classifier gate -> "
        "per-language funnel, as ONE declarative plan. Where the "
        "quarantine composite DROPS a contaminated document, this "
        "one rewrites it and keeps it: the LM trains on and the "
        "gates score the REWRITTEN text, so cutting a span genuinely "
        "moves per-language cutoffs and the final token mass — the "
        "funnel reports n_tokens_cut (the surgically removed mass) "
        "in place of n_after_decontam (nothing is dropped at this "
        "stage). On the shipped fixture every rewritten doc happens "
        "to fail the perplexity gate, so the downstream funnel "
        "coincides with the quarantine composite there (a fixture "
        "property); the divergent case this posture exists for — a "
        "contaminated-but-valuable doc SAVED through the gate after "
        "its quote is cut — is pinned on a purpose-built corpus "
        "[test_surgical_curation_saves_doc_quarantine_drops]. "
        "The cut machinery shuffles only (doc_id, position, "
        "16-byte hash) [plan-enforced]; cut ranges reach the crawl "
        "scan via ONE broadcast into the shared map-side reassembly "
        "(_rewrite_kept), and reference-side docs pass through "
        "untouched — they ARE the eval corpus. 100 TB: every stage "
        "corpus-linear; the reference span set is the MB-scale "
        "build-once table; the cut table is contamination-"
        "proportional and bounded by the exclusion cap.",
)
def q_pipeline_curation_surgical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _curation_funnel(spark, sf_dir, "rewrite")
