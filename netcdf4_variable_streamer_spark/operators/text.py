"""B-10 text-analysis operators (north star: LLM-data-pipeline text prep).

Corpus statistics, tf-idf, heuristic language ID, quality scoring, token
counting and document fingerprinting over `documents`. Everything is
built from explode/groupBy/window built-ins (one shuffle per agg, no
Python), and every constant the heuristics need (stopword lists, top
terms per language) is *derived from the corpus itself* inside the query
— no out-of-band state, so the same SQL is expressible in the oracle.

Fingerprints use md5 (identical across Spark/DuckDB), not xxhash64,
precisely so the oracle can hash-match them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.registry import register
from netcdf4_variable_streamer_spark.tables import load_table


# The non-empty single-space tokens of a text column, and the md5
# integer hash of an expression (``_md5_int`` as SQL text), both for
# ``.format(expr)``.
_TOKENS_SQL = "filter(split({0}, ' '), t -> t != '')"
_MD5_INT_SQL = "CAST(conv(substring(md5({0}), 1, 7), 16, 10) AS BIGINT)"


def _tokens(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")


@register(
    "q_text_stats",
    oracle="""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
)
SELECT lang,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS total_tokens,
       COUNT(DISTINCT tok) AS vocab,
       (COUNT(*) * 10000 // COUNT(DISTINCT doc_id)) / 10000.0
         AS tokens_per_doc,
       (COUNT(DISTINCT tok) * 10000 // COUNT(*)) / 10000.0
         AS type_token_ratio
FROM tok
GROUP BY lang
""",
    doc="Corpus statistics per language: doc counts, token counts, "
        "vocabulary, type-token ratio.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _tokens(load_table(spark, sf_dir, "documents"))
    return tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tok").alias("vocab"),
        # truncated 4-decimal ratios via integer division: bit-identical
        # across engines even at exact decimal ties (round() is not)
        (
            F.floor(F.count(F.lit(1)) * 10000 / F.countDistinct("doc_id"))
            / 10000.0
        ).alias("tokens_per_doc"),
        (
            F.floor(F.countDistinct("tok") * 10000 / F.count(F.lit(1)))
            / 10000.0
        ).alias("type_token_ratio"),
    )


@register(
    "q_text_tfidf_top",
    oracle="""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
),
df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tfidf, CAST(rn AS BIGINT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rn
      FROM scored) t
WHERE rn <= 3 AND doc_id < 100
""",
    doc="tf-idf with corpus-derived idf; top-3 terms per document "
        "(two aggs + one broadcastable idf join + window).",
)
def q_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs).select("doc_id", "tok")
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar for the idf constant (metadata-cheap)
    scored = tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "tok", "tfidf", F.col("rn").cast("long").alias("rn"))
    )


@register(
    "q_text_langid",
    oracle="""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
lang_top AS (
  SELECT lang AS cand_lang, tok FROM (
    SELECT lang, tok, ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY COUNT(*) DESC, tok) AS rn
    FROM tok GROUP BY lang, tok) t
  WHERE rn <= 20
),
votes AS (
  SELECT tok.doc_id, lang_top.cand_lang, COUNT(*) AS hits
  FROM tok JOIN lang_top USING (tok)
  GROUP BY tok.doc_id, lang_top.cand_lang
),
best AS (
  SELECT doc_id, cand_lang AS pred_lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, cand_lang) AS rn
  FROM votes
)
SELECT d.doc_id, d.lang AS true_lang, b.pred_lang, b.hits
FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
""",
    doc="Heuristic language ID: top-20 tokens per language (derived from "
        "the corpus), classify each doc by weighted token-hit votes.",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    w_lang = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), F.asc("tok")
    )
    lang_top = (
        tok.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_lang))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("cand_lang"), "tok")
    )
    votes = (
        tok.select("doc_id", "tok")
        .join(F.broadcast(lang_top), "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("hits"), F.asc("cand_lang")
    )
    best = (
        votes.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "hits")
    )
    return docs.select(
        "doc_id", F.col("lang").alias("true_lang")
    ).join(best, "doc_id").select("doc_id", "true_lang", "pred_lang", "hits")


@register(
    "q_text_quality",
    oracle="""
WITH tok AS (
  SELECT * FROM (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
stop AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
    FROM tok GROUP BY tok) t
  WHERE rn <= 20
),
per_doc AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         COUNT(DISTINCT t.tok) AS n_types,
         SUM(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_stop,
         SUM(LENGTH(t.tok)) AS n_tok_chars
  FROM tok t LEFT JOIN stop s ON t.tok = s.tok
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.n_chars,
       p.n_tokens,
       (p.n_tok_chars * 10000 // p.n_tokens) / 10000.0 AS avg_tok_len,
       (p.n_stop * 10000 // p.n_tokens) / 10000.0 AS stopword_ratio,
       (p.n_types * 10000 // p.n_tokens) / 10000.0 AS uniq_ratio,
       ((  4 * LEAST(p.n_tokens, 100) * 100
         + 3 * (p.n_stop * 10000 // p.n_tokens)
         + 3 * (p.n_types * 10000 // p.n_tokens)) // 10) / 10000.0 AS quality
FROM documents d JOIN per_doc p USING (doc_id)
""",
    doc="Quality scoring: length/stopword/uniqueness signals combined into "
        "a 0-1 score; stopwords derived as the corpus top-20 tokens.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs).select("doc_id", "tok")
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    stop = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("tok", F.lit(1).alias("is_stop"))
    )
    per_doc = (
        tok.join(F.broadcast(stop), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
            F.sum(F.coalesce("is_stop", F.lit(0))).alias("n_stop"),
            F.sum(F.length("tok")).alias("n_tok_chars"),
        )
    )
    # all ratios as truncated 4-decimal integer arithmetic — bit-identical
    # across engines even at exact decimal ties (round() is not; a 0.49525
    # quality tie at sf0.01 flips differently in Spark vs DuckDB)
    nt = F.col("n_tokens")
    ratio = lambda num: F.floor(num * 10000 / nt) / 10000.0  # noqa: E731
    stop_i = F.floor(F.col("n_stop") * 10000 / nt)
    uniq_i = F.floor(F.col("n_types") * 10000 / nt)
    quality_i = F.floor(
        (4 * F.least(nt, F.lit(100)) * 100 + 3 * stop_i + 3 * uniq_i) / 10
    )
    return docs.select("doc_id", "n_chars").join(per_doc, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        ratio(F.col("n_tok_chars")).alias("avg_tok_len"),
        (stop_i / 10000.0).alias("stopword_ratio"),
        (uniq_i / 10000.0).alias("uniq_ratio"),
        (quality_i / 10000.0).alias("quality"),
    )


@register(
    "q_text_tokens",
    oracle="""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{1,4}')) AS BIGINT)
         AS n_subword_units,
       (n_chars * 10000 // LEN(STRING_SPLIT(text, ' '))) / 10000.0
         AS chars_per_token
FROM documents
""",
    doc="Token counting: whitespace tokens + BPE-ish greedy ≤4-char "
        "subword units (regex), chars/token ratio.",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("long")
        .alias("n_subword_units"),
        (F.floor(F.col("n_chars") * 10000 / ws) / 10000.0).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_text_fingerprint",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         LIST_TRANSFORM(
           generate_series(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 1)),
           i -> MD5(COALESCE(STRING_SPLIT(text,' ')[i],'') || ' ' ||
                    COALESCE(STRING_SPLIT(text,' ')[i+1],'') || ' ' ||
                    COALESCE(STRING_SPLIT(text,' ')[i+2],''))) AS hashes
  FROM documents
)
SELECT d.doc_id,
       MD5(d.text) AS doc_md5,
       LIST_MIN(s.hashes) AS min_shingle_md5
FROM documents d JOIN sh s USING (doc_id)
""",
    doc="Document fingerprinting: whole-doc md5 + winnowing-style minimum "
        "shingle md5 (md5 is portable across engines, unlike xxhash64).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the split once — indexing an inline split expression
    # inside the lambda re-evaluates it per element_at (O(tokens²)/row)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("toks_arr")
    )
    toks = F.col("toks_arr")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    hashes = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(
                " ",
                F.coalesce(F.element_at(toks, i), F.lit("")),
                F.coalesce(F.element_at(toks, i + 1), F.lit("")),
                F.coalesce(F.element_at(toks, i + 2), F.lit("")),
            )
        ),
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("doc_md5"),
        F.array_min(hashes).alias("min_shingle_md5"),
    )


@register(
    "q_sample_hash_split",
    oracle="""
WITH h AS (
  SELECT doc_id, lang, MD5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CASE WHEN hx < 'cccccccc' THEN 'train'
              WHEN hx < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM h
)
SELECT split, lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM s GROUP BY split, lang
""",
    doc="Deterministic hash-based train/val/test split (~80/10/10 by md5 "
        "prefix of the stable doc key): the split of a document never "
        "changes with corpus size, partitioning, or engine — the property "
        "a 100 TB training pipeline needs for reproducible splits. Pure "
        "map-side expression + one aggregation; the md5 hex threshold "
        "comparison is lexicographic and engine-portable.",
)
def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    split = (
        F.when(hx < "cccccccc", "train")
        .when(hx < "e6666666", "val")
        .otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# per-language keep rates for corpus rebalancing: downsample the dominant
# language, keep the rest. Thresholds are md5-hex prefixes (rate = prefix
# value / 16^8), lexicographic comparison is engine-portable.
_STRATA_RATES = {
    "en": "33333333",  # ~20 % of english
    "de": "cccccccc",  # ~80 %
    "es": "cccccccc",
    "fr": "cccccccc",
    "zh": "ffffffff",  # keep ~all
}


@register(
    "q_sample_stratified",
    oracle=f"""
WITH kept AS (
  SELECT doc_id, lang FROM documents
  WHERE MD5(CAST(doc_id AS VARCHAR)) <
        CASE lang
          {' '.join(f"WHEN '{lg}' THEN '{th}'" for lg, th in _STRATA_RATES.items())}
          ELSE '80000000' END
)
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM kept GROUP BY lang
""",
    doc="Stratified (per-language) deterministic downsampling — the "
        "corpus-rebalancing step of a training-data pipeline: each "
        "stratum keeps a different md5-hash fraction of its documents "
        "(en 20 %, zh ~100 %, rest 80 %), so dominant languages are "
        "downsampled without any shuffle — a pure map-side predicate "
        "whose keep/drop decision is stable across corpus size, "
        "partitioning, and engine. One aggregation for the audit counts.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    th = F.lit("80000000")
    for lg, t in _STRATA_RATES.items():
        th = F.when(F.col("lang") == lg, F.lit(t)).otherwise(th)
    return (
        d.filter(hx < th)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "q_text_contamination",
    oracle="""
WITH ev AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             generate_series(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 4, 0)),
             i -> STRING_SPLIT(text,' ')[i] || ' ' ||
                  STRING_SPLIT(text,' ')[i+1] || ' ' ||
                  STRING_SPLIT(text,' ')[i+2] || ' ' ||
                  STRING_SPLIT(text,' ')[i+3] || ' ' ||
                  STRING_SPLIT(text,' ')[i+4]))) AS g
    FROM documents WHERE doc_id < 10) t
),
tr AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             generate_series(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 4, 0)),
             i -> STRING_SPLIT(text,' ')[i] || ' ' ||
                  STRING_SPLIT(text,' ')[i+1] || ' ' ||
                  STRING_SPLIT(text,' ')[i+2] || ' ' ||
                  STRING_SPLIT(text,' ')[i+3] || ' ' ||
                  STRING_SPLIT(text,' ')[i+4]))) AS g
    FROM documents WHERE doc_id >= 10) t
)
SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
       COUNT(*) AS n_shared_ngrams
FROM tr JOIN ev ON tr.g = ev.g
GROUP BY tr.doc_id, ev.doc_id
""",
    doc="Benchmark-decontamination scan — the overlap detector every "
        "serious training pipeline runs before training: documents "
        "sharing a word-5-gram with any document of the (small) eval set "
        "are flagged with the shared-n-gram count. The eval side's "
        "distinct n-grams BROADCAST (an eval suite is KBs against a "
        "100 TB corpus), so the corpus side is one map-side hash probe + "
        "one aggregation — no corpus-vs-corpus shuffle. Real pipelines "
        "use 13-grams; 5 here because the synthetic docs are short.",
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split materialized once per row (inline expression would re-split
    # per element_at in the lambda — O(tokens²)/row)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks_arr")
    )
    toks = F.col("toks_arr")
    # Spark's sequence(1, n) DESCENDS when n < 1 (it never yields empty),
    # so docs under 5 tokens need an explicit empty-array branch to match
    # DuckDB's empty generate_series(1, 0)
    grams = F.when(
        F.size(toks) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 4),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                    F.element_at(toks, i + 4),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ev = (
        d.filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            F.explode(grams).alias("g"),
        )
    )
    tr = d.filter(F.col("doc_id") >= 10).select(
        F.col("doc_id").alias("train_doc_id"), F.explode(grams).alias("g")
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


@register(
    "q_text_repetition",
    oracle="""
WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
g2 AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(generate_series(1, LEN(ts) - 1),
                               i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM d
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
p2 AS (SELECT doc_id, SUM(c) AS tot2, MAX(c) AS max2 FROM c2
       GROUP BY doc_id),
g5 AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(generate_series(1, GREATEST(LEN(ts) - 4, 0)),
                               i -> ts[i] || ' ' || ts[i+1] || ' ' ||
                                    ts[i+2] || ' ' || ts[i+3] || ' ' ||
                                    ts[i+4])) AS g
  FROM d
),
c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g),
p5 AS (SELECT doc_id, SUM(c) AS tot5, SUM(c - 1) AS dup5 FROM c5
       GROUP BY doc_id)
SELECT p2.doc_id,
       CAST(p2.max2 AS BIGINT) AS top2_cnt,
       (p2.max2 * 10000 // p2.tot2) / 10000.0 AS top2_frac,
       (p5.dup5 * 10000 // p5.tot5) / 10000.0 AS dup5_frac,
       ((p2.max2 * 10000 // p2.tot2) > 800
        OR (p5.dup5 * 10000 // p5.tot5) > 500) AS is_repetitive
FROM p2 JOIN p5 USING (doc_id)
""",
    doc="Gopher-style repetition quality filters: per-document fraction of "
        "bigrams taken by the single most frequent bigram (top2_frac) and "
        "fraction of 5-grams that are repeats of an earlier 5-gram in the "
        "same doc (dup5_frac); docs over either threshold are flagged. "
        "Shape at 100 TB: n-gram construction is a map-side array "
        "transform; both counts are per-document aggregations (partial "
        "agg map-side, one shuffle keyed by doc_id — never by gram), and "
        "the two profiles join on doc_id. No corpus-global state at all, "
        "so this scales embarrassingly: every stage is keyed by doc_id.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split materialized once per row (inline expression would re-split
    # per element_at in the lambda — O(tokens²)/row)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ts = F.col("ts")

    def grams(n: int):
        # identical construction to the oracle: 1-based element_at windows,
        # no empty-token filtering (both engines see the same raw tokens)
        idx = F.sequence(F.lit(1), F.greatest(F.size(ts) - (n - 1), F.lit(0)))
        return F.when(
            F.size(ts) >= n,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ts, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    c2 = (
        d.select("doc_id", F.explode(grams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p2 = c2.groupBy("doc_id").agg(
        F.sum("c").alias("tot2"), F.max("c").alias("max2")
    )
    c5 = (
        d.select("doc_id", F.explode(grams(5)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p5 = c5.groupBy("doc_id").agg(
        F.sum("c").alias("tot5"), F.sum(F.col("c") - 1).alias("dup5")
    )
    top2_i = F.floor(F.col("max2") * 10000 / F.col("tot2"))
    dup5_i = F.floor(F.col("dup5") * 10000 / F.col("tot5"))
    return p2.join(p5, "doc_id").select(
        "doc_id",
        F.col("max2").cast("long").alias("top2_cnt"),
        (top2_i / 10000.0).alias("top2_frac"),
        (dup5_i / 10000.0).alias("dup5_frac"),
        ((top2_i > 800) | (dup5_i > 500)).alias("is_repetitive"),
    )


@register(
    "q_text_boilerplate",
    oracle="""
WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
sh AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             generate_series(1, GREATEST(LEN(ts) - 2, 0)),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
    FROM d) t
),
gd AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY g),
per_doc AS (
  SELECT sh.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN gd.nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common
  FROM sh JOIN gd USING (g)
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_common,
       (n_common * 10000 // n_shingles) / 10000.0 AS boiler_frac,
       (n_common * 10000 // n_shingles) >= 2500 AS is_boilerplate
FROM per_doc
""",
    doc="Boilerplate detection (C4-style 'remove content repeated across "
        "many pages'): a document's distinct word-3-grams are scored "
        "against the corpus — a shingle appearing in >= 3 distinct "
        "documents is 'common'; documents whose common-shingle fraction "
        "exceeds 25 % are flagged as boilerplate-heavy. Shape at 100 TB: "
        "shingle->distinct-doc-count is one aggregation keyed by shingle "
        "(partial agg collapses per-partition repeats), the score-back "
        "join is a shuffle equi-join on shingle between the per-doc "
        "shingle stream and the (much smaller, distinct-shingle) count "
        "table, then one per-doc aggregation. No quadratic stage; the "
        "shingle key space grows sublinearly in the corpus.",
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split materialized once per row (inline expression would re-split
    # per element_at in the lambda — O(tokens²)/row)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ts = F.col("ts")
    grams = F.when(
        F.size(ts) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(ts) - 2, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ts, i),
                    F.element_at(ts, i + 1),
                    F.element_at(ts, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(grams).alias("g"))
    gd = sh.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        sh.join(gd, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("nd") >= 3, 1).otherwise(0)).alias(
                "n_common"
            ),
        )
    )
    frac_i = F.floor(F.col("n_common") * 10000 / F.col("n_shingles"))
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_common",
        (frac_i / 10000.0).alias("boiler_frac"),
        (frac_i >= 2500).alias("is_boilerplate"),
    )


# PII patterns restricted to the regex intersection of Java (Spark) and
# RE2 (DuckDB): character classes, +, bounded repeats — no lookarounds.
_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
_PII_PHONE = r"\+1-[0-9]{3}-[0-9]{4}"


@register(
    "q_text_pii_redact",
    oracle=f"""
WITH enriched AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or call +1-555-' ||
         LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(full_text, '{_PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(LEN(REGEXP_EXTRACT_ALL(full_text, '{_PII_PHONE}')) AS BIGINT)
         AS n_phones,
       MD5(REGEXP_REPLACE(REGEXP_REPLACE(full_text, '{_PII_EMAIL}',
             '<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g'))
         AS redacted_md5,
       CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(full_text, '{_PII_EMAIL}',
             '<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT)
         AS redacted_len
FROM enriched
""",
    doc="PII redaction pass (training pipelines scrub emails/phones before "
        "the data reaches a model): synthetic-but-deterministic PII is "
        "first appended to each document (both engines build the identical "
        "string, so the oracle hash-checks the REDACTION, not the "
        "fixture), then emails and phone numbers are counted and replaced "
        "with <EMAIL>/<PHONE> tags. Patterns live in the Java-regex ∩ RE2 "
        "subset so Spark and DuckDB agree byte-for-byte. Pure map-side "
        "narrow transform — zero shuffles, scales linearly; the plan is "
        "one whole-stage-codegen project over the scan.",
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(full_text, _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(full_text, F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(full_text, F.lit(_PII_PHONE), 0))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@register(
    "q_text_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
lm AS (
  SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
),
n AS (SELECT COUNT(*) AS total FROM tok),
scored AS (
  SELECT t.doc_id,
         LN(CAST(lm.c AS DOUBLE) / n.total) AS lp
  FROM tok t JOIN lm USING (tok) CROSS JOIN n
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(SUM(lp) / COUNT(*), 4) AS avg_logprob
FROM scored
GROUP BY doc_id
""",
    doc="Unigram language-model quality score (the CCNet-style LM filter "
        "of a training pipeline): corpus unigram frequencies become the "
        "model; each document scores the mean log-probability of its "
        "tokens. Low scores flag gibberish / rare-token spam for "
        "filtering. Shape at 100 TB: one token aggregation (vocabulary-"
        "sized result), broadcast back over the token stream, one "
        "per-doc aggregation — the LM table broadcasts because "
        "vocabulary grows ~log(corpus). SUM of doubles is order-"
        "dependent in the low bits, so the per-doc mean is rounded to 4 "
        "decimals, which absorbs it (same convention as tf-idf).",
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = tok.count()  # scalar: corpus token count
    scored = tok.join(F.broadcast(lm), "tok").select(
        "doc_id",
        F.log(F.col("c").cast("double") / F.lit(float(total))).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias("avg_logprob"),
    )


@register(
    "q_text_inverted_index",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
stats AS (
  SELECT tok, COUNT(*) AS df,
         CAST(SUM(doc_id) AS BIGINT) AS id_checksum
  FROM toks GROUP BY tok
),
ranked AS (
  SELECT tok, doc_id,
         ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
  FROM toks
),
head AS (
  SELECT tok,
         ARRAY_TO_STRING(LIST(doc_id ORDER BY doc_id), ',') AS posting_head
  FROM ranked WHERE rn <= 20 GROUP BY tok
)
SELECT s.tok, s.df, s.id_checksum, h.posting_head
FROM stats s JOIN head h ON h.tok = s.tok
ORDER BY s.df DESC, s.tok
LIMIT 200
""",
    doc="Inverted-index build (the search / retrieval-corpus "
        "primitive): distinct (doc, term) postings, per-term document "
        "frequency + posting checksum over the FULL postings, and a "
        "rank-limited posting head (first 20 doc_ids) flattened to a "
        "comma-joined string — the driver's pandas canonicalizer cannot "
        "hash array cells (r3 err), so the output surface is flat. "
        "The head is rank-filtered BEFORE collect — "
        "hot Zipf-head terms never assemble an unbounded list in one "
        "task, which is how production indexers shard hot postings. "
        "Shape at 100 TB: explode → distinct → two aggs + the rank "
        "window all hash on the same keys (dedup on (doc,term), then "
        "term) with map-side combine; arrays are per-term and bounded; "
        "no driver collection. sort_array ≡ LIST(... ORDER BY) gives "
        "engine-identical arrays.",
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    stats = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("doc_id").alias("id_checksum"),
    )
    head = (
        toks.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("tok").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") <= 20)
        .groupBy("tok")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("posting_head")
        )
    )
    return (
        stats.join(head, "tok")
        .select("tok", "df", "id_checksum", "posting_head")
        .orderBy(F.desc("df"), "tok")
        .limit(200)
    )


@register(
    "q_text_sentence_split",
    oracle="""
WITH s AS (
  SELECT doc_id, lang, s.sent
  FROM documents,
       UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '[.!?]+ *')) AS s(sent)
  WHERE s.sent <> ''
)
SELECT doc_id, lang,
       COUNT(*) AS n_sentences,
       CAST(SUM(LENGTH(sent)) AS BIGINT) AS sum_sent_chars,
       CAST((SUM(LENGTH(sent)) * 100) // COUNT(*) AS BIGINT)
         AS avg_sent_len_x100,
       MAX(LENGTH(sent)) AS max_sent_len
FROM s GROUP BY doc_id, lang
""",
    doc="Sentence segmentation + per-document sentence statistics: text "
        "split on terminal-punctuation runs (a regex in the Java-regex "
        "INTERSECT RE2 subset, same portability rule as the PII key), "
        "empty segments dropped identically in both engines, then "
        "per-doc counts / char sums / x100 fixed-point mean length. "
        "The sentence grain is what quality classifiers and chunkers "
        "consume when token windows are too coarse. Map-side split + "
        "one doc-keyed aggregation; at 100 TB this is scan-speed work "
        "exactly like q_chunk_context_windows.",
)
def q_text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", r"[.!?]+ *")).alias("sent"),
    ).filter(F.col("sent") != "")
    return s.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum(F.length("sent")).alias("sum_sent_chars"),
        F.expr(
            "(SUM(LENGTH(sent)) * 100) div COUNT(*)"
        ).alias("avg_sent_len_x100"),
        F.max(F.length("sent")).alias("max_sent_len"),
    )


@register(
    "q_text_bigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
tok AS (
  SELECT doc_id, UNNEST(w) AS tok FROM toks
),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (
  SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2
),
ctx AS (
  SELECT w1, COUNT(*) AS c_u FROM bg GROUP BY w1
),
lm AS (
  SELECT bgc.w1, bgc.w2, bgc.c_bg, ctx.c_u
  FROM bgc JOIN ctx USING (w1)
),
scored AS (
  SELECT b.doc_id,
         LN(CAST(lm.c_bg + 1 AS DOUBLE) / (lm.c_u + v.vsz)) AS lp
  FROM bg b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2 CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(SUM(lp) / COUNT(*), 4) AS avg_bigram_logprob
FROM scored
GROUP BY doc_id
""",
    doc="Bigram language-model quality score with add-1 smoothing — the "
        "next-order sibling of q_text_unigram_logprob (KenLM-style "
        "perplexity filters are THE standard quality gate in pretraining "
        "pipelines; a bigram model catches scrambled word salad that "
        "unigram frequency cannot): corpus bigram counts become the "
        "model, P(w2|w1) = (c+1)/(ctx+V), each document scores its mean "
        "bigram log-probability. Bigrams come from per-doc array "
        "slicing (zip of the token array with its own shift) — ZERO "
        "shuffle to form them; the model is two gram-keyed aggs joined "
        "into one lm table and ONE score-back equi-join on (w1, w2). "
        "The lm table is vocabulary-squared-bounded (grows ~log corpus), "
        "never broadcast-forced — the planner picks broadcast at small "
        "scale, shuffle-hash at 100 TB. Mean rounded to 4 decimals to "
        "absorb float-sum order drift (house convention).",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("w"),
    )
    tok = toks.select(F.explode("w").alias("tok"))
    vsz = tok.select("tok").distinct().count()  # scalar: vocab size
    n = F.size("w")
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(n - 1, F.lit(0))),
                F.slice(
                    "w", 2, F.greatest(n - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_u"))
    lm = bgc.join(ctx, "w1")
    scored = bg.join(lm, ["w1", "w2"]).select(
        "doc_id",
        F.log(
            (F.col("c_bg") + 1).cast("double")
            / (F.col("c_u") + F.lit(vsz))
        ).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias(
            "avg_bigram_logprob"
        ),
    )


@register(
    "q_text_hashed_ngram_features",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
  FROM documents WHERE LENGTH(text) > 0
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(tok), 1, 7)) AS BIGINT) % 1024
           AS bucket,
         COUNT(*) AS cnt
  FROM toks WHERE tok <> '' GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(cnt * cnt) AS BIGINT) AS l2sq,
       CAST(MAX(cnt * 1024 + bucket) % 1024 AS BIGINT) AS top_bucket,
       CAST(MAX(cnt * 1024 + bucket) // 1024 AS BIGINT) AS top_count
FROM feats GROUP BY doc_id
""",
    doc="Feature HASHING (the hashing trick — fastText/Vowpal-Wabbit "
        "style featurization for quality/topic classifiers over a "
        "corpus): tokens hash into 1024 buckets via the portable "
        "28-bit md5 hash, per-(doc, bucket) counts form the sparse "
        "feature vector, and the emitted per-doc summary (feature "
        "count, token count, exact integer squared L2 norm, and the "
        "packed-MAX top bucket with deterministic tie-break) pins the "
        "whole vector's content cross-engine. 100 TB posture: "
        "explode + two keyed aggregations, both keyed by doc_id (and "
        "bucket), map-side combined — no vocabulary table, no "
        "broadcast, no collect; the fixed 1024-dim space is the "
        "point of the hashing trick: featurization cost is "
        "corpus-linear and memory is O(1) per doc regardless of "
        "vocabulary growth.",
)
def q_text_hashed_ngram_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from netcdf4_variable_streamer_spark.operators.dedup import _md5_int

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    feats = toks.groupBy(
        "doc_id", (_md5_int(F.col("tok"), 7) % 1024).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    packed = F.max(F.col("cnt") * 1024 + F.col("bucket"))
    return feats.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("l2sq"),
        (packed % 1024).alias("top_bucket"),
        (packed / F.lit(1024)).cast("long").alias("top_count"),
    )


def _doc_bigrams(docs: DataFrame, id_cols: list[str]) -> DataFrame:
    """Adjacent-token pairs per document (whitespace tokens, empties
    dropped), one row per bigram occurrence, carrying ``id_cols``."""
    toks = docs.selectExpr(*id_cols, f"{_TOKENS_SQL.format('text')} AS w")
    tail = "greatest(size(w) - 1, 0)"
    return toks.selectExpr(
        *id_cols,
        f"explode(zip_with(slice(w, 1, {tail}), slice(w, 2, {tail}), "
        "(a, b) -> named_struct('w1', a, 'w2', b))) AS p",
    ).selectExpr(*id_cols, "p.w1", "p.w2")


def perplexity_filter(
    train_df: DataFrame,
    score_df: DataFrame,
    *,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Two-table CCNet-shape perplexity gate (VERDICT r11 #7): train
    an add-1-smoothed bigram LM on ``train_df`` (the reference corpus
    — CCNet uses Wikipedia) and gate ``score_df`` (the NEW crawl) by
    each document's average bigram log-probability against its OWN
    language's mean over the scored set. Returns one decision row per
    scored document that has at least one bigram:
    ``(id_col, lang_col, avg_bigram_logprob, keep)``.

    Unseen-in-train events back off through the same smoothing with
    zero counts: matched bigram → ln((c_bg+1)/(c_u+|V|)); unseen
    bigram under a seen context → ln(1/(c_u+|V|)); unseen context →
    ln(1/|V|) — implemented as two LEFT joins with COALESCE(0), no
    special cases. |V| is the TRAIN vocabulary.

    Cross-engine exactness (ADVICE r11): float addition is
    order-dependent, so per-bigram log-probs are floor-quantized to
    1e-6 fixed point BEFORE summing — the per-doc score is an exact
    integer sum, the per-doc mean is positive-operand integer
    division (``-((-s) DIV cnt)``), and the keep boundary is integer
    cross-multiplication (q * n_docs >= sum_q). No float operation
    after the per-row quantize, so the decision is bit-identical
    across partitionings and engines. Capacity: |lpq| < 3e7 per
    bigram ⇒ ~3e11 bigrams/doc to overflow int64.

    100 TB: the LM is two gram-keyed aggs over TRAIN (train-linear);
    scoring is two equi-joins + one doc-keyed agg over SCORE
    (score-linear); the cutoff table is |langs| rows broadcast back.
    Train once via :func:`perplexity_lm`, persist bgc/ctx, gate every
    crawl increment through :func:`perplexity_decisions` at
    batch-proportional cost — the `incremental_near_dedup` posture
    applied to quality filtering (the streaming gate
    q_stream_quality_gate does exactly that)."""
    bgc, ctx, vsz = perplexity_lm(train_df, text_col=text_col)
    return perplexity_decisions(
        bgc, ctx, vsz, score_df,
        id_col=id_col, lang_col=lang_col, text_col=text_col,
    )


def perplexity_lm(
    train_df: DataFrame, *, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """The bigram LM :func:`perplexity_filter` trains: returns
    ``(bgc, ctx, vsz)`` — bigram counts, context counts, and the
    train vocabulary size. The two frames are plain keyed tables:
    persist them as parquet and the LM is reusable across crawls and
    process restarts without touching the train text again."""
    train = train_df.select(F.col(text_col).alias("text"))
    vsz = (  # scalar: train vocab size (one O(1) driver value)
        train.select(
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("tok")
        )
        .distinct()
        .count()
    )
    tbg = _doc_bigrams(train, [])
    bgc = tbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = tbg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_u"))
    return bgc, ctx, int(vsz)


def perplexity_decisions(
    bgc: DataFrame,
    ctx: DataFrame,
    vsz: int,
    score_df: DataFrame,
    *,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Score ``score_df`` under a prepared :func:`perplexity_lm` and
    decide keep/drop against each language's mean over the scored set
    — the batch-proportional half of :func:`perplexity_filter` (see
    there for the backoff and fixed-point exactness story). ``carry``
    columns are functions of the document; they pass through as extra
    group keys, so a frame already hash-partitioned by one of them is
    scored without an Exchange."""
    keys = ["doc_id", "lang", *carry]
    score = score_df.selectExpr(
        f"{id_col} AS doc_id", f"{lang_col} AS lang", *carry,
        f"{text_col} AS text",
    )
    lpq = (
        "CAST(FLOOR(LN(CAST(coalesce(c_bg, 0) + 1 AS DOUBLE)"
        f" / (coalesce(c_u, 0) + {int(vsz)})) * 1000000) AS BIGINT)"
    )
    scored = (
        _doc_bigrams(score, keys)
        .join(ctx, "w1", "left")
        .join(bgc, ["w1", "w2"], "left")
        .groupBy(*keys)
        .agg(F.expr(f"sum({lpq}) AS s"), F.expr("count(1) AS cnt"))
        .selectExpr(*keys, "-((-s) DIV cnt) AS q")
    )
    cut = scored.groupBy("lang").agg(
        F.expr("sum(q) AS sum_q"), F.expr("count(1) AS n_docs")
    )
    return scored.join(F.broadcast(cut), "lang").selectExpr(
        f"doc_id AS {id_col}",
        f"lang AS {lang_col}",
        *carry,
        "CAST(q AS DOUBLE) / 1000000 AS avg_bigram_logprob",
        "q * n_docs >= sum_q AS keep",
    )


_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents {score_where}
),
ttoks AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents {train_where}
),
tok AS (SELECT UNNEST(w) AS tok FROM ttoks),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
bg AS (
  SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
tbg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ttoks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bgc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM tbg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c_u FROM tbg GROUP BY w1),
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
cut AS (
  SELECT lang, CAST(SUM(q) AS BIGINT) AS sum_q,
         COUNT(*) AS n_docs
  FROM qd GROUP BY lang
)
SELECT s.doc_id, s.lang,
       CAST(s.q AS DOUBLE) / 1000000 AS avg_bigram_logprob,
       (s.q * c.n_docs >= c.sum_q) AS keep
FROM qd s JOIN cut c USING (lang)
ORDER BY s.doc_id
"""


@register(
    "q_text_perplexity_filter",
    oracle=_PPL_ORACLE.format(train_where="", score_where=""),
    doc="PERPLEXITY FILTERING (round 11; re-based on the two-table "
        "perplexity_filter core in round 12) — the CCNet/Gopher-style "
        "quality gate pretraining pipelines run after dedup: score "
        "every document under the corpus bigram LM (add-1 smoothing, "
        "the q_text_bigram_logprob model) and KEEP docs at or above "
        "their OWN LANGUAGE's mean score — per-domain cutoffs, not a "
        "global constant, exactly because perplexity distributions "
        "differ by language. Per-bigram log-probs are floor-quantized "
        "to 1e-6 fixed point BEFORE summing (ADVICE r11: float "
        "addition is order-dependent), so the per-doc score, the "
        "per-doc integer-division mean, and the cross-multiplied keep "
        "boundary (q * n_docs >= sum_q) are all bit-identical "
        "cross-engine and cross-partitioning. Plan: the LM is two "
        "gram-keyed aggs + two score-back LEFT equi-joins "
        "(corpus-linear); the per-lang cutoff table is |langs| rows "
        "broadcast back. At 100 TB nothing here is corpus-quadratic "
        "and the only global stage is the |langs|-row aggregate.",
)
def q_text_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return perplexity_filter(d, d).orderBy("doc_id")


@register(
    "q_text_perplexity_crosstrain",
    oracle=_PPL_ORACLE.format(
        train_where="WHERE doc_id % 2 = 0", score_where=""
    ),
    doc="CROSS-TRAINED PERPLEXITY GATE (round 12, VERDICT r11 #7) — "
        "the actual CCNet deployment shape: the bigram LM trains on a "
        "REFERENCE corpus (here the even-doc_id half, standing in for "
        "Wikipedia) and gates the FULL crawl, so scored documents "
        "carry bigrams and whole contexts the LM never saw. Backoff "
        "is uniform add-1 smoothing with zero counts via two LEFT "
        "joins + COALESCE: seen bigram ln((c+1)/(c_u+|V|)), unseen "
        "bigram ln(1/(c_u+|V|)), unseen context ln(1/|V|), |V| the "
        "TRAIN vocabulary. Same 1e-6 fixed-point integer decision "
        "pipeline as q_text_perplexity_filter. 100 TB: train once "
        "and persist bgc/ctx; every crawl increment is gated at "
        "batch-proportional cost (two equi-joins + one doc agg) — "
        "the incremental_near_dedup posture applied to quality "
        "filtering.",
)
def q_text_perplexity_crosstrain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return perplexity_filter(
        d.filter(F.col("doc_id") % 2 == 0), d
    ).orderBy("doc_id")


def hashed_classifier_sql(text: str) -> tuple[str, str]:
    """The hashed linear quality classifier as two per-row SQL
    expressions over the text column ``text``: ``(n_tokens,
    score_q)``, both int64. Tokens split on single spaces, empties
    dropped; token t falls in bucket ``md5(t) % 4096``, and bucket b
    weighs ``md5('w:' || b) % 2001 - 1000`` (the deterministic
    stand-in for trained weights). score_q sums the weight of every
    token, which is the bucket-count dot product in exact integers,
    with no explode and no aggregation."""
    toks = _TOKENS_SQL.format(text)
    bucket = f"{_MD5_INT_SQL.format('t')} % 4096"
    wkey = f"concat('w:', {bucket})"
    weight = f"{_MD5_INT_SQL.format(wkey)} % 2001 - 1000"
    return (
        f"CAST(size({toks}) AS BIGINT)",
        f"aggregate({toks}, 0L, (acc, t) -> acc + {weight})",
    )


def hashed_classifier_scores(docs: DataFrame) -> DataFrame:
    """:func:`hashed_classifier_sql` over a (doc_id, lang, text) frame:
    one row per document with at least one token, ``(doc_id, lang,
    n_tokens, score_q)``. A per-row projection: no shuffle."""
    n_tokens, score_q = hashed_classifier_sql("text")
    return docs.selectExpr(
        "doc_id", "lang", f"{n_tokens} AS n_tokens", f"{score_q} AS score_q"
    ).filter("n_tokens > 0")


def classifier_keep(scored: DataFrame) -> DataFrame:
    """Add the classifier gate's ``keep`` column to
    :func:`hashed_classifier_scores` output: a document passes when its
    length-normalized score clears its language's mean, decided in
    int64 by cross-multiplication (``score_q * sum_n >= sum_q *
    n_tokens``) against the |langs|-row cutoff table, broadcast back."""
    cut = scored.groupBy("lang").agg(
        F.sum("score_q").alias("sum_q"),
        F.sum("n_tokens").alias("sum_n"),
    )
    return scored.join(F.broadcast(cut), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "score_q",
        (
            F.col("score_q") * F.col("sum_n")
            >= F.col("sum_q") * F.col("n_tokens")
        ).alias("keep"),
    )


@register(
    "q_text_classifier_score",
    oracle="""
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
cut AS (
  SELECT lang,
         CAST(SUM(score_q) AS BIGINT) AS sum_q,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_n
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tokens, s.score_q,
       (s.score_q * c.sum_n >= c.sum_q * s.n_tokens) AS keep
FROM scored s JOIN cut c USING (lang)
ORDER BY s.doc_id
""",
    doc="LINEAR QUALITY-CLASSIFIER scoring (round 12) — the "
        "fastText-style gate DCLM / FineWeb-Edu pipelines apply "
        "after dedup: hash every token into a fixed 4096-bucket "
        "space (the q_text_hashed_ngram_features hashing trick), "
        "dot the sparse count vector with a broadcast-free weight "
        "vector (weights derived per bucket from the portable md5 "
        "hash — the deterministic stand-in for trained classifier "
        "weights; swapping in real weights is a 1-line change to the "
        "weight expression in hashed_classifier_scores or a 4096-row "
        "broadcast join), and KEEP docs "
        "whose length-normalized score clears their language's mean "
        "— decided entirely in int64 by cross-multiplication "
        "(score_q * sum_n >= sum_q * n_tokens ⟺ score/n >= "
        "sum_q/sum_n), no float anywhere. Capacity: |w| <= 1000, "
        "cnt*|w| summed over a doc < 1e9 per 1e6 tokens; the "
        "cross-product terms stay < 2^62 for corpora to ~4e14 "
        "weighted tokens per language. 100 TB: scoring is a per-row "
        "projection (one aggregate() fold over each document's "
        "tokens, no explode, no shuffle); the only aggregation is "
        "the |langs|-row cutoff, broadcast back — corpus-linear, no "
        "vocabulary table, no collect.",
)
def q_text_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = hashed_classifier_scores(load_table(spark, sf_dir, "documents"))
    return classifier_keep(scored).orderBy("doc_id")


@register(
    "q_text_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
g0 AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
g AS (SELECT DISTINCT doc_id, gram FROM g0),
f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST((SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
""",
    doc="Per-document n-gram NOVELTY — the corpus-redundancy metric "
        "behind dedup-threshold tuning and memorization studies (Lee "
        "et al.'s dedup work measures exactly this): a word trigram "
        "is novel for the doc with the smallest doc_id containing it; "
        "each doc reports its distinct-trigram count, novel count, "
        "and ppm novelty ratio (integer division — bit-exact). A "
        "low-novelty doc is mostly assembled from text seen earlier "
        "in the corpus (boilerplate, mirrors, templates). Trigrams "
        "form map-side (one zip of the token array with two shifts, "
        "array_distinct per doc — short docs guarded against "
        "sequence() descending); then ONE gram-keyed min-agg and ONE "
        "gram-keyed score-back join, the q_text_bigram_logprob "
        "posture. At 100 TB the gram table is the big shuffle and it "
        "is keyed, combinable, and skew-tolerant (grams are near-"
        "unique); per-doc output rows = |docs|.",
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("w"),
    )
    n = F.size("w")
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("w", i),
            F.element_at("w", i + 1),
            F.element_at("w", i + 2),
        ),
    )
    g = (
        toks.select(
            "doc_id",
            F.explode(
                # sequence(1, n-2) DESCENDS when n < 3 — guard first
                F.when(n >= 3, F.array_distinct(tri)).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("gram"),
        )
    )
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
            F.expr(
                "(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000) div COUNT(*)"
            ).alias("novelty_ppm"),
        )
    )


@register(
    "q_sample_shard_rendezvous",
    oracle="""
WITH h AS (
  SELECT doc_id, lang,
         GREATEST(
           MD5(CAST(doc_id AS VARCHAR) || ':0'),
           MD5(CAST(doc_id AS VARCHAR) || ':1'),
           MD5(CAST(doc_id AS VARCHAR) || ':2'),
           MD5(CAST(doc_id AS VARCHAR) || ':3'),
           MD5(CAST(doc_id AS VARCHAR) || ':4'),
           MD5(CAST(doc_id AS VARCHAR) || ':5'),
           MD5(CAST(doc_id AS VARCHAR) || ':6'),
           MD5(CAST(doc_id AS VARCHAR) || ':7')
         ) AS best
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CASE best
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':0') THEN 0
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':1') THEN 1
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':2') THEN 2
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':3') THEN 3
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':4') THEN 4
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':5') THEN 5
           WHEN MD5(CAST(doc_id AS VARCHAR) || ':6') THEN 6
           ELSE 7 END AS shard
  FROM h
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM s GROUP BY shard ORDER BY shard
""",
    doc="RENDEZVOUS (highest-random-weight) sharding (round 12): each "
        "document goes to the shard with the greatest md5(doc:shard) "
        "— the assignment every shard computes independently, and the "
        "property no modulo scheme has: adding or removing a shard "
        "moves ONLY the documents whose winner changed (~1/n of "
        "them), never reshuffles the world. The operator every "
        "resumable 100 TB pipeline wants for stable work assignment "
        "(crawl ownership, embedding-index shards, cache keys). Pure "
        "map-side expression work — 8 md5s + GREATEST per row, no "
        "explode, no window — plus one |shards|-row audit agg; "
        "md5-hex comparison is lexicographic and engine-portable.",
)
def q_sample_shard_rendezvous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    hs = [F.md5(F.concat(key, F.lit(f":{i}"))) for i in range(8)]
    best = F.greatest(*hs)
    shard = F.lit(7)
    for i in range(6, -1, -1):
        shard = F.when(best == hs[i], i).otherwise(shard)
    return (
        d.select("doc_id", "lang", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


@register(
    "q_ml_naive_bayes",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
           AS tok
  FROM documents
),
v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM toks),
d AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
lt AS (
  SELECT lang, tok, COUNT(*) AS c_lt FROM toks GROUP BY lang, tok
),
lg AS (
  SELECT lang, COUNT(*) AS n_l, COUNT(DISTINCT doc_id) AS d_l
  FROM toks GROUP BY lang
),
pri AS (
  SELECT lang,
         CAST(FLOOR(LN(CAST(d_l AS DOUBLE) / d.n_docs) * 1000000)
              AS BIGINT) AS prior_q,
         n_l
  FROM lg CROSS JOIN d
),
scored AS (
  SELECT t.doc_id, t.lang AS actual_lang, p.lang AS cand_lang,
         MAX(p.prior_q) AS prior_q,
         SUM(CAST(FLOOR(LN(
               (COALESCE(lt.c_lt, 0) + 1)
               / CAST(p.n_l + v.vsz AS DOUBLE)
             ) * 1000000) AS BIGINT)) AS like_q
  FROM toks t
  CROSS JOIN pri p
  CROSS JOIN v
  LEFT JOIN lt ON lt.lang = p.lang AND lt.tok = t.tok
  GROUP BY t.doc_id, t.lang, p.lang
),
pred AS (
  SELECT doc_id, actual_lang, cand_lang,
         prior_q + like_q AS score_q,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY prior_q + like_q DESC, cand_lang) AS rn
  FROM scored
)
SELECT actual_lang, cand_lang AS pred_lang, COUNT(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY actual_lang, cand_lang
ORDER BY actual_lang, pred_lang
""",
    doc="Multinomial NAIVE BAYES language classifier (round 12 — the "
        "generative sibling of q_text_classifier_score, trained and "
        "evaluated on the corpus itself; the model fastText-style "
        "lang-id pipelines start from): per-language token counts + "
        "doc-count priors, add-1 smoothing over the corpus "
        "vocabulary, per-token log-likelihoods FLOOR-QUANTIZED to "
        "1e-6 fixed point BEFORE summing (the house rule that makes "
        "float-sum order drift impossible), argmax with a "
        "deterministic (score DESC, lang) tie-break, confusion "
        "matrix out. Shape: one (lang,token) count table (vocab-"
        "bounded), the 5-row prior table CROSS-broadcast, ONE "
        "token-keyed LEFT join at |tokens|x|langs| cost, one "
        "(doc,lang) agg, one |langs|-deep per-doc window. At 100 TB "
        "train once, persist lt/priors as parquet, score crawls "
        "batch-proportionally — the perplexity_lm posture.",
)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("tok"),
    )
    vsz = int(toks.select("tok").distinct().count())
    n_docs = int(toks.select("doc_id").distinct().count())
    lt = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c_lt")
    )
    pri = (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_l"),
            F.countDistinct("doc_id").alias("d_l"),
        )
        .select(
            F.col("lang").alias("cand_lang"),
            F.floor(
                F.log(F.col("d_l").cast("double") / n_docs) * 1000000
            ).cast("long").alias("prior_q"),
            "n_l",
        )
    )
    cand = toks.select(
        "doc_id", F.col("lang").alias("actual_lang"), "tok"
    ).crossJoin(F.broadcast(pri))
    like_q = F.floor(
        F.log(
            (F.coalesce(F.col("c_lt"), F.lit(0)) + 1).cast("double")
            / (F.col("n_l") + F.lit(vsz)).cast("double")
        )
        * 1000000
    ).cast("long")
    scored = (
        cand.join(
            lt,
            (lt.lang == cand.cand_lang) & (lt.tok == cand.tok),
            "left",
        )
        .select(
            "doc_id", "actual_lang", "cand_lang", "prior_q",
            like_q.alias("like_q"),
        )
        .groupBy("doc_id", "actual_lang", "cand_lang")
        .agg(
            (F.max("prior_q") + F.sum("like_q")).alias("score_q")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_q"), "cand_lang"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("actual_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


@register(
    "q_text_entropy",
    oracle="""
WITH ch AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS c
  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)
  WHERE length(text) >= 1
),
hist AS (
  SELECT doc_id, c, COUNT(*) AS n_c FROM ch GROUP BY doc_id, c
),
tot AS (
  SELECT doc_id, c, n_c,
         SUM(n_c) OVER (PARTITION BY doc_id) AS n
  FROM hist
),
q AS (
  SELECT doc_id, n,
         CAST(FLOOR((n_c * 1000000) * LN(CAST(n_c AS DOUBLE) / n))
              AS BIGINT) AS q_c
  FROM tot
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       COUNT(*) AS n_distinct_chars,
       CAST((-SUM(q_c)) // MAX(n) AS BIGINT) AS entropy_unats
FROM q GROUP BY doc_id
""",
    doc="Per-document character-level SHANNON ENTROPY (round 12 — the "
        "gibberish/compressibility signal C4-class quality filters "
        "use beside length and repetition: natural text sits in a "
        "narrow entropy band, base64 blobs and aaaa-runs fall "
        "outside): per-char contributions n_c*ln(n_c/N) are "
        "floor-quantized to integer micro-nats BEFORE summing (the "
        "house fixed-point rule), the per-doc division is positive-"
        "operand integer floor division — no float accumulation "
        "anywhere, so the value is partitioning- and engine-exact. "
        "Shape: char explode is corpus-linear map-side work; one "
        "(doc, char) agg (<=128 rows per ASCII doc), one doc window, "
        "one doc agg — all on the doc_id partitioning.",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 1
    )
    ch = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text"))
        ).alias("i"),
        "text",
    ).select(
        "doc_id", F.expr("substring(text, i, 1)").alias("c")
    )
    hist = ch.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    wdoc = Window.partitionBy("doc_id")
    tot = hist.select(
        "doc_id",
        "n_c",
        F.sum("n_c").over(wdoc).alias("n"),
    )
    q_c = F.floor(
        (F.col("n_c") * 1000000).cast("double")
        * F.log(F.col("n_c").cast("double") / F.col("n"))
    ).cast("long")
    return (
        tot.select("doc_id", "n", q_c.alias("q_c"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.expr("(-SUM(q_c)) DIV MAX(n)").alias("entropy_unats"),
        )
    )


# ASCII-corpus assumption (ADVICE r13 #2): \b is Unicode-aware in Java
# regex but ASCII-only in DuckDB/RE2, and \d matches Unicode digits in
# neither dialect here but *word characters adjacent* to a match differ —
# so an IP/phone abutting a non-ASCII letter could count in one engine
# and not the other. The fixture (and the documented contract of these
# keys) is ASCII text around PII tokens; corpora with non-ASCII word
# characters adjacent to digits should pin explicit boundary classes
# (e.g. (?<![0-9A-Za-z]) / (?![0-9A-Za-z])) in BOTH pattern sets.
_SCRUB_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SCRUB_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_SCRUB_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


@register(
    "q_text_pii_scrub",
    oracle=rf"""
WITH aug AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
              || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
),
scrub AS (
  SELECT doc_id, lang,
    CAST(len(regexp_extract_all(text, '{_SCRUB_EMAIL}')) AS BIGINT)
      AS n_emails,
    CAST(len(regexp_extract_all(text, '{_SCRUB_PHONE}')) AS BIGINT)
      AS n_phones,
    CAST(len(regexp_extract_all(text, '{_SCRUB_IP}')) AS BIGINT)
      AS n_ips,
    MD5(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '{_SCRUB_EMAIL}', '<EMAIL>', 'g'),
          '{_SCRUB_IP}', '<IP>', 'g'),
        '{_SCRUB_PHONE}', '<PHONE>', 'g')
    ) AS redacted_hash
  FROM aug
)
SELECT doc_id, lang, n_emails, n_phones, n_ips,
       (n_emails + n_phones + n_ips = 0) AS clean, redacted_hash
FROM scrub ORDER BY doc_id
""",
    doc="PII SCRUB (round 13, VERDICT r12 #5 — the redaction pass "
        "every production pretraining pipeline runs before training, "
        "cf. CCNet/RefinedWeb/Dolma): redact email / IPv4 / phone "
        "shapes with fixed placeholders and pin BOTH the per-category "
        "counts AND the md5 of the rewritten text, so the oracle "
        "verifies the rewrite itself, not just the counts. The "
        "synthetic corpus carries no PII, so the key first plants "
        "deterministic PII into a doc_id-derived subset (identical "
        "expression in both engines — ~1/3 get an email, 1/5 an IP, "
        "1/7 a phone, overlapping); the scrub then runs on the "
        "augmented text. Pure regexp_replace/regexp_extract_all "
        "chains — JVM-side, zero Python, zero joins, zero "
        "aggregations: the whole operator is ONE map-side projection "
        "(the only exchange is the final presentation sort), so at "
        "100 TB it runs at scan speed and composes into the curation "
        "pipeline as a free map stage. Replacement order "
        "email->IP->phone is part of the contract (counts are always "
        "measured on the pre-redaction text). Extends the earlier "
        "q_text_pii_redact key with the IP category, per-category "
        "planting subsets (so counts vary per doc) and the clean "
        "audit flag.",
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad(
                        (F.col("doc_id") % 10000).cast("string"), 4, "0"
                    ),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    n = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all("text", F.lit(pat), F.lit(0))
    ).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _SCRUB_EMAIL, "<EMAIL>"),
            _SCRUB_IP,
            "<IP>",
        ),
        _SCRUB_PHONE,
        "<PHONE>",
    )
    return (
        aug.select(
            "doc_id",
            "lang",
            n(_SCRUB_EMAIL).alias("n_emails"),
            n(_SCRUB_PHONE).alias("n_phones"),
            n(_SCRUB_IP).alias("n_ips"),
            F.md5(redacted).alias("redacted_hash"),
        )
        .select(
            "doc_id",
            "lang",
            "n_emails",
            "n_phones",
            "n_ips",
            (
                F.col("n_emails") + F.col("n_phones") + F.col("n_ips")
                == 0
            ).alias("clean"),
            "redacted_hash",
        )
        .orderBy("doc_id")
    )
