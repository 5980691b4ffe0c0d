"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and its size constants:
the same seed writes byte-identical files (NumPy ``default_rng`` streams
are fixed across platforms, and pyarrow writes parquet deterministically
for fixed data and version).  The engine receives only these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- array_io ---------------------------------------------------------------
GRID_T, GRID_Y, GRID_X = 1024, 32, 32  # 1,048,576 cells per variable
GRID_VARS = ("temperature", "humidity")
CHUNK_LINES = 64  # records per storage chunk in every container
WRITE_LINES = 256  # records appended per write operation
WRITE_BLOCK = 64  # records handed to the streamed writer per call
NC4_DEFLATE = 4  # zlib level of the NetCDF-4 container (with byte shuffle)

# -- corpus_crawl: corpus_batch and crawl_stream parts ------------------------
VOCAB = 4000
ZIPF_S = 1.1
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
DOC_TOKENS = (20, 120)  # inclusive token-count range of a fresh document
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
EMB_DIM, EMB_CLUSTERS = 64, 10
EMB_NOISE = 0.12  # per-dimension noise around a unit cluster centre
EMB_NEAR_SHARE = 0.05  # vectors planted as a near copy of an earlier one
EMB_NEAR_NOISE = 0.01

CORPUS_DOCS = 300
CORPUS_VECTORS = 256
FEED_BATCHES = 3
FEED_BATCH_DOCS = 150
FEED_EARLY_SHARE = 0.5  # share of feed duplicates that copy batch 0

# engine tables the DuckDB oracle views expect to exist
_OTHER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
)


def grid(seed: int) -> dict[str, np.ndarray]:
    """(time, y, x) float32 fields: a smooth travelling wave plus Gaussian
    noise.  The noise keeps deflate honest: the closed-form grid of the
    engine's own tests compresses ~30x and makes NetCDF-4 decode cheap."""
    rng = np.random.default_rng([seed, 1])
    t = np.arange(GRID_T, dtype=np.float64)[:, None, None]
    y = np.arange(GRID_Y, dtype=np.float64)[None, :, None]
    x = np.arange(GRID_X, dtype=np.float64)[None, None, :]
    phase = rng.uniform(0, 2 * np.pi, size=2)
    wave = np.sin(2 * np.pi * (t / 256 + x / GRID_X) + phase[0]) * np.cos(
        2 * np.pi * y / GRID_Y + phase[1]
    )
    shape = (GRID_T, GRID_Y, GRID_X)
    temperature = 285 + 8 * wave + rng.normal(0, 0.5, shape)
    humidity = 60 - 20 * wave + rng.normal(0, 2.0, shape)
    return {
        "temperature": temperature.astype(np.float32),
        "humidity": humidity.astype(np.float32),
    }


def _zipf_probs() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return p / p.sum()


def _words(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=VOCAB)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters, 9)))
    return np.array(sorted(words))


def _mutate(rng, toks: list[str], words, probs) -> list[str]:
    """Replace one token in 30 (at least one): word-3-gram Jaccard to the
    source stays well above the 0.6 near-duplicate threshold."""
    out = list(toks)
    k = max(1, len(out) // 30)
    for i in rng.choice(len(out), size=k, replace=False):
        out[i] = words[rng.choice(VOCAB, p=probs)]
    return out


def documents(seed: int, n: int, early: int = 0) -> pa.Table:
    """``documents`` rows (doc_id, text, lang, source, n_chars).

    A share ``EXACT_DUP_SHARE`` of rows copies an earlier row's text
    exactly and ``NEAR_DUP_SHARE`` copies it with a few tokens replaced.
    When ``early`` > 0, ``FEED_EARLY_SHARE`` of those sources are drawn
    from the first ``early`` rows, so that a stream must keep state from
    its first batch to catch them."""
    rng = np.random.default_rng([seed, 2])
    words = _words(rng)
    probs = _zipf_probs()
    texts: list[list[str]] = []
    langs: list[str] = []
    kinds = rng.choice(
        3, size=n,
        p=(1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE, EXACT_DUP_SHARE,
           NEAR_DUP_SHARE),
    )
    for i in range(n):
        kind = kinds[i] if i > 0 else 0
        if kind == 0:
            m = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
            texts.append(list(words[rng.choice(VOCAB, size=m, p=probs)]))
            langs.append(str(rng.choice(LANGS, p=LANG_P)))
            continue
        hi = early if early and i > early and rng.random() < FEED_EARLY_SHARE else i
        src = int(rng.integers(0, hi))
        toks = texts[src] if kind == 1 else _mutate(rng, texts[src], words, probs)
        texts.append(list(toks))
        langs.append(langs[src])
    joined = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(joined, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(s) for s in joined], pa.int64()),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    """``embeddings`` rows (vec_id, embedding float[64], label): unit
    vectors around ``EMB_CLUSTERS`` centres, with ``EMB_NEAR_SHARE`` of
    them planted as a near copy of an earlier vector."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, size=n).astype(np.int32)
    v = centres[label] + rng.normal(0, EMB_NOISE, size=(n, EMB_DIM))
    near = np.flatnonzero(rng.random(n) < EMB_NEAR_SHARE)
    for i in near[near > 0]:
        src = int(rng.integers(0, i))
        label[i] = label[src]
        v[i] = v[src] + rng.normal(0, EMB_NEAR_NOISE, size=EMB_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
            flat,
        ),
        "label": pa.array(label),
    })


def write_tables(seed: int, out_dir: str) -> str:
    """The corpus_batch table directory: generated ``documents`` and
    ``embeddings`` plus empty stand-ins for the engine's other tables
    (the DuckDB oracle connection declares a view over each)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed, CORPUS_DOCS),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(seed, CORPUS_VECTORS),
                   os.path.join(out_dir, "embeddings.parquet"))
    empty = pa.table({"id": pa.array([], pa.int64())})
    for name in _OTHER_TABLES:
        pq.write_table(empty, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_feed(seed: int, out_dir: str) -> list[str]:
    """The crawl_stream feed: ``FEED_BATCHES`` parquet files of
    ``FEED_BATCH_DOCS`` documents each, oldest first.  With
    ``maxFilesPerTrigger=1`` each file is one micro-batch; file mtimes
    are pinned 1000 s apart so the file source orders them by name."""
    os.makedirs(out_dir, exist_ok=True)
    t = documents(seed, FEED_BATCHES * FEED_BATCH_DOCS, early=FEED_BATCH_DOCS)
    t = t.select(["doc_id", "text", "lang"])
    files = []
    for b in range(FEED_BATCHES):
        f = os.path.join(out_dir, f"{b:03d}_part.parquet")
        pq.write_table(t.slice(b * FEED_BATCH_DOCS, FEED_BATCH_DOCS), f)
        files.append(f)
    for b, f in enumerate(files):
        ts = 1_000_000_000 + 1000 * b
        os.utime(f, (ts, ts))
    return files
