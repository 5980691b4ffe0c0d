"""corpus_batch: the LLM-data operators over a generated corpus.

One pass runs the two dedup keys and the two similarity keys through
their registry builders and collects each result.  Outputs are compared
with the DuckDB oracle of each key on the same generated tables.  Codec,
DataSource and streaming state are bypassed.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from harness import OPS, Ctx, Work, median, run_passes, timed

from netcdf4_variable_streamer_spark import oracle
from netcdf4_variable_streamer_spark.operators import similarity
from netcdf4_variable_streamer_spark.plans.inspect import (
    count_nodes,
    plan_string,
)
from netcdf4_variable_streamer_spark.registry import REGISTRY

KEYS = dict(zip(OPS, (
    "q_dedup_exact",
    "q_dedup_near_minhash",
    "q_sim_threshold_pairs",
    "q_sim_threshold_lsh",
)))
DEDUP_OPS, ANN_OPS = OPS[:2], OPS[2:]
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def prepare(out_dir: str, seed: int) -> dict:
    return {"dir": gen.write_tables(seed, out_dir)}


def _plan_counts(ctx: Ctx, op: str, df) -> None:
    plan = plan_string(df)
    ctx.layer[f"plan.{op}.exchanges"] = count_nodes(plan, "Exchange")
    ctx.layer[f"plan.{op}.joins"] = sum(count_nodes(plan, n) for n in JOIN_NODES)
    ctx.layer[f"plan.{op}.scans"] = (
        count_nodes(plan, "Scan") + count_nodes(plan, "BatchScan"))


def _kernels(ctx: Ctx, sf_dir: str) -> None:
    """The NumPy functions behind mapInArrow, called in-process on the
    generated embeddings as Arrow batches (one per Spark task share)."""
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    n_tasks = int(os.environ["SPARK_GRAFT_CPUS"])
    batches = emb.to_batches(max_chunksize=-(-emb.num_rows // n_tasks))
    kernels = {
        "exact_pairs": similarity._exact_pairs_kernel(sf_dir, similarity.TAU),
        "lsh": similarity._plsh_bucketize,
    }
    for name, fn in kernels.items():
        with ctx.tracer.span(f"kernel.{name}"):
            _, s = timed(lambda: sum(b.num_rows for b in fn(iter(batches))))
        ctx.layer[f"kernel.{name}.s"] = s


def _run_key(ctx: Ctx, op: str, key: str, sf_dir: str):
    """(collected result, seconds spent reading the plan).  The traced
    run reads the physical plan of the built frame before running it."""
    df = REGISTRY[key].builder(ctx.spark, sf_dir)
    plan_s = 0.0
    if ctx.traced:
        _, plan_s = timed(_plan_counts, ctx, op, df)
    return df.toPandas(), plan_s


def _pass(ctx: Ctx, sf_dir: str, outputs: dict[str, list]) -> None:
    for op, key in KEYS.items():
        with ctx.tracer.span(f"op.{op}", spark_calls=True) as span:
            t = time.perf_counter()
            ok, out = ctx.attempt(key, _run_key, ctx, op, key, sf_dir)
            plan_s = out[1] if ok else 0.0
            ctx.add(f"op.{op}", time.perf_counter() - t - plan_s)
        if span is not None:
            ctx.layer[f"op.{op}.jobs"] = span.jobs
            ctx.layer[f"op.{op}.tasks"] = span.tasks
        if ok:
            outputs[op].append(out[0])


def run(ctx: Ctx, inputs: dict) -> float:
    """Runs passes over the four keys until the measuring time is used;
    returns the first pass's wall time.  A pass of a fresh process is
    what a batch curation job pays, and one pass is most of the run's
    budget, so the first pass is measured rather than discarded."""
    sf_dir = inputs["dir"]
    outputs: dict[str, list] = {op: [] for op in OPS}
    first = run_passes(ctx, "corpus_batch.pass",
                       lambda n: _pass(ctx, sf_dir, outputs))
    _check(ctx, sf_dir, outputs)
    if ctx.traced:
        _kernels(ctx, sf_dir)
    return first


def _check(ctx: Ctx, sf_dir: str, outputs: dict[str, list]) -> None:
    con = oracle.connect(sf_dir)
    try:
        for op, key in KEYS.items():
            _, want = ctx.attempt(f"oracle {key}", lambda: con.execute(
                REGISTRY[key].oracle).fetchdf())
            for got in outputs[op]:
                ctx.attempt(f"{key} vs oracle", oracle.compare_frames,
                            got, want, key)
    finally:
        con.close()


def metrics(ctx: Ctx, inputs: dict) -> tuple[Work, dict]:
    S = ctx.samples
    dedup_s = sum(sum(S[f"op.{op}"]) for op in DEDUP_OPS)
    ann_s = sum(sum(S[f"op.{op}"]) for op in ANN_OPS)
    passes = len(S[f"op.{OPS[0]}"])
    docs = len(DEDUP_OPS) * gen.CORPUS_DOCS * passes
    vecs = len(ANN_OPS) * gen.CORPUS_VECTORS * passes
    wl = {
        "dedup_docs_per_s": (docs / dedup_s, passes),
        "ann_vectors_per_s": (vecs / ann_s, passes),
    }
    if ctx.traced:
        for op in OPS:
            ctx.layer[f"op.{op}.s"] = median(S[f"op.{op}"])
    # documents and vectors each key processed; every key is one operation
    keys = [x for op in OPS for x in S[f"op.{op}"]]
    work = Work(docs + vecs, dedup_s + ann_s, len(keys), keys)
    return work, wl
