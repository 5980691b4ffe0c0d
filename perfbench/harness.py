"""Run context shared by the workloads: Spark session, tracer, operation
accounting and timing samples, plus the metric catalogue."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer

# End-to-end metrics: every workload reports all of them (README.md,
# "End-to-end metrics", gives their meaning on each workload).
# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ok_frac": ("ratio", "higher"),
    "worker_peak_rss_mb": ("MB", "lower"),
    "items_per_s": ("1/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
}

# The workload metrics the benchmark was specified with, printed by name
# on the report line of each run.  Each folds into one end-to-end metric
# above on its workload.
# name -> (unit, end-to-end metric, workload)
WORKLOAD_METRICS = {
    "setup_s": ("s", "setup_s", "all"),
    "failed_frac": ("ratio", "ok_frac", "all"),
    "worker_peak_rss_mb": ("MB", "worker_peak_rss_mb", "all"),
    "write_mb_per_s": ("MB/s", "items_per_s", "array_io"),
    "chunk_cells_per_s": ("cells/s", "items_per_s", "array_io"),
    "nc3_cells_per_s": ("cells/s", "items_per_s", "array_io"),
    "nc4_cells_per_s": ("cells/s", "items_per_s", "array_io"),
    "slab_p50_s": ("s", "op_p50_s", "array_io"),
    "dedup_docs_per_s": ("docs/s", "items_per_s", "corpus_crawl"),
    "ann_vectors_per_s": ("vec/s", "items_per_s", "corpus_crawl"),
    "stream_docs_per_s": ("docs/s", "items_per_s", "corpus_crawl"),
    "batch_p50_s": ("s", "op_p50_s", "corpus_crawl"),
    "write_amp": ("ratio", "write_amp", "corpus_crawl"),
}

FMTS = ("chunk", "nc3", "nc4")
OPS = ("exact_dedup", "near_minhash", "threshold_pairs", "lsh_pairs")
LOOPS = ("crawl", "curate")


def _per_layer() -> dict[str, tuple[str, str]]:
    """name -> (unit, workload metric it should move).  The workload is
    that metric's workload (WORKLOAD_METRICS); on the other workloads
    the layer is bypassed and the metric reads 0."""
    m: dict[str, tuple[str, str]] = {}
    for name in ("import_s", "start_s"):
        m[f"session.{name}"] = ("s", "setup_s")
    # the first pass is measured; its cost over later passes is warm-up
    m["session.first_pass_s"] = ("s", "items_per_s")
    for f in FMTS:
        cells = f"{f}_cells_per_s"
        m[f"codec.{f}.decode_s"] = ("s", cells)
        m[f"codec.{f}.bytes_on_disk"] = ("bytes", cells)
        m[f"codec.{f}.encode_s"] = ("s", "write_mb_per_s")
        m[f"ds.{f}.partitions"] = ("count", cells)
        m[f"ds.{f}.batches"] = ("count", cells)
        m[f"ds.{f}.read_s"] = ("s", cells)
        m[f"ds.{f}.slab_kept_frac"] = ("ratio", "slab_p50_s")
        m[f"spark.{f}.noop_s"] = ("s", cells)
        m[f"spark.{f}.agg_s"] = ("s", cells)
    m["spark.parquet.noop_s"] = ("s", "chunk_cells_per_s")
    for op, moves in zip(OPS, ("dedup_docs_per_s",) * 2
                         + ("ann_vectors_per_s",) * 2):
        m[f"op.{op}.s"] = ("s", moves)
        m[f"op.{op}.jobs"] = ("count", moves)
        m[f"op.{op}.tasks"] = ("count", moves)
        for node in ("exchanges", "joins", "scans"):
            m[f"plan.{op}.{node}"] = ("count", moves)
    m["kernel.exact_pairs.s"] = ("s", "ann_vectors_per_s")
    m["kernel.lsh.s"] = ("s", "ann_vectors_per_s")
    for loop in LOOPS:
        m[f"stream.{loop}.bytes_first"] = ("bytes", "write_amp")
        m[f"stream.{loop}.bytes_last"] = ("bytes", "write_amp")
        m[f"stream.{loop}.jobs_per_batch"] = ("count", "batch_p50_s")
        m[f"stream.{loop}.trigger_overhead_ms"] = ("ms", "batch_p50_s")
        m[f"stream.{loop}.dup_frac"] = ("ratio", "diagnostic")
    m["jvm.peak_rss_mb"] = ("MB", "diagnostic")
    return m


PER_LAYER = _per_layer()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (or of ``path``)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


@dataclass
class Work:
    """What one part of a workload did: items processed by ``busy_n``
    operations in ``busy_s`` wall seconds, the latency of each of its
    unit operations, and the bytes it wrote for ``bytes_in`` bytes of
    user data."""

    items: float
    busy_s: float
    busy_n: int
    op_s: list[float]
    bytes_written: float = 0.0
    bytes_in: float = 0.0


@dataclass
class Ctx:
    """What a workload needs from the run, and what it records."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)  # traced run only

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def attempt(self, what: str, fn, *args, **kwargs) -> tuple[bool, object]:
        """Run one counted operation: (True, result), or (False, None)
        when it raised.  A failure is counted, reported on stderr, and
        the run goes on."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:  # any failure of the operation is a result
            self.failed += 1
            self.failures.append(what)
            print(f"FAILED {what}\n{traceback.format_exc()}",
                  file=sys.stderr)
            return False, None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Count one output check; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"CHECK FAILED {what}: {detail}", file=sys.stderr)


def run_passes(ctx: Ctx, name: str, one_pass) -> float:
    """Call ``one_pass(n)`` for n = 0, 1, ... until ``ctx.seconds`` have
    passed, at least once; returns the first pass's wall time."""
    end = time.perf_counter() + ctx.seconds
    n, first = 0, None
    while first is None or time.perf_counter() < end:
        with ctx.tracer.span(name):
            _, s = timed(one_pass, n)
        first = s if first is None else first
        n += 1
    return first


def timed(fn, *args, **kwargs):
    """(result, wall seconds) of one call."""
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t
