"""Benchmark entry point.

    python3 perfbench/run.py --workload array_io --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
``--seed``, runs them through the package's public entry points in
passes until at least ``--seconds`` seconds have been measured (one pass
at the least), checks every output, and
prints two JSON lines: a report (box record, every workload metric with
its unit and sample count, warm-up cost, span self times when traced)
and, last, the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps) in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload -> the parts it runs, in order; each part is a module with
# prepare(out_dir, seed), run(ctx, inputs), metrics(ctx, inputs) and
# optionally prime(spark, work)
WORKLOADS = {
    "array_io": ("array_io",),
    "corpus_crawl": ("corpus_batch", "crawl_stream"),
}
SETUPS = 3  # input preparations per run; setup_s takes their median


def _pin_box(work: str) -> None:
    """One Spark core per CPU this process may use, and every scratch
    path (Spark local dirs, the engine's scratch, temp files, JVM temp)
    inside the run's own work directory."""
    for sub in ("local", "scratch", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        with open(os.path.join(ROOT, ".git", head[5:])) as f:
            return f.read().strip()
    except OSError:  # not a git checkout
        return None


def _src_sha() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "netcdf4_variable_streamer_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _box(args) -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load1_start": os.getloadavg()[0],
        "cpu_ticks_start": _cpu_ticks(),
        "ram_mb": ram_kb // 1024,
        "git_sha": _git_sha(),
        "src_sha": _src_sha(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _prime(spark) -> None:
    """The first Spark job of a process and its first Python worker pay
    one-time costs (class loading, code generation, worker start); run
    both once on a tiny input so that they count in session start, not
    in the first measured operation."""
    spark.range(1000).mapInArrow(lambda it: it, "id long").collect()


def _ready_session(spark, work: str, parts) -> None:
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        NetCDF3DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
        NetCDF4DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        NetCDFChunkDataSource,
    )

    spark.sparkContext.setLogLevel("ERROR")
    for ds in (NetCDFChunkDataSource, NetCDF3DataSource, NetCDF4DataSource):
        spark.dataSource.register(ds)
    _prime(spark)
    for part in parts:  # a part may pay one-time costs of its own layers
        if hasattr(part, "prime"):
            part.prime(spark, work)


def _prepare(parts, work: str, seed: int) -> tuple[list, list[float]]:
    """Prepare every part's inputs SETUPS times into fresh directories;
    keep the first set.  Returns (inputs per part, seconds per setup)."""
    times, kept = [], None
    for i in range(SETUPS):
        out = os.path.join(work, f"inputs{i}")
        t = time.perf_counter()
        inputs = [p.prepare(os.path.join(out, p.__name__), seed) for p in parts]
        times.append(time.perf_counter() - t)
        if i == 0:
            kept = inputs
        else:
            shutil.rmtree(out)
    return kept, times


def _measure(args, work: str) -> tuple[dict, dict]:
    import harness
    from spans import RssSampler, Tracer

    parts = [importlib.import_module(m) for m in WORKLOADS[args.workload]]
    import_s = time.perf_counter() - T_START
    from netcdf4_variable_streamer_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    try:
        _ready_session(spark, work, parts)
        start_s = time.perf_counter() - t
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(run_id, enabled=bool(args.trace))
        tracer.sc = spark.sparkContext
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        try:
            inputs, preps = _prepare(parts, work, args.seed)
            ctx = harness.Ctx(spark, tracer, args.seed, args.seconds)
            t = time.perf_counter()
            first_pass_s = sum(p.run(ctx, i) for p, i in zip(parts, inputs))
            run_s = time.perf_counter() - t
            done = [p.metrics(ctx, i) for p, i in zip(parts, inputs)]
        finally:
            sampler.stop()
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t

    fail_frac = ctx.failed / max(ctx.attempted, 1)
    ops = [x for work_done, _ in done for x in work_done.op_s]
    e2e = {
        "setup_s": (import_s + start_s + harness.median(preps), SETUPS),
        "ok_frac": (1.0 - fail_frac, ctx.attempted),
        "worker_peak_rss_mb": (sampler.worker_kb / 1024, 1),
        "items_per_s": (sum(w.items for w, _ in done)
                        / sum(w.busy_s for w, _ in done),
                        sum(w.busy_n for w, _ in done)),
        "op_p50_s": (harness.median(ops), len(ops)),
        # bytes the workload's writers put on disk per byte of user data
        "write_amp": (sum(w.bytes_written for w, _ in done)
                      / sum(w.bytes_in for w, _ in done),
                      sum(w.busy_n for w, _ in done if w.bytes_in)),
    }
    wl_metrics = {k: v for _, wl in done for k, v in wl.items()}
    wl_metrics["setup_s"] = e2e["setup_s"]
    wl_metrics["failed_frac"] = (fail_frac, ctx.attempted)
    wl_metrics["worker_peak_rss_mb"] = e2e["worker_peak_rss_mb"]

    layer = {name: 0.0 for name in harness.PER_LAYER}
    layer.update(ctx.layer)
    layer["session.import_s"] = import_s
    layer["session.start_s"] = start_s
    layer["session.first_pass_s"] = first_pass_s
    layer["jvm.peak_rss_mb"] = sampler.jvm_kb / 1024

    report = {
        "workload_metrics": {
            k: {"value": v, "unit": harness.WORKLOAD_METRICS[k][0], "n": n}
            for k, (v, n) in wl_metrics.items()
        },
        "end_to_end": {
            k: {"value": v, "unit": harness.END_TO_END[k][0], "n": n}
            for k, (v, n) in e2e.items()
        },
        "setup_prep_s": preps,
        "stop_s": stop_s,
        "run_s": run_s,
        "first_pass_s": first_pass_s,
        "failures": ctx.failures,
    }
    if tracer.enabled:
        report["span_self_s"] = tracer.self_times()
        path = os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.json")
        tracer.dump(path)
        report["spans_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": v, "unit": harness.PER_LAYER[k][0]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u}
                   for k, (u, _) in harness.END_TO_END.items()}
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    return report, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_box(work)
    box = _box(args)
    try:
        report, result = _measure(args, work)
    except Exception:  # no result line: the run could not be measured
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    box["load1_end"] = os.getloadavg()[0]
    # share of CPU time the hypervisor gave to other guests during the run
    d = [b - a for a, b in zip(box.pop("cpu_ticks_start"), _cpu_ticks())]
    box["steal_frac"] = d[7] / max(sum(d), 1)
    report["box"] = box
    report["wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
