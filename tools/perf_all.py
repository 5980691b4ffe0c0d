"""Time EVERY registry key at $SPARK_GRAFT_SF_DIR with the noop sink
(guide §1.4) and print one JSON object {key: seconds} sorted slowest
first.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/perf_all.py [n_runs]

Timings are per-key wall-clock of ``df.write.format("noop")`` after one
warm-up execution per key (plan cache + JIT), min of ``n_runs`` (default
2) — a ranking tool for finding hot keys, not a benchmark. Each key's
line also prints the median and every run, and the JSON carries every
run per key under ``runs``, so an A/B can read medians and quartiles
from one command. An optional second argument limits the run to a
comma-separated list of keys.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from netcdf4_variable_streamer_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    spark = get_spark("nvss-perf-all")
    spark.sparkContext.setLogLevel("ERROR")

    q = e.queries()
    if only:
        q = {k: q[k] for k in only}
    out: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    loads: dict[str, float] = {}
    errs: dict[str, str] = {}
    for i, (key, builder) in enumerate(q.items()):
        spark.sparkContext.setJobDescription(f"perf:{key}")
        loads[key] = os.getloadavg()[0]  # 1-min load at key start (r20 #10)
        try:
            builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # warm-up
            runs = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
            out[key] = round(min(runs), 4)
            all_runs[key] = [round(r, 4) for r in runs]
            print(
                f"[{i + 1}/{len(q)}] {key}: {out[key]:.3f}s "
                f"median {statistics.median(runs):.3f}s "
                f"runs {' '.join(f'{r:.3f}' for r in runs)}",
                flush=True,
            )
        except Exception as ex:  # noqa: BLE001
            errs[key] = f"{type(ex).__name__}: {ex}"
            print(f"[{i + 1}/{len(q)}] ERR {key}: {errs[key][:200]}", flush=True)
            traceback.print_exc(limit=3)

    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
    print(json.dumps({"sf_dir": sf_dir, "n": len(out), "errors": errs,
                      "total": round(sum(out.values()), 2),
                      "timings": ranked,
                      "runs": all_runs,
                      "load_1min_at_key_start": loads}))
    spark.stop()


if __name__ == "__main__":
    main()
