"""Tests of the benchmark itself: seeded inputs repeat byte for byte,
BENCHMARK.json names exactly the metrics the harness prints, and the
count metrics of a traced run repeat exactly for a fixed seed.

    python3 -m pytest perfbench/ -q

The count test runs each workload twice (about five minutes on four
cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_inputs(tmp_path):
    for run in ("a", "b"):
        gen.write_tables(7, str(tmp_path / run / "tables"))
        gen.write_feed(7, str(tmp_path / run / "feed"))
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a and a == b
    g1, g2 = gen.grid(7), gen.grid(7)
    assert all(np.array_equal(g1[v], g2[v]) for v in gen.GRID_VARS)


def test_other_seed_other_inputs(tmp_path):
    gen.write_feed(7, str(tmp_path / "a"))
    gen.write_feed(8, str(tmp_path / "b"))
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "b"))


def test_planted_duplicate_shares():
    docs = gen.documents(7, 2000).to_pandas()
    exact = docs["text"].duplicated().mean()
    assert abs(exact - gen.EXACT_DUP_SHARE) < 0.03


def test_benchmark_json_matches_catalogue():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]}
    assert e2e == harness.END_TO_END
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert layer == {k: v[0] for k, v in harness.PER_LAYER.items()}
    import run

    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


# Counts that must repeat exactly for a fixed seed (per-layer names).
COUNT_PREFIXES = ("stream.", "op.", "plan.", "ds.")
COUNT_SUFFIXES = (".bytes_first", ".bytes_last", ".jobs", ".partitions",
                  ".slab_kept_frac", ".exchanges", ".joins", ".scans")


def _traced(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


@pytest.mark.parametrize("workload", ["array_io", "corpus_crawl"])
def test_counts_repeat(workload):
    (rep1, res1), (rep2, res2) = _traced(workload, 5), _traced(workload, 5)
    assert res1["correct"] and res2["correct"]

    def counts(res):
        return {k: v["value"] for k, v in res["metrics"].items()
                if k.startswith(COUNT_PREFIXES) and k.endswith(COUNT_SUFFIXES)}

    assert counts(res1) == counts(res2)
    assert any(counts(res1).values())
    amp = [r["end_to_end"]["write_amp"]["value"] for r in (rep1, rep2)]
    assert amp[0] == amp[1] > 0
