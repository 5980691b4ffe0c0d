"""Registry/doc drift guards (VERDICT r2 "Next round" #7).

The driver's correctness window is the first 50 keys of
``ordered_registry()``, so that order is part of the external contract.
It is derived from the committed CORRECTNESS_r*.json files; these tests
check it against the policy, and pin every doc's claimed key count to
``len(REGISTRY)`` so the 188-vs-191 drift class cannot recur.
"""

from __future__ import annotations

import json
import os
import re

import netcdf4_variable_streamer_spark.operators  # noqa: F401
import netcdf4_variable_streamer_spark.sources  # noqa: F401
import netcdf4_variable_streamer_spark.streaming  # noqa: F401
from netcdf4_variable_streamer_spark.registry import (
    REGISTRY,
    ordered_registry,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_canonical_order_is_exactly_the_registry():
    """The contract order is a permutation of the registry, and the
    same on every call."""
    order = list(ordered_registry())
    assert sorted(order) == sorted(REGISTRY)
    assert len(set(order)) == len(order), "duplicates"
    assert list(ordered_registry()) == order


def _latest_checks() -> dict[str, tuple[int, bool]]:
    """{key: (round, hash_match)} of each key's most recent check."""
    pat = re.compile(r"CORRECTNESS_r(\d+)\.json$")
    latest: dict[str, tuple[int, bool]] = {}
    for fname in os.listdir(REPO):
        m = pat.match(fname)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(REPO, fname)) as f:
            for k, v in json.load(f).items():
                if k not in latest or latest[k][0] < rnd:
                    latest[k] = (rnd, v.get("hash_match") is True)
    return latest


def test_window_policy():
    """The derived order follows the rotation policy over every
    committed driver result: keys that FAILED their most recent check
    come first, then never-checked keys, then green keys with the
    stalest check first; registration order breaks ties."""
    latest = _latest_checks()
    position = {k: i for i, k in enumerate(REGISTRY)}

    def group(k):
        if k not in latest:
            return 1
        return 2 if latest[k][1] else 0

    order = list(ordered_registry())
    for a, b in zip(order, order[1:]):
        ga, gb = group(a), group(b)
        assert ga <= gb, f"{a} (group {ga}) before {b} (group {gb})"
        if ga != gb:
            continue
        ra = latest[a][0] if ga == 2 else 0
        rb = latest[b][0] if gb == 2 else 0
        assert ra <= rb, f"green {a} (r{ra}) before staler {b} (r{rb})"
        if ra == rb:
            assert position[a] < position[b], f"tie {a}, {b} not stable"


def test_order_without_results_is_registration_order(tmp_path):
    assert list(ordered_registry(str(tmp_path))) == list(REGISTRY)


def test_doc_key_counts_match_registry():
    """Every 'NNN contract keys' / 'NNN registry keys' claim in the docs
    must equal the live registry size — counts are asserted, not
    hand-maintained."""
    n = len(REGISTRY)
    pat = re.compile(r"(\d+)\s+(?:contract|registry)\s+keys")
    found_any = False
    for doc in ("README.md", "SURVEY.md", "SCALE.md"):
        text = open(os.path.join(REPO, doc)).read()
        for m in pat.finditer(text):
            found_any = True
            assert int(m.group(1)) == n, (
                f"{doc} claims {m.group(1)} keys; registry has {n}"
            )
    assert found_any, "no key-count claims found in docs"


def test_scale_appendix_covers_every_key():
    """SCALE.md's per-key class appendix must mention every registry key
    — a key without a scale classification is an unreviewed key."""
    text = open(os.path.join(REPO, "SCALE.md")).read()
    appendix = text[text.index("## Appendix") :]
    missing = [k for k in REGISTRY if f"`{k}`" not in appendix]
    assert not missing, f"keys without a scale class: {missing}"


def test_datasource_builders_apply_runtime_confs():
    """Every Python-DataSource registration must be immediately
    preceded by apply_runtime_confs(spark): the driver hands builders
    a PLAIN session, and pushFilters-implementing sources hard-fail
    unless spark.sql.python.filterPushdown.enabled is set at runtime.
    Round 5's exhaustive drive caught 4 window keys failing exactly
    this way when a netcdf key ran FIRST on a fresh session."""
    pkg = os.path.join(REPO, "netcdf4_variable_streamer_spark")
    bad = []
    for rel in ("sources/queries.py", "streaming/queries.py"):
        lines = open(os.path.join(pkg, rel)).read().split("\n")
        for i, line in enumerate(lines):
            if "spark.dataSource.register(" not in line:
                continue
            prev = [x for x in lines[:i] if x.strip()][-1]
            if (
                "apply_runtime_confs" not in prev
                and "dataSource.register" not in prev
            ):
                bad.append(f"{rel}:{i + 1}")
    assert not bad, (
        f"dataSource.register without apply_runtime_confs before it: {bad}"
    )


def test_codegen_cache_holds_a_loop_of_plans():
    """The static codegen class cache is sized so that a streaming
    loop's repeated micro-batch plans stay compiled (the default 100
    evicts them between batches)."""
    from netcdf4_variable_streamer_spark.session import BUILD_CONFS

    assert int(BUILD_CONFS["spark.sql.codegen.cache.maxEntries"]) >= 1024


def test_driver_memory_sized_to_box(tmp_path):
    """spark.driver.memory is half the box's MemTotal, capped at 16g:
    the session never asks for more heap than the box has."""
    from netcdf4_variable_streamer_spark.session import (
        BUILD_CONFS,
        _driver_memory,
    )

    def mib(v: str) -> int:
        return int(v[:-1]) * (1024 if v.endswith("g") else 1)

    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(x.split()[1]) for x in f if x.startswith("MemTotal:")
            )
        assert mib(BUILD_CONFS["spark.driver.memory"]) * 1024 <= total_kb
    for total_gib, want_mib in ((64, 16384), (32, 16384), (8, 4096)):
        meminfo = tmp_path / f"meminfo_{total_gib}"
        meminfo.write_text(
            f"MemTotal:       {total_gib * 1024 * 1024} kB\n"
            "MemFree:        1024 kB\n"
        )
        assert mib(_driver_memory(str(meminfo))) == want_mib
    assert _driver_memory(str(tmp_path / "missing")) == "16g"
