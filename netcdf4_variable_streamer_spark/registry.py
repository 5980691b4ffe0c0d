"""Central operator/query registry — the SURVEY.md §2 Table B contract.

Each engine operator registers one key here with a DataFrame builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) an equivalent
DuckDB oracle SQL string. ``__spark_entry__.py`` re-exports this registry
as the driver contract ``queries()`` / ``oracle_sql()``.

Hash-match hygiene (SURVEY.md §7.5) enforced by convention here:
- float SUM/AVG go through decimal-exact accumulation (see ``dsum``) so
  both engines produce bit-identical doubles;
- every computed column is aliased identically in builder and oracle;
- timestamps are emitted as canonical strings (no tz ambiguity);
- every ORDER BY/LIMIT and window order has a total deterministic key.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    key: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Repository root: the driver's per-round results live next to the package
# as CORRECTNESS_r<N>.json ({key: {"hash_match": bool, ...}}).
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CORRECTNESS = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def latest_checks(repo: str = _REPO) -> dict[str, tuple[int, bool]]:
    """{key: (round, green)} of each key's most recent driver check."""
    rounds = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(repo)
        if (m := _CORRECTNESS.match(f))
    )
    out: dict[str, tuple[int, bool]] = {}
    for rnd, f in rounds:
        with open(os.path.join(repo, f)) as fh:
            for k, v in json.load(fh).items():
                out[k] = (rnd, v.get("hash_match") is True)
    return out


def ordered_registry(repo: str = _REPO) -> dict[str, QuerySpec]:
    """REGISTRY in contract order. The external driver verifies keys in
    iteration order within a bounded per-round window, so the order is
    derived from its committed results: keys that failed their latest
    check first, then keys never checked, then green keys with the
    stalest check first; registration order breaks ties. Without
    results the order is registration order."""
    checks = latest_checks(repo)

    def rank(key: str) -> tuple[int, int]:
        if key not in checks:
            return 1, 0
        rnd, green = checks[key]
        return (2, rnd) if green else (0, 0)

    # sorted() is stable: registration order breaks ties
    return {k: REGISTRY[k] for k in sorted(REGISTRY, key=rank)}


def register(key: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query builder under ``key``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        REGISTRY[key] = QuerySpec(key, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Deterministic cross-engine numeric helpers.
#
# Summing doubles is order-dependent; Spark and DuckDB will disagree in the
# low bits and (at 1e8+ magnitudes) even past a 4-decimal rounding. And
# round() itself diverges between engines at representation ties (Spark
# rounds the double's shortest decimal repr via BigDecimal, DuckDB rounds
# the value by multiply-shift — 123.455 goes up in one and down in the
# other). The fix kills both at once: fixed-point integer accumulation.
#
#   SUM(FLOOR(expr * 1e6) AS LONG)            -- exact, order-independent
#   ... CAST AS DOUBLE / 1e6                  -- identical division, no round
#
# FLOOR of the identical per-row double is identical in both engines; the
# integer sum is exact; long→double conversion rounds identically. No
# round() anywhere, so no tie semantics to disagree on. Also ~6x faster
# than DECIMAL aggregation (measured: 0.32 s vs 1.9 s on sf0.1 q1) since
# the sum stays a 64-bit integer in whole-stage codegen.
#
# Capacity: |expr| < ~4e5 at scale 1e6 ⇒ ~2e7 rows/group per 2^63; at true
# 100 TB cardinalities switch the helper to two-level decimal(38) — the
# call sites don't change.
# ---------------------------------------------------------------------------

_FP = 1_000_000  # 6-decimal fixed point


def dsum(col: Column | str, scale: int | None = None) -> Column:
    """Order-independent SUM of a double column → double (exact fixed-point
    integer accumulation at 6 decimals; `scale` kept for API compat)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * _FP).cast("long")).cast("double") / _FP


def davg(col: Column | str, scale: int | None = None) -> Column:
    """Order-independent AVG: exact fixed-point sum / count → double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(F.floor(c * _FP).cast("long")).cast("double") / _FP / F.count(c)
    )


def SQL_DSUM(expr: str, scale: int | None = None) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        " / 1000000"
    )


def SQL_DAVG(expr: str, scale: int | None = None) -> str:
    return f"{SQL_DSUM(expr)} / COUNT({expr})"


def ts_str(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Canonical timestamp→string projection (UTC session; SURVEY §7.4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)
