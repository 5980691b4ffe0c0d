"""Capture and assert on Catalyst physical plans.

``plan_string`` returns what ``df.explain(mode)`` prints (classic PySpark:
``PythonSQLUtils.explainString`` on the query execution — see
``[pyspark] sql/classic/dataframe.py:269``). ``executed_plan_string``
returns the *final* AQE plan, which only exists after an action has run.

These are assertion helpers for tests, not a user API: they parse the
explain text (the only stable surface pure PySpark exposes — plan nodes
are JVM-private), so matches are substring-based on node names that have
been stable across Spark 3.x/4.x (``Exchange``, ``BroadcastHashJoin``,
``CartesianProduct``, ``WholeStageCodegen``, ``PushedFilters``).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from netcdf4_variable_streamer_spark.registry import REGISTRY


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text, pre-execution (AQE not yet finalized)."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


def executed_plan_string(df: DataFrame, run: bool = True) -> str:
    """The executed (post-AQE) plan; triggers ``collect()`` unless run=False.

    ``collect`` (not ``count``): count builds a *separate* query execution,
    leaving this plan's AdaptiveSparkPlan un-finalized. Executing the df's
    own plan mutates its QueryExecution in place, so the string read
    afterwards is the true final plan."""
    if run:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def analyzed_plan_string(df: DataFrame) -> str:
    """The analyzed LOGICAL plan — works for streaming DataFrames too
    (their physical plan only exists inside a started query), which is
    where watermark (`EventTimeWatermark`) nodes are asserted."""
    return df._jdf.queryExecution().analyzed().toString()


def count_nodes(plan: str, node: str) -> int:
    """Count plan-tree occurrences of a node name (word-boundary match).

    ``formatted`` explain output repeats every node in a detail section
    (``(5) Exchange``); when those numbered headers are present, count only
    them so each node is counted once."""
    headers = re.findall(r"^\(\d+\)\s+(\S+)", plan, re.M)
    if headers:
        return sum(1 for h in headers if h == node)
    return len(re.findall(rf"\b{re.escape(node)}\b", plan))


# The plan nodes the committed shape table counts per key: every shuffle,
# every join strategy Spark can choose for an equi or non-equi join, and
# every window pass.
SHAPE_NODES = (
    "Exchange",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "Window",
)


def shape_table(
    spark: SparkSession, sf_dir: str, keys: Iterable[str] | None = None
) -> dict[str, list[int]]:
    """{key: [count of each SHAPE_NODES]} in the pre-execution formatted
    plan of each registry key built at ``sf_dir``. ``keys`` defaults to
    every batch key: all registered keys but the streaming (``q_stream_``),
    source (``src_``) and sink (``snk_``) ones, whose plans only exist
    inside a started query or a write."""
    if keys is None:
        keys = sorted(
            k for k in REGISTRY if not k.startswith(("q_stream_", "src_", "snk_"))
        )
    table = {}
    for key in keys:
        plan = plan_string(REGISTRY[key].builder(spark, sf_dir))
        table[key] = [count_nodes(plan, node) for node in SHAPE_NODES]
    return table


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    """Every ``needle`` column must appear inside a PushedFilters: [...] list
    of some scan — i.e. the predicate reached the parquet reader and will
    prune row groups / pages at 100 TB instead of filtering post-scan."""
    plan = plan_string(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    for needle in needles:
        assert needle in pushed, (
            f"filter on {needle!r} not pushed to any scan.\n"
            f"Pushed lists found: {pushed or '<none>'}"
        )


def assert_read_schema_excludes(df: DataFrame, *cols: str) -> None:
    """Column pruning check: no scan's ReadSchema may contain ``cols``."""
    plan = plan_string(df)
    schemas = " ".join(re.findall(r"ReadSchema: \S+", plan))
    for col in cols:
        assert f"{col}:" not in schemas, (
            f"column {col!r} is read from disk but unused — pruning failed.\n"
            f"ReadSchemas: {schemas}"
        )


def assert_broadcast_joins(df: DataFrame, at_least: int = 1) -> None:
    """At least N joins chose a broadcast strategy (hash or nested-loop) —
    i.e. no full shuffle of the big side for provably-small build sides."""
    plan = plan_string(df)
    n = count_nodes(plan, "BroadcastHashJoin") + count_nodes(
        plan, "BroadcastNestedLoopJoin"
    )
    assert n >= at_least, (
        f"expected >= {at_least} broadcast join(s), found {n}.\n{plan}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    """No CartesianProduct node: an unconstrained cross join is never the
    plan we want at scale (BroadcastNestedLoopJoin with a small broadcast
    side is the acceptable non-equi form)."""
    plan = plan_string(df)
    assert count_nodes(plan, "CartesianProduct") == 0, (
        f"plan contains CartesianProduct:\n{plan}"
    )


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    """Shuffle budget: at most ``n`` Exchange nodes in the initial plan.

    Every Exchange is a full network rewrite of its input at cluster
    scale; a query that shuffles more times than its algebra requires is
    wrong even when it is fast at sf0.1."""
    plan = plan_string(df)
    # count_nodes matches exact node headers, so 'ReusedExchange' nodes are
    # already NOT counted as 'Exchange' — no subtraction (subtracting them
    # made the budget too lenient and could go negative).
    found = count_nodes(plan, "Exchange")
    assert found <= n, f"expected <= {n} shuffles, found {found}.\n{plan}"


def assert_wholestage_codegen(df: DataFrame) -> None:
    """The plan has at least one WholeStageCodegen span (the hot path is
    JVM-generated code, not interpreted row-at-a-time evaluation).

    Under AQE the spans only exist in the finalized plan, so this runs the
    query (cheap at test scale) and inspects the executed plan."""
    plan = executed_plan_string(df)
    assert "WholeStageCodegen" in plan or "*(" in plan, (
        f"no WholeStageCodegen span in executed plan:\n{plan}"
    )
