"""Hierarchy flattening and privacy auditing (warehouse side-operators).

``q_hierarchy_flatten`` builds the FULL ancestor CLOSURE of a tree —
the materialization behind org-chart rollups, BOM explosions, and
category-path filters. Spark has no recursive CTE, so the closure is
self-join rounds iterated TO CONVERGENCE: each round extends the
frontier one level, and the loop stops when the frontier is empty (one
bounded scalar — the frontier count — reaches the driver per round,
the same pattern as ``q_dedup_cc_clusters``' label-sum fixpoint). No
depth constant anywhere, so arbitrarily deep hierarchies are exact;
the DuckDB oracle is the real unbounded ``WITH RECURSIVE``.

``q_privacy_k_anonymity`` is the release-gate audit: group sizes over a
quasi-identifier tuple, rows in groups smaller than k flagged for
suppression — one aggregation, the privacy twin of
q_validate_constraints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.registry import register
from netcdf4_variable_streamer_spark.tables import load_table, materialize_once

_FANOUT = 3  # parent(c) = c div 3 — a deterministic ternary tree
_MAX_ROUNDS = 64  # safety bound >> log_3 of any realistic key domain
_K_ANON = 5


@register(
    "q_hierarchy_flatten",
    oracle=f"""
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS node, c_custkey // {_FANOUT} AS parent
  FROM customer
),
anc(node, anc, depth) AS (
  SELECT node, parent, 1 FROM nodes WHERE parent > 0
  UNION ALL
  SELECT a.node, n.parent, a.depth + 1
  FROM anc a JOIN nodes n ON n.node = a.anc
  WHERE n.parent > 0
)
SELECT node, anc, CAST(depth AS BIGINT) AS depth FROM anc
""",
    doc="FULL (unbounded-depth) ancestor closure of a ternary tree over "
        "customer keys (parent = key div 3): every (node, ancestor, "
        "depth) pair, the materialized path table hierarchies are "
        "queried through — depth reaches 6+ even at sf0.01, 10+ at "
        "sf0.1. Spark side: self-joins on the parent edge set iterated "
        "TO CONVERGENCE — each round one keyed equi-join extending the "
        "frontier one level, lineage cut per round (localCheckpoint), "
        "loop exits when the frontier count (one bounded scalar per "
        "round) hits zero, exactly the q_dedup_cc_clusters fixpoint "
        "pattern. No depth constant: any-depth hierarchies are exact, "
        "and the oracle is the genuine UNBOUNDED WITH RECURSIVE, so the "
        "iterated plan is proven equal to true recursive semantics. At "
        "100 TB closure size is nodes x depth (linear for trees); "
        "rounds are O(tree height) and each reuses the same parent-key "
        "partitioning.",
)
def q_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _closure(spark, sf_dir).select(
        "node", "anc", F.col("depth").cast("long")
    )


def _closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (node, anc, depth) ancestor closure of the ternary tree over
    customer keys, by frontier iteration to convergence."""
    c = load_table(spark, sf_dir, "customer")
    nodes = c.select(
        F.col("c_custkey").alias("node"),
        F.expr(f"c_custkey div {_FANOUT}").alias("parent"),
    )
    edges = nodes.filter(F.col("parent") > 0)
    # each frontier is read by the driver's emptiness probe, the next
    # round and the final union; parents by every round
    frontier = materialize_once(
        edges.select(
            "node", F.col("parent").alias("anc"), F.lit(1).alias("depth")
        )
    )
    parents = materialize_once(
        nodes.select(
            F.col("node").alias("anc"), F.col("parent").alias("next_anc")
        )
    )
    closures = [frontier]
    for _ in range(_MAX_ROUNDS):
        frontier = materialize_once(
            frontier.join(parents, "anc")
            .filter(F.col("next_anc") > 0)
            .select(
                "node",
                F.col("next_anc").alias("anc"),
                (F.col("depth") + 1).alias("depth"),
            )
        )
        if frontier.isEmpty():  # bounded scalar per round
            break
        closures.append(frontier)
    else:
        raise RuntimeError(
            f"hierarchy did not converge in {_MAX_ROUNDS} rounds"
        )
    out = closures[0]
    for fr in closures[1:]:
        out = out.unionByName(fr)
    return out


@register(
    "q_hierarchy_rollup",
    oracle=f"""
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS node, c_custkey // {_FANOUT} AS parent,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
anc(node, anc) AS (
  SELECT node, parent FROM nodes WHERE parent > 0
  UNION ALL
  SELECT a.node, n.parent
  FROM anc a JOIN nodes n ON n.node = a.anc
  WHERE n.parent > 0
),
d AS (
  SELECT a.anc, COUNT(*) AS n_desc, SUM(n.cents) AS desc_cents
  FROM anc a JOIN nodes n ON n.node = a.node
  GROUP BY a.anc
)
SELECT o.node AS anc,
       COALESCE(d.n_desc, 0) AS n_desc,
       CAST(o.cents + COALESCE(d.desc_cents, 0) AS BIGINT) AS subtree_cents
FROM nodes o LEFT JOIN d ON d.anc = o.node
""",
    doc="Subtree ROLLUP over the ancestor closure — the consumer the "
        "closure exists for (BOM cost explosion, org headcount, "
        "category revenue): every node's subtree total = its own "
        "balance cents + the sum over ALL transitive descendants, "
        "computed as closure ⋈ per-node measure → one anc-keyed "
        "aggregation → back-join of each node's own measure. Leaves "
        "surface with n_desc = 0 (the left-join contract). Integer "
        "cents keep the sums engine-exact; the oracle recomputes "
        "through the genuine recursive CTE. At 100 TB the rollup costs "
        "one |closure|-sized keyed agg (closure is nodes x depth, "
        "linear for trees) — no per-level repeated scans.",
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cents = c.select(
        F.col("c_custkey").alias("node"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    clo = _closure(spark, sf_dir)
    d = (
        clo.join(cents, "node")
        .groupBy("anc")
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            F.sum("cents").alias("desc_cents"),
        )
    )
    own = cents.withColumnRenamed("node", "anc")
    return own.join(d, "anc", "left").select(
        "anc",
        F.coalesce("n_desc", F.lit(0)).cast("long").alias("n_desc"),
        (F.col("cents") + F.coalesce("desc_cents", F.lit(0)))
        .cast("long")
        .alias("subtree_cents"),
    )


@register(
    "q_privacy_k_anonymity",
    oracle=f"""
WITH qi AS (
  SELECT c_mktsegment AS segment, c_nationkey AS nation,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         COUNT(*) AS group_size
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT segment, nation, bal_bucket, group_size,
       group_size >= {_K_ANON} AS meets_k,
       CASE WHEN group_size >= {_K_ANON} THEN 0
            ELSE group_size END AS rows_to_suppress
FROM qi
""",
    doc=f"k-anonymity audit (k={_K_ANON}) over the quasi-identifier "
        "tuple (market segment, nation, $1000 balance bucket): any "
        "group smaller than k re-identifies its members and is flagged "
        "with its suppression cost. One hash aggregation — the privacy "
        "release gate that runs before every data publish, shaped "
        "exactly like q_validate_constraints. At 100 TB the group "
        "count is bounded by the QI domain product, not the row count.",
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    meets = F.col("group_size") >= _K_ANON
    return qi.select(
        "segment",
        "nation",
        "bal_bucket",
        "group_size",
        meets.alias("meets_k"),
        F.when(meets, 0).otherwise(F.col("group_size"))
        .cast("long")
        .alias("rows_to_suppress"),
    )
