"""Graph analytics over similarity edges (B-10 adjacent).

PageRank-style score propagation over the embedding near-dup graph —
the pattern behind quality-signal propagation in web-scale corpus
curation (a page's quality informs its near-duplicates'). Iterative
algorithms on Spark are bounded rounds of (join + aggregate); transitive
connected components live in ``dedup.q_dedup_cc_clusters`` — this adds
the weighted-propagation variant.

Determinism across engines: every iteration uses INTEGER arithmetic at
1e-6 scale (`pr // deg`, `(85 * s) // 100`) — integer addition is
order-independent, so the distributed sum matches DuckDB's sequential
sum bit-for-bit, and the full 3-iteration pipeline is hash-checked (the
same reason dedup uses fixed-point: float += is order-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netcdf4_variable_streamer_spark.operators.dedup import (
    _EMB_PAIRS_CTE,
    _emb_pairs,
    _undirected_edges,
)
from netcdf4_variable_streamer_spark.registry import register
from netcdf4_variable_streamer_spark.tables import load_table, materialize_once

_N_ITER = 3
_PR0 = 1_000_000  # 1.0 at 1e-6 fixed point
_BASE = 150_000  # (1 - d) = 0.15


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT v.vec_id,
         CAST({_BASE} + (85 * COALESCE(SUM(p.pr // d.deg), 0)) // 100
              AS BIGINT) AS pr
  FROM v
  LEFT JOIN e ON e.dst = v.vec_id
  LEFT JOIN {prev} p ON p.vec_id = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY v.vec_id
)"""


@register(
    "q_graph_pagerank",
    oracle=f"""
WITH {_EMB_PAIRS_CTE},
e AS (SELECT v1 AS src, v2 AS dst FROM p
      UNION ALL SELECT v2, v1 FROM p),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
pr0 AS (SELECT vec_id, CAST({_PR0} AS BIGINT) AS pr FROM v),
{_pagerank_iter_sql('pr0', 'pr1')},
{_pagerank_iter_sql('pr1', 'pr2')},
{_pagerank_iter_sql('pr2', 'pr3')}
SELECT vec_id, pr FROM pr3
""",
    doc="PageRank (3 power iterations, damping 0.85) over the undirected "
        "cosine near-dup edge set: each round is one equi-join of the "
        "score vector with the edge list plus one keyed aggregation — "
        "the canonical iterative-algorithm shape on Spark (rounds are "
        "data-parallel; at scale, lineage is cut per round with "
        "localCheckpoint exactly as q_dedup_cc_clusters does, and the "
        "edge list comes from the LSH candidate generator instead of "
        "the exact pair join). Integer fixed-point per iteration makes "
        "the WHOLE 3-round pipeline engine-portable and hash-checked.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = _emb_pairs(spark, sf_dir)
    # every power iteration reads edges and deg
    edges = _undirected_edges(pairs)
    deg = materialize_once(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    pr = nodes.withColumn("pr", F.lit(_PR0).cast("long"))
    for _ in range(_N_ITER):
        contrib = (
            pr.join(edges, pr.vec_id == edges.src)
            .join(deg, "src")
            .select("dst", F.expr("pr div deg").alias("c"))
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = nodes.join(s, nodes.vec_id == s.dst, "left").select(
            "vec_id",
            (
                F.lit(_BASE)
                + F.expr("(85 * coalesce(s, 0)) div 100")
            )
            .cast("long")
            .alias("pr"),
        )
    return pr


_WEDGE_CAP = 16  # per-node neighbor-list cap before wedge expansion


def _jaccard_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.similarity import (
        PLSH_PAIRS_CTE,
    )

    return f"""
WITH {PLSH_PAIRS_CTE},
p AS (SELECT v1, v2 FROM lsh_pairs),
e_all AS (SELECT v1 AS src, v2 AS dst FROM p
          UNION ALL SELECT v2, v1 FROM p),
e AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM e_all) r
  WHERE rn <= {_WEDGE_CAP}
),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
wedges AS (
  SELECT e1.src AS a, e2.src AS b, COUNT(*) AS common
  FROM e e1 JOIN e e2 ON e2.dst = e1.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
)
SELECT p.v1, p.v2,
       COALESCE(w.common, 0) AS common,
       d1.deg AS deg1, d2.deg AS deg2,
       COALESCE(w.common, 0) * 1000000
         // (d1.deg + d2.deg - COALESCE(w.common, 0)) AS jacc_ppm
FROM p
LEFT JOIN wedges w ON w.a = p.v1 AND w.b = p.v2
JOIN deg d1 ON d1.src = p.v1
JOIN deg d2 ON d2.src = p.v2
"""


@register(
    "q_graph_jaccard_neighbors",
    oracle=_jaccard_oracle(),
    doc="Neighbor-set Jaccard similarity (link prediction / common-"
        "neighbors scoring) over the cosine near-dup graph: for every "
        "edge (a, b), |N(a) & N(b)| is counted by self-joining the edge "
        "list on the SHARED NEIGHBOR (wedge enumeration — join volume "
        f"is sum of deg(w)^2 over nodes), with every node's neighbor "
        f"list first DEGREE-CAPPED to its {_WEDGE_CAP} smallest "
        "neighbor ids (one row_number window) — the standard hub guard, "
        "since one degree-d hub otherwise contributes d^2 wedge rows "
        "and a single celebrity node dominates the whole shuffle. The "
        "cap bounds wedge volume at |V| * cap^2 regardless of skew; "
        "degrees and Jaccard = common / (deg(a) + deg(b) - common) are "
        "computed on the SAME capped sets (mirrored in the oracle), so "
        "the statistic is internally consistent and engine-identical. "
        "Emitted in integer ppm; denominator >= 1 because each endpoint "
        "keeps at least one neighbor. The edge set IS the LSH-bucketed "
        "pair generator (lsh_threshold_pairs, same as q_graph_triangles "
        "and q_dedup_cc_lsh) — never the exact quadratic pair join, so "
        "edge generation scales with true near-dup pairs; the cap is "
        "the knob that makes wedge "
        "enumeration skew-immune (plan-asserted in "
        "tests/test_plans.py::test_jaccard_neighbors_caps_degrees).",
)
def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from netcdf4_variable_streamer_spark.operators.similarity import (
        lsh_threshold_pairs,
    )

    # both edge directions and the final wedge join read the pairs
    pairs = materialize_once(
        lsh_threshold_pairs(spark, sf_dir).select("v1", "v2")
    )
    edges_all = pairs.select(
        F.col("v1").alias("src"), F.col("v2").alias("dst")
    ).unionAll(
        pairs.select(F.col("v2").alias("src"), F.col("v1").alias("dst"))
    )
    rn = F.row_number().over(Window.partitionBy("src").orderBy("dst"))
    edges = (
        edges_all.withColumn("rn", rn)
        .filter(F.col("rn") <= _WEDGE_CAP)
        .drop("rn")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e2.dst") == F.col("e1.dst"))
            & (F.col("e1.src") < F.col("e2.src")),
        )
        .groupBy(
            F.col("e1.src").alias("a"), F.col("e2.src").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    j = (
        pairs.join(
            wedges,
            (wedges.a == pairs.v1) & (wedges.b == pairs.v2),
            "left",
        )
        .join(deg.withColumnRenamed("src", "v1").withColumnRenamed(
            "deg", "deg1"), "v1")
        .join(deg.withColumnRenamed("src", "v2").withColumnRenamed(
            "deg", "deg2"), "v2")
    )
    return j.select(
        "v1",
        "v2",
        F.coalesce("common", F.lit(0)).alias("common"),
        "deg1",
        "deg2",
        F.expr(
            "coalesce(common, 0) * 1000000"
            " div (deg1 + deg2 - coalesce(common, 0))"
        ).alias("jacc_ppm"),
    )


def _triangles_oracle() -> str:
    from netcdf4_variable_streamer_spark.operators.similarity import (
        PLSH_PAIRS_CTE,
    )

    return f"""
WITH {PLSH_PAIRS_CTE},
e AS (SELECT v1 AS a, v2 AS b FROM lsh_pairs),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT COUNT(DISTINCT x) FROM
          (SELECT a AS x FROM e UNION SELECT b FROM e) u) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       tri.n_triangles
FROM tri
"""


@register(
    "q_graph_triangles",
    oracle=_triangles_oracle(),
    doc="Triangle counting over the cosine near-dup graph — the "
        "clustering-coefficient primitive of corpus graph analysis. "
        "Edges come from the LSH-bucketed pair generator (the production "
        "path — candidates via equi-join, exact-cosine verify, never "
        "all-pairs; LCG hyperplanes keep the edge set engine-portable so "
        "the DuckDB oracle reproduces it exactly). Counting uses the "
        "compact-forward algorithm: edges kept only in canonical (a < b) "
        "orientation, so each triangle a<b<c is counted exactly once by "
        "the 2-path join (a,b)x(b,c) probed against the edge set (a,c) — "
        "two equi-joins on vertex ids, 1/6 the join volume of the naive "
        "all-orientation count. The materialized edge set is "
        "localCheckpoint'd once (it feeds five plan branches — without "
        "the cut, Spark would re-run the LSH pipeline per branch). At "
        "100 TB-scale graphs the same plan holds with degree-ordered "
        "orientation (edge points low-degree -> high-degree) bounding "
        "2-path fan-out by sqrt(m); hub skew salts like "
        "q_join_skew_salted.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from netcdf4_variable_streamer_spark.operators.similarity import (
        lsh_threshold_pairs,
    )

    # both sides of the 2-path join and the closing-edge probe read e
    e = materialize_once(
        lsh_threshold_pairs(spark, sf_dir).select(
            F.col("v1").alias("a"), F.col("v2").alias("b")
        )
    )
    two_path = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e2.b").alias("c")
    )
    tri = two_path.alias("tp").join(
        e.alias("e3"),
        (F.col("tp.a") == F.col("e3.a")) & (F.col("tp.c") == F.col("e3.b")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = (
        e.select(F.col("a").alias("x"))
        .union(e.select(F.col("b").alias("x")))
        .agg(F.countDistinct("x").alias("n_nodes"))
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.crossJoin(edges).crossJoin(tri)


@register(
    "q_graph_bfs_reach",
    oracle="""
WITH m AS (SELECT MAX(c_custkey) AS mx FROM customer),
n AS (SELECT c_custkey AS k FROM customer),
e AS (SELECT k AS src, (2 * k) % mx AS dst FROM n CROSS JOIN m
      UNION ALL SELECT k, (2 * k + 1) % mx FROM n CROSS JOIN m),
f0 AS (SELECT k FROM n WHERE k <= 10),
f1 AS (SELECT DISTINCT dst AS k FROM e JOIN f0 ON e.src = f0.k
       WHERE dst NOT IN (SELECT k FROM f0)),
f2 AS (SELECT DISTINCT dst AS k FROM e JOIN f1 ON e.src = f1.k
       WHERE dst NOT IN (SELECT k FROM f0 UNION ALL SELECT k FROM f1)),
f3 AS (SELECT DISTINCT dst AS k FROM e JOIN f2 ON e.src = f2.k
       WHERE dst NOT IN (SELECT k FROM f0 UNION ALL SELECT k FROM f1
                         UNION ALL SELECT k FROM f2))
SELECT 0 AS dist, COUNT(*) AS n_nodes,
       CAST(SUM(k) AS BIGINT) AS sum_k FROM f0
UNION ALL SELECT 1, COUNT(*), CAST(SUM(k) AS BIGINT) FROM f1
UNION ALL SELECT 2, COUNT(*), CAST(SUM(k) AS BIGINT) FROM f2
UNION ALL SELECT 3, COUNT(*), CAST(SUM(k) AS BIGINT) FROM f3
""",
    doc="Multi-hop BFS reachability (bounded-depth traversal — the "
        "'friends of friends' / dependency-closure primitive): from a "
        "10-node seed set, three frontier expansions over a closed-form "
        "binary expander graph (k -> 2k mod M and 2k+1 mod M, so the "
        "DuckDB oracle regenerates the identical edge set). Each hop is "
        "ONE equi-join frontier-to-edges plus ONE left-anti join "
        "against the visited set — the frontier, not the graph, is the "
        "join's small side, so at 100 TB the per-hop cost tracks "
        "|frontier| x avg-degree, and the visited set stays "
        "key-partitioned across hops (same shuffle key every round, so "
        "AQE reuses the exchange). Depth is bounded and unrolled — no "
        "driver-side convergence loop; per-distance node counts and key "
        "sums are exact.",
)
def q_graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    mx = F.broadcast(n.agg(F.max("k").alias("mx")))
    e = (
        n.crossJoin(mx)
        .select(
            F.col("k").alias("src"),
            F.explode(
                F.array(
                    (2 * F.col("k")) % F.col("mx"),
                    (2 * F.col("k") + 1) % F.col("mx"),
                )
            ).alias("dst"),
        )
    )
    frontier = n.filter(F.col("k") <= 10)
    visited = frontier
    out = frontier.groupBy(F.lit(0).cast("long").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("k").alias("sum_k")
    )
    for hop in range(1, 4):
        frontier = (
            e.join(frontier, e.src == frontier.k, "semi")
            .select(F.col("dst").alias("k"))
            .distinct()
            .join(visited, "k", "left_anti")
        )
        visited = visited.unionAll(frontier)
        out = out.unionAll(
            frontier.groupBy(
                F.lit(hop).cast("long").alias("dist")
            ).agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.sum("k").alias("sum_k"),
            )
        )
    return out


_LP_ROUNDS = 2
_LP_PACK = 1 << 20  # pack = (1e6 - votes) * 2^20 + label


def _lp_round_sql(prev: str, out: str) -> str:
    return f"""
{out}_votes AS (
  SELECT e.dst AS v, p.lab, COUNT(*) AS votes
  FROM e JOIN {prev} p ON p.v = e.src
  GROUP BY e.dst, p.lab
),
{out} AS (
  SELECT n.v,
         COALESCE(MIN((1000000 - w.votes) * {_LP_PACK} + w.lab)
                  % {_LP_PACK}, n.lab) AS lab
  FROM {prev} n
  LEFT JOIN {out}_votes w ON w.v = n.v
  GROUP BY n.v, n.lab
)"""


@register(
    "q_graph_label_prop",
    oracle=f"""
WITH {_EMB_PAIRS_CTE},
e AS (SELECT v1 AS src, v2 AS dst FROM p
      UNION ALL SELECT v2, v1 FROM p),
l0 AS (SELECT vec_id AS v, vec_id AS lab FROM v),
{_lp_round_sql('l0', 'l1')},
{_lp_round_sql('l1', 'l2')}
SELECT v AS vec_id, CAST(lab AS BIGINT) AS community
FROM l2
""",
    doc="Community detection by majority-label propagation over the "
        "cosine near-dup graph: each of 2 rounds, every node adopts the "
        "label most frequent among its neighbors (votes DESC, label ASC "
        "tie-break via packed-MIN — deterministic where textbook LPA is "
        "famously order-dependent), isolated nodes keep their own. "
        "Unlike q_dedup_cc_clusters' min-label components (which merge "
        "everything reachable), majority voting respects local density "
        "— the community structure, not just connectivity. Each round "
        "is one vote aggregation + one label join, all keyed by node "
        "id; rounds are the bounded-iterative shape with lineage cut "
        "per round at scale.",
)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = _emb_pairs(spark, sf_dir)
    # each propagation round joins the edges again
    edges = _undirected_edges(pairs)
    lab = nodes.select(
        F.col("vec_id").alias("v"), F.col("vec_id").alias("lab")
    )
    for _ in range(_LP_ROUNDS):
        votes = (
            edges.join(lab, edges.src == lab.v)
            .groupBy(F.col("dst").alias("nv"), "lab")
            .agg(F.count(F.lit(1)).alias("votes"))
            .groupBy("nv")
            .agg(
                (
                    # packed vote-min bound guard (ADVICE r2): a label
                    # >= 2^20 or a vote count > 1e6 would silently
                    # corrupt the (votes DESC, label ASC) ordering, so
                    # the pack fails loudly out-of-bounds instead
                    F.min(
                        F.expr(
                            f"CASE WHEN lab >= {_LP_PACK} "
                            "OR votes > 1000000 THEN "
                            "CAST(raise_error('q_graph_label_prop: "
                            f"label >= {_LP_PACK} or votes > 1e6 "
                            "overflows the packed vote-min') AS BIGINT) "
                            f"ELSE (1000000 - votes) * {_LP_PACK} + lab "
                            "END"
                        )
                    )
                    % _LP_PACK
                ).alias("new_lab")
            )
        )
        lab = (
            lab.join(votes, lab.v == votes.nv, "left")
            .select(
                "v", F.coalesce("new_lab", "lab").alias("lab")
            )
        )
    return lab.select(
        F.col("v").alias("vec_id"), F.col("lab").cast("long").alias("community")
    )
