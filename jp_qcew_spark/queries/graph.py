"""Graph analytics over DataFrames — iterative algorithms expressed as
joins + aggregations per superstep (the same execution shape GraphX/Pregel
lowers to; reference has no graph surface, this is engine extension tier
alongside dedup_components).

Scale notes: each PageRank superstep is one co-partitioned equi-join
(ranks ⋈ edges on src — both sides hash-partitioned on the same key, AQE
reuses the exchange) plus one aggregation shuffle on dst.  Ranks (one row
per node) are persisted per iteration so superstep k doesn't recompute
k-1; for long runs ``localCheckpoint`` truncates the lineage the same way
dedup_components does.  Edge skew (a supplier in every order) is bounded
by the out-degree normalization join being on the *src* side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result, track_cache

_DAMP = 0.85
_ITERS = 3


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed supersteps) over the bipartite
    customer→supplier graph induced by orders: an edge c→s whenever any of
    c's orders contains a lineitem supplied by s.

    Node ids are namespaced ('c:123' vs 's:123' — custkey and suppkey
    overlap numerically).  Simplified dangling-mass semantics (suppliers
    have no out-edges; their mass is not redistributed) — pinned identically
    in the oracle, which unrolls the same three supersteps as chained CTEs,
    so the hash-compare proves the iterative DataFrame loop reproduces the
    closed-form SQL to 6 decimals."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = track_cache(edges)
    nodes = track_cache(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edeg = track_cache(edges.join(outdeg, "src"))

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    base = (1.0 - _DAMP) / n_nodes
    for _ in range(_ITERS):
        contribs = (
            edeg.join(ranks, edeg.src == ranks.node)
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contribs, nodes.node == contribs.dst, "left"
        ).select(
            "node",
            (F.lit(base) + _DAMP * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                "pr"
            ),
        )
        ranks = track_cache(ranks)
    return ranks.select(
        "node", F.round(F.col("pr") * 1000, 6).alias("pr_permille")
    ).transform(order_result, "node")


ORACLE_GRAPH_PAGERANK = f"""
WITH edges AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), edeg AS (
  SELECT e.src, e.dst, d.deg
  FROM edges e JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
    USING (src)
), it0 AS (
  SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
), it1 AS (
  SELECT node,
         {1.0 - _DAMP!r} / (SELECT n FROM nn) + {_DAMP} * coalesce(s, 0) AS pr
  FROM nodes LEFT JOIN (
    SELECT dst, sum(pr / deg) AS s FROM edeg JOIN it0 ON src = node
    GROUP BY dst) c ON node = dst
), it2 AS (
  SELECT node,
         {1.0 - _DAMP!r} / (SELECT n FROM nn) + {_DAMP} * coalesce(s, 0) AS pr
  FROM nodes LEFT JOIN (
    SELECT dst, sum(pr / deg) AS s FROM edeg JOIN it1 ON src = node
    GROUP BY dst) c ON node = dst
), it3 AS (
  SELECT node,
         {1.0 - _DAMP!r} / (SELECT n FROM nn) + {_DAMP} * coalesce(s, 0) AS pr
  FROM nodes LEFT JOIN (
    SELECT dst, sum(pr / deg) AS s FROM edeg JOIN it2 ON src = node
    GROUP BY dst) c ON node = dst
)
SELECT node, round(pr * 1000, 6) AS pr_permille
FROM it3 ORDER BY node
"""


QUERIES = {
    "graph_pagerank": q_graph_pagerank,
}

ORACLE = {
    "graph_pagerank": ORACLE_GRAPH_PAGERANK,
}


# --------------------------------------------------------------------------
# graph_triangles — triangle counting on the supplier co-occurrence graph
# --------------------------------------------------------------------------

_TRI_SUPPORT = 5  # min co-orders for an edge: keeps the graph sparse


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (top-20) on the supplier co-occurrence
    graph — the clustering-coefficient / community-density primitive next
    to PageRank and connected components in the graph tier.

    Edges: supplier pairs co-occurring in ≥ ``_TRI_SUPPORT`` distinct
    orders, oriented a<b. Triangles enumerate by the textbook
    compact-forward join: wedge = e(a,b) ⋈ e(b,c), closed by e(a,c) —
    with every edge oriented low→high, each triangle is produced exactly
    once as a<b<c, so no post-dedup is needed and the wedge fan-out is
    bounded by out-degree (not full degree).

    Scale controls, in order of importance:
    1. the SUPPORT THRESHOLD keeps the graph sparse (the raw co-occurrence
       graph of a TPC-H-ish corpus is near-complete: ~1.8 expected
       co-orders per supplier pair; ≥5 keeps ~4%, degree ~36, wedge count
       ~Σ C(deg,2) ≈ 0.6M at sf0.1 — and the generator re-keys entities
       per replica, so density is scale-invariant);
    2. all three joins are keyed equi-joins (orderkey, b, (a,c)) — no
       cartesian anywhere, shuffles carry (long, long) pairs;
    3. for adversarial degree distributions, orient by DEGREE (low→high)
       instead of id — same plan, provably O(E^1.5) wedges (Schank &
       Wagner); id-orientation is kept here because the oracle must
       reproduce the exact edge orientation cheaply."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    x, y = li.alias("x"), li.alias("y")
    e = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .groupBy(
            F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _TRI_SUPPORT)
        .select("a", "b")
    )
    # consumed three times (e1/e2/e3 of the wedge-close); without the
    # scope cache the distinct+self-join+agg pipeline re-plans per join
    # input (late-r11 review — the pagerank convention in this module)
    e = track_cache(e)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedge = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("a"),
        F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    tri = (
        wedge.alias("w")
        .join(
            e3,
            (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        )
        .select(F.col("w.a").alias("a"), F.col("w.b").alias("b"), F.col("w.c").alias("c"))
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
        .orderBy(F.col("n_tri").desc(), F.col("node").asc())
        .limit(20)
    )


ORACLE_GRAPH_TRIANGLES = f"""
WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
e AS (
  SELECT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lo x JOIN lo y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= {_TRI_SUPPORT}
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
),
nodes AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_tri
FROM nodes GROUP BY node ORDER BY n_tri DESC, node ASC LIMIT 20
"""

QUERIES["graph_triangles"] = q_graph_triangles
ORACLE["graph_triangles"] = ORACLE_GRAPH_TRIANGLES


# --------------------------------------------------------------------------
# graph_label_prop — label propagation over the mutual-kNN graph (round 8)
# --------------------------------------------------------------------------

_LP_ITERS = 2


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    mutual-kNN embedding graph — the semi-supervised consumer the
    ``knn_graph_mutual`` substrate was built for (alongside
    ``semdedup_mutual``'s unsupervised keep decision): every node starts
    from its ``embeddings.label`` seed and, for ``_LP_ITERS`` synchronous
    supersteps, adopts the MAJORITY label among itself and its mutual
    neighbors (tie → smallest label — the deterministic tie rule; naive
    LPA's random tie-break is irreproducible by design, which is exactly
    what an oracle-checked engine cannot ship).  The self-vote keeps
    isolated nodes fixed at their seed and damps the 2-cycle oscillation
    synchronous LPA is known for.

    Each superstep is one keyed equi-join (undirected edges ⋈ current
    labels on dst — both corpus-sized, NO broadcast hint) plus one
    (node, label) count shuffle and a per-node window top-1; the same
    join+aggregate superstep shape as PageRank above, with the edge list
    scope-cached once across iterations.  Votes per superstep = 2·|mutual
    edges| + |nodes| ≤ 7n (top-3 mutual), so the superstep cost is linear
    in the corpus at any scale; the oracle unrolls the identical two
    supersteps as chained CTEs.  Engine-extension tier: the reference has
    no graph surface."""
    from jp_qcew_spark.queries.similarity import _mutual_edges

    edges = _mutual_edges(spark, sf_dir).select("src", "dst")
    und = track_cache(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    seeds = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("node"), F.col("label").cast("long").alias("lbl")
    )
    from pyspark.sql import Window

    # nulls-LAST tie-break: Spark asc() = NULLS FIRST vs DuckDB plain
    # ASC = NULLS LAST, so a NULL label tied with a real one would win
    # on one engine and lose on the other (late-r11 review; latent)
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("lbl").asc_nulls_last()
    )
    cur = seeds
    for _ in range(_LP_ITERS):
        nbr = und.join(
            cur.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        votes = (
            nbr.union(cur.select("node", "lbl"))
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cur = track_cache(
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return (
        cur.join(
            seeds.withColumnRenamed("lbl", "seed_lbl"), "node"
        )
        .select(
            F.col("node").alias("vec_id"),
            F.col("seed_lbl").alias("seed_label"),
            F.col("lbl").alias("final_label"),
            # when/otherwise, not a bare cast: a NULL label makes
            # (NULL != x) NULL while the oracle's CASE yields 0 — the
            # same-row-different-value latent NULL class (late-r11
            # review)
            F.when(F.col("lbl") != F.col("seed_lbl"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("changed"),
        )
        .transform(order_result, "vec_id")
    )


def _lp_round(prev: str, out: str) -> str:
    """One unrolled superstep: votes from ``prev`` → top-1 labels ``out``."""
    return f"""v_{out} AS (
  SELECT node, lbl, count(*) AS n FROM (
    SELECT u.src AS node, l.lbl FROM und u JOIN {prev} l ON l.node = u.dst
    UNION ALL SELECT node, lbl FROM {prev}
  ) GROUP BY 1, 2
),
{out} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, row_number() OVER (
        PARTITION BY node ORDER BY n DESC, lbl ASC) AS rn
    FROM v_{out}
  ) WHERE rn = 1
)"""


def _oracle_label_prop() -> str:
    from jp_qcew_spark.queries.similarity import _mutual_edges_ctes

    return f"""
WITH {_mutual_edges_ctes()},
und AS (SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut),
l0 AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lbl FROM embeddings),
{_lp_round("l0", "l1")},
{_lp_round("l1", "l2")}
SELECT l2.node AS vec_id,
       l0.lbl AS seed_label,
       l2.lbl AS final_label,
       CAST(CASE WHEN l2.lbl <> l0.lbl THEN 1 ELSE 0 END AS BIGINT) AS changed
FROM l2 JOIN l0 ON l2.node = l0.node
ORDER BY vec_id
"""


QUERIES["graph_label_prop"] = q_graph_label_prop
ORACLE["graph_label_prop"] = _oracle_label_prop()
