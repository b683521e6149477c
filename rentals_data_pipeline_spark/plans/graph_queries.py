"""Graph-analytics catalog queries over the co-purchase pair graph.

The graph: nodes are parts, an undirected edge joins two parts bought
together in >= 2 orders (the `analytics_copurchase_pairs` support
floor). Both queries certify iterative/multi-join graph execution
against ANSI oracles — PageRank by UNROLLING the fixed iteration count
into chained CTEs, triangles by the standard wedge-closure join — so
the distributed loops are hash-checked value-for-value, not just
row-counted (the weaker check connected components needed a recursive
CTE for).

Exactness: PageRank runs entirely in scaled-integer arithmetic
(operators/graph.py::pagerank) — the only way an iterative float
algorithm can hash-match across engines AND across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators.graph import (
    PR_SCALE,
    basket_pairs,
    pagerank,
    triangle_candidates,
)
from rentals_data_pipeline_spark.plans.catalog import query
from rentals_data_pipeline_spark.sources.tables import load_table

# Canonical a < b support-2 pair graph, as SQL (the oracle's form: the
# DISTINCT self-join; the engine uses the single-shuffle collect_set
# rewrite certified equivalent by analytics_copurchase_pairs).
_PAIRS_CTE = """
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
)
"""


def _pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a < part_b) edges of the support-2 co-purchase graph via
    the one-fact-shuffle collect_set pair generation, width-routed so
    a pathological hot basket streams through a self-join instead of
    materializing its pair space in one row (basket_pairs).

    The edge list is returned unmaterialized. A caller that reads it
    more than once (the triangle wedge join three times, jaccard five,
    the degree symmetrization twice) localCheckpoints it first, or the
    whole build — fact shuffle, collect_set, width routing — replays
    once per read; the support-2 edge list is tiny relative to the
    fact (~1.9k edges at sf0.1). PageRank reads it once: it
    symmetrizes in one pass and ``pagerank`` checkpoints the result."""
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the per-order sets BEFORE the width routing: both
    # basket_pairs branches (narrow in-row transform, wide streamed
    # self-join with its two exploded sides) consume `sets`, and the
    # differing pushed filters block exchange reuse — unmaterialized,
    # the fact scan + collect_set shuffle replayed 3x per build (r13
    # measurement). The checkpointed frame is the fact-REDUCED
    # per-order distinct-part sets, read thrice in place.
    sets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .localCheckpoint(eager=True)
    )
    return (
        basket_pairs(sets, "l_orderkey")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .where(F.col("n_together") >= 2)
        .drop("n_together")
    )


def _pagerank_oracle(iterations: int, damping_pct: int, scale: int) -> str:
    ctes = [
        _PAIRS_CTE.strip().rstrip(),
        """edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION ALL
    SELECT part_b AS src, part_a AS dst FROM pairs
)""",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1)",
        f"""r0 AS (
    SELECT d.node, d.deg,
        {scale} // n.n_nodes AS rank,
        {(100 - damping_pct) * scale} // (100 * n.n_nodes) AS base
    FROM deg d, (SELECT COUNT(*) AS n_nodes FROM deg) n
)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""r{k} AS (
    SELECT r.node, r.deg, r.base,
        r.base + ({damping_pct} * COALESCE(s.mass, 0)) // 100 AS rank
    FROM r{k - 1} r
    LEFT JOIN (
        SELECT e.dst AS node, SUM(c.rank // c.deg) AS mass
        FROM edges e JOIN r{k - 1} c ON c.node = e.src
        GROUP BY 1
    ) s ON s.node = r.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, deg, CAST(rank AS BIGINT) AS rank_scaled"
        f" FROM r{iterations}"
    )


@query("graph_pagerank_copurchase", _pagerank_oracle(5, 85, PR_SCALE))
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations (damping 0.85) over the symmetrized
    co-purchase graph, in scaled-integer arithmetic
    (operators/graph.py::pagerank). The oracle UNROLLS the loop into
    five chained CTEs computing the identical integer recurrence —
    contribution = rank div deg, damped sum = (85 * mass) div 100 — so
    every node's rank after five rounds is certified to the exact
    integer on either of pagerank's tiers. On the distributed tier
    each iteration shuffles only (node, contrib) messages keyed on the
    destination; at 100 TB pre-partitioning the edge list by src makes
    the per-iteration join co-located, and the loop truncates lineage
    on a fixed cadence that five iterations never reach."""
    # one read of the edge list emits both directions; pagerank's
    # checkpoint is the only copy. Tiered: sub-bound edge lists (this
    # corpus) run the identical integer recurrence driver-side in one
    # job; larger graphs take the distributed loop — same bits either
    # way
    a, b = F.col("part_a"), F.col("part_b")
    sym = _pair_graph(spark, sf_dir).select(
        F.explode(
            F.array(
                F.struct(a.alias("src"), b.alias("dst")),
                F.struct(b.alias("src"), a.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pagerank(sym, iterations=5, damping_pct=85, scale=PR_SCALE)


_TRIANGLE_SQL = (
    "WITH "
    + _PAIRS_CTE.strip()
    + """,
tri AS (
    SELECT p1.part_a AS x, p1.part_b AS y, p2.part_b AS z
    FROM pairs p1
    JOIN pairs p2 ON p2.part_a = p1.part_b
    JOIN pairs p3 ON p3.part_a = p1.part_a AND p3.part_b = p2.part_b
),
corners AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node AS part, COUNT(*) AS n_triangles
FROM corners GROUP BY 1
"""
)


@query("graph_triangle_participation", _TRIANGLE_SQL)
def graph_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation counts over the co-purchase
    graph (operators/graph.py::triangle_candidates): wedges
    (x,y),(y,z) closed by the (x,z) edge, each triangle counted once
    via the canonical x < y < z form — the clustering-coefficient /
    community-density primitive. Two hash joins on the half-edge list
    (broadcast here, sort-merge at scale) then an explode of the three
    corners into one map-side-combined count."""
    pairs = _pair_graph(spark, sf_dir).localCheckpoint(eager=True)
    tri = triangle_candidates(pairs)
    return (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "part"
            )
        )
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_JACCARD_SQL = (
    "WITH "
    + _PAIRS_CTE.strip()
    + """,
sym AS (
    SELECT part_a AS u, part_b AS v FROM pairs
    UNION ALL
    SELECT part_b AS u, part_a AS v FROM pairs
),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY 1),
wedge AS (
    -- endpoints (a < b) sharing neighbor w; count distinct shared w
    SELECT s1.u AS a, s2.u AS b, COUNT(DISTINCT s1.v) AS common
    FROM sym s1 JOIN sym s2
      ON s1.v = s2.v AND s1.u < s2.u
    GROUP BY 1, 2
),
scored AS (
    SELECT w.a, w.b, w.common, da.d AS deg_a, db.d AS deg_b,
        FLOOR((CAST(w.common AS DOUBLE)
               / CAST(da.d + db.d - w.common AS DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM wedge w
    JOIN deg da ON da.u = w.a
    JOIN deg db ON db.u = w.b
)
SELECT a AS part_a, b AS part_b,
    CAST(common AS BIGINT) AS n_common,
    CAST(deg_a AS BIGINT) AS deg_a,
    CAST(deg_b AS BIGINT) AS deg_b,
    jaccard
FROM scored
ORDER BY jaccard DESC, part_a, part_b
LIMIT 100
"""
)


@query("graph_jaccard_link_prediction", _JACCARD_SQL)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard: for every node pair
    sharing at least one neighbor, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| —
    the classical similarity that ranks missing edges (recommender
    candidates) — top-100 by the rounded score with id tiebreaks.
    Candidate pairs come from the WEDGE join (neighbors-of-the-same-
    node), so only pairs with common > 0 ever materialize — never the
    all-pairs space; the shared-neighbor count, both degree joins, and
    the union-size denominator are exact integers with one IEEE
    division at the end. At 100 TB the wedge join is the triangle
    query's shape: shuffle keyed on the shared neighbor, hub nodes
    bounded by the support-2 edge floor (and cappable per node like
    ivf's hot-cell guard). FIVE consumers read the edge list (degree
    agg + both wedge sides + both degree joins' lineage); the
    edge checkpoint keeps the build single-evaluation (plan
    audit measured 39 exchanges -> 7 with the materialized edges)."""
    edges = _pair_graph(spark, sf_dir).localCheckpoint(eager=True)
    sym = edges.select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    ).unionAll(
        edges.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    s2 = sym.select(F.col("u").alias("b"), F.col("v").alias("w2"))
    wedge = (
        s1.join(s2, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count_distinct("w").alias("common"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("deg_b"))
    from rentals_data_pipeline_spark.functions.rounding import (
        round_half_up as _rnd,
    )

    scored = (
        wedge.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("common").cast("long").alias("n_common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            _rnd(
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "part_a", "part_b"
    ).limit(100)


_DEGREE_SQL = (
    "WITH "
    + _PAIRS_CTE.strip()
    + """,
sym AS (
    SELECT part_a AS u, part_b AS v FROM pairs
    UNION ALL
    SELECT part_b AS u, part_a AS v FROM pairs
),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY 1)
SELECT CAST(d AS BIGINT) AS degree,
    CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
"""
)


@query("graph_degree_distribution", _DEGREE_SQL)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first
    diagnostic of any graph workload (hub detection, join-skew
    prediction for the wedge/triangle family, power-law check). Two
    tiny aggregations over the edge list; at 100 TB this is the
    pre-flight that decides the hot-cell caps for the wedge joins."""
    edges = _pair_graph(spark, sf_dir).localCheckpoint(eager=True)
    sym = edges.select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    ).unionAll(
        edges.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
