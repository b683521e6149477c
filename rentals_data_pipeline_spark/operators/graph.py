"""Distributed graph analytics over edge DataFrames.

Complements the dedup module's connected components
(operators/dedup.py::connected_components — min-label pointer jumping):
``pagerank`` is the importance-propagation primitive (seed-document
weighting, crawl prioritization, duplicate-cluster canonical-member
choice) and ``triangle_candidates`` the clustering-coefficient /
community-density primitive.

Determinism at scale is the design center: classic float PageRank is
NOT reproducible across partitionings (per-node contribution sums are
float adds in shuffle order, and the error compounds per iteration).
Here ranks are integers at a fixed scale and every step is integer
arithmetic — contribution = rank div degree, damping = (85 * sum)
div 100 — so a 1000-executor run, a local[1] run, and an ANSI-SQL
replay produce BIT-IDENTICAL ranks. The flooring leaks ~deg ulps of
mass per node per iteration (bounded by n_nodes * iterations / scale,
~1e-6 of total mass at the default 1e12 scale), a worthwhile trade for
an exactly-certifiable fixpoint. The same exactness makes the scale
tier a private detail of the one entry point: ``pagerank`` runs small
edge lists on the driver and large ones as the distributed loop, with
bit-identical output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**12
# Distributed-tier lineage truncation cadence (iterations). Above the
# catalog's 5 iterations, so its plan carries no per-iteration
# checkpoint; a long run still keeps its plan bounded.
_CHECKPOINT_EVERY = 10


def basket_pairs(
    sets: DataFrame,
    key_col: str,
    parts_col: str = "parts",
    out_a: str = "part_a",
    out_b: str = "part_b",
    width_threshold: int = 256,
) -> DataFrame:
    """All (a < b) item-pair instances per basket, width-routed
    (round-5 verdict item 8): the in-array transform builds every pair
    of a basket as structs INSIDE ONE ROW — ~w²/2 structs for a
    w-item basket, which is the cheap single-shuffle form at normal
    widths (TPC-H ~13 → ≤78 pairs) but materializes 50M structs /
    ~1 GB in a single row for one 10k-item hot basket. Baskets wider
    than ``width_threshold`` (default 256 → ≤ ~32k structs ≈ 512 KB
    per row) route to the exploded self-join form instead: the same
    pair set, but emitted as STREAMED join rows (a sort-merge join
    yields pairs iteratively, never holding a basket's pair space in
    memory). Pair membership defines a pair on both routes, so the
    union is exactly the naive self-join's output — certified by the
    unchanged DISTINCT-self-join oracles of every caller, and pinned
    by a hot-basket property test."""
    parts = F.col(parts_col)
    narrow = sets.where(F.size(parts) <= width_threshold)
    wide = sets.where(F.size(parts) > width_threshold)
    pair_structs = F.flatten(
        F.transform(
            parts,
            lambda a: F.transform(
                F.filter(parts, lambda b: b > a),
                lambda b: F.struct(a.alias(out_a), b.alias(out_b)),
            ),
        )
    )
    narrow_pairs = narrow.select(F.explode(pair_structs).alias("p")).select(
        f"p.{out_a}", f"p.{out_b}"
    )
    wa = wide.select(F.col(key_col).alias("_k"), F.explode(parts).alias(out_a))
    wb = wide.select(F.col(key_col).alias("_k"), F.explode(parts).alias(out_b))
    wide_pairs = wa.join(
        wb, (wa["_k"] == wb["_k"]) & (F.col(out_a) < F.col(out_b))
    ).select(out_a, out_b)
    return narrow_pairs.unionByName(wide_pairs)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
    driver_bound: int = 200_000,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (feed both
    directions for an undirected graph). Returns (node, deg,
    rank_scaled) with ranks as integers at ``scale`` (initial mass
    scale/n per node). Every node must appear as a source (true for
    symmetrized graphs); nodes with no in-edges still receive the
    teleport base term.

    Scale-tiered on the EDGE count. The projected edge list is
    localCheckpoint-ed first and the tier probe reads the checkpoint,
    so the edge-building subtree (which may itself contain shuffles —
    e.g. the co-purchase pair generation) is evaluated once whichever
    tier runs. Below ``driver_bound`` edges the probe rows run the
    recurrence as plain Python-int arithmetic — one job instead of a
    join + aggregate per iteration; at or above it the distributed
    loop (``_pagerank_distributed``) runs over the same checkpoint.
    Output is BIT-IDENTICAL either way (every step is truncating
    integer division and commutative integer sums), so the same
    unrolled-CTE oracle certifies both tiers; the equality is also
    pinned by a unit test on random graphs."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    # coalesce(1): one task reads the checkpoint up to the bound, so
    # the probe is one job at any partition count (a bare limit
    # collect scales up over the partitions, one job per round)
    probe = edges.coalesce(1).limit(driver_bound).collect()
    if len(probe) >= driver_bound:
        return _pagerank_distributed(
            edges, src, dst, iterations, damping_pct, scale
        )
    deg: dict = {}
    for r in probe:
        deg[r[0]] = deg.get(r[0], 0) + 1
    n = len(deg)
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "node bigint, deg bigint, rank_scaled bigint"
        )
    base = ((100 - damping_pct) * scale) // (100 * n)
    rank = {v: scale // n for v in deg}
    for _ in range(iterations):
        mass: dict = {}
        for r in probe:
            s, d = r[0], r[1]
            mass[d] = mass.get(d, 0) + rank[s] // deg[s]
        rank = {
            v: base + (damping_pct * mass.get(v, 0)) // 100 for v in deg
        }
    rows = sorted((v, deg[v], rank[v]) for v in deg)
    return edges.sparkSession.createDataFrame(
        rows, "node bigint, deg bigint, rank_scaled bigint"
    )


def _pagerank_distributed(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int,
    damping_pct: int,
    scale: int,
) -> DataFrame:
    """The at-or-above-bound tier of ``pagerank`` over its checkpointed
    edge list. Each iteration is one join of the rank table onto the
    edge list (both shuffle-keyed on the node — at scale, pre-partition
    the edges by ``src`` once and every iteration reuses that layout)
    plus one map-side-combined sum keyed on ``dst``; the left join
    gives nodes with no in-edges their base term. Lineage is truncated
    every ``_CHECKPOINT_EVERY`` iterations."""
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    base_expr = (
        f"CAST({(100 - damping_pct) * scale} AS BIGINT) div (100 * n_nodes)"
    )
    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        "deg",
        F.expr(f"CAST({scale} AS BIGINT) div n_nodes").alias("rank"),
        F.expr(base_expr).alias("base"),
    )
    for i in range(iterations):
        msgs = (
            edges.join(
                ranks.select(
                    F.col("node").alias(src),
                    F.expr("rank div deg").alias("contrib"),
                ),
                src,
            )
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("contrib").alias("mass"))
        )
        ranks = ranks.drop("rank").join(msgs, "node", "left").select(
            "node",
            "deg",
            "base",
            F.expr(
                f"base + ({damping_pct} * coalesce(mass, 0)) div 100"
            ).alias("rank"),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "deg", F.col("rank").alias("rank_scaled"))


def triangle_candidates(
    pairs: DataFrame, a: str = "part_a", b: str = "part_b"
) -> DataFrame:
    """Enumerate triangles (x < y < z) of an undirected graph given as
    canonical a < b pairs: the standard two-join form — wedges
    (x,y),(y,z) closed by the (x,z) edge. Each triangle emits exactly
    once. Join keys are single node columns then the composite closing
    edge, so all three legs are ordinary hash joins (broadcast when the
    pair list is small, sort-merge at scale); the a < b canonical form
    already halves the edge list and kills 4 of the 6 permutations."""
    p1 = pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    p2 = pairs.select(F.col(a).alias("y"), F.col(b).alias("z"))
    p3 = pairs.select(F.col(a).alias("x"), F.col(b).alias("z"))
    return p1.join(p2, "y").join(p3, ["x", "z"])
