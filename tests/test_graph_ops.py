"""Unit tests for operators/graph.py: the scaled-integer PageRank
recurrence against a hand-computed reference, its partitioning
invariance (the whole point of integer arithmetic), and wedge-closure
triangle enumeration. ``driver_bound=1`` forces PageRank's distributed
tier on any non-empty graph."""

from __future__ import annotations

from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators.graph import (
    pagerank,
    triangle_candidates,
)


def _reference_pagerank(edges, iterations=5, damping=85, scale=10**12):
    """Pure-Python replay of the exact integer recurrence."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    n = len(deg)
    rank = {v: scale // n for v in deg}
    base = (100 - damping) * scale // (100 * n)
    for _ in range(iterations):
        mass = defaultdict(int)
        for s, d in edges:
            mass[d] += rank[s] // deg[s]
        rank = {v: base + damping * mass.get(v, 0) // 100 for v in deg}
    return rank


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_pagerank_matches_integer_reference(spark):
    # Path a-b-c plus a pendant d on b: asymmetric degrees exercise the
    # div-by-degree and the damped floor.
    edges = _sym([(1, 2), (2, 3), (2, 4)])
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, driver_bound=1).collect()
    }
    assert got == _reference_pagerank(edges)
    # mass approximately conserved (floor leak only)
    assert 0 <= 10**12 - sum(got.values()) < 10**7


def test_pagerank_partitioning_invariant(spark):
    # Bit-identical ranks regardless of input layout — the integer
    # arithmetic guarantee float PageRank cannot make.
    edges = _sym([(i, (i * 7) % 23 + 100) for i in range(40)])
    df1 = spark.createDataFrame(edges, ["src", "dst"])
    df2 = df1.repartition(13, "dst")
    r1 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df1, driver_bound=1).collect()
    }
    r2 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df2, driver_bound=1).collect()
    }
    assert r1 == r2


def test_pagerank_sink_heavy_node_ranks_highest(spark):
    # Star: hub 0 connected to 1..6 — the hub must outrank every leaf.
    edges = _sym([(0, i) for i in range(1, 7)])
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, driver_bound=1).collect()
    }
    hub = got[0]
    assert all(hub > v for k, v in got.items() if k != 0)


def test_triangle_candidates_k4(spark):
    # K4 has exactly 4 triangles; every canonical (x<y<z) once.
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(pairs, ["part_a", "part_b"])
    tri = {
        (r["x"], r["y"], r["z"]) for r in triangle_candidates(df).collect()
    }
    assert tri == {(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)}


def test_triangle_candidates_open_wedge_not_counted(spark):
    # Path 0-1-2 (no closing edge): zero triangles.
    df = spark.createDataFrame([(0, 1), (1, 2)], ["part_a", "part_b"])
    assert triangle_candidates(df).count() == 0


def test_jaccard_link_prediction_golden(spark):
    """Hand graph: path a-b-c plus hub d connected to a,b,c.
    Jaccard(a,c): N(a)={b,d}, N(c)={b,d} -> 2/2 = 1.0 (the classic
    'predict the missing a-c edge' case)."""
    from rentals_data_pipeline_spark.functions.rounding import round_half_up
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (2, 4), (3, 4)], ["part_a", "part_b"]
    )
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
    scored = (
        wedge.join(da, "a").join(db, "b").select(
            "a", "b",
            round_half_up(
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("j"),
        )
    )
    got = {(r["a"], r["b"]): r["j"] for r in scored.collect()}
    assert got[(1, 3)] == 1.0       # identical neighbor sets {2,4}
    assert got[(1, 2)] == 0.25      # {2,4} vs {1,3,4}: common {4} / union 4
    # no candidate without a shared neighbor
    assert all(j > 0 for j in got.values())


def test_basket_pairs_hot_basket_matches_self_join(spark):
    """Round-5 verdict item 8: a basket wider than the in-array
    threshold must route through the streamed self-join and produce
    EXACTLY the naive self-join's pair multiset — one 600-item hot
    basket among normal ones, checked pair-for-pair."""
    import random

    from rentals_data_pipeline_spark.operators.graph import basket_pairs

    rng = random.Random(7)
    rows = []
    for order in range(20):  # normal baskets, width 2-8
        for p in rng.sample(range(1000), rng.randint(2, 8)):
            rows.append((order, p))
    rows += [(999, p) for p in range(2000, 2600)]  # the hot basket
    items = spark.createDataFrame(rows, "l_orderkey int, l_partkey int")
    sets = items.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    got = sorted(
        (r["part_a"], r["part_b"])
        for r in basket_pairs(
            sets, "l_orderkey", width_threshold=256
        ).collect()
    )
    a, b = items.alias("a"), items.alias("b")
    want = sorted(
        (r["part_a"], r["part_b"])
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .collect()
    )
    assert got == want
    assert len([p for p in got if p[0] >= 2000]) == 600 * 599 // 2


def test_pagerank_query_materializes_edges_once(spark, jobs_run):
    """graph_pagerank_copurchase symmetrizes the unmaterialized pair
    edges in one pass and lets ``pagerank`` checkpoint them: 7 Spark
    jobs per call at sf0.001, one fewer than checkpointing the edges
    before symmetrizing (8)."""
    from rentals_data_pipeline_spark.plans.graph_queries import (
        graph_pagerank_copurchase,
    )

    sf = "/root/testdata/sf0.001"
    graph_pagerank_copurchase(spark, sf).collect()  # warm the table load
    rows: list = []
    n_jobs = jobs_run(
        lambda: rows.extend(graph_pagerank_copurchase(spark, sf).collect())
    )
    assert n_jobs == 7
    assert len(rows) == 200
