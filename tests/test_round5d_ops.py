"""Tests for the round-5 fifth-batch analytics: Pareto skyline pruning
equivalence and the chi-square independence statistic."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.plans import relational_queries as RQ  # noqa: F401
from rentals_data_pipeline_spark.plans.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _brute_skyline(rows):
    """O(n²) reference: (key, date_ep, price) not strictly dominated."""
    out = []
    for a in rows:
        dominated = False
        for b in rows:
            if (
                b[1] <= a[1]
                and b[2] >= a[2]
                and (b[1] < a[1] or b[2] > a[2])
            ):
                dominated = True
                break
        if not dominated:
            out.append(a[0])
    return sorted(out)


def test_pareto_pruned_equals_brute_force(spark):
    """The bucket-pruned two-window skyline matches the O(n²) definition
    on adversarial random data (many duplicate dates AND prices, so
    tie handling is exercised)."""
    rng = random.Random(5)
    rows = [
        (i, rng.randrange(0, 40), float(rng.randrange(0, 25)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["o_orderkey", "ep_day", "o_totalprice"])
    # reuse the exact operator shape: bucket prune (width-7 buckets) +
    # strict-past range window + same-key max
    o = df.withColumn("ep", F.col("ep_day").cast("long")).withColumn(
        "bk", (F.col("ep_day") / 7).cast("long")
    )
    bmax = o.groupBy("bk").agg(F.max("o_totalprice").alias("bmx"))
    wb = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bmax.select("bk", F.max("bmx").over(wb).alias("bprev"))
    cand = o.join(F.broadcast(bprev), "bk").where(
        F.col("bprev").isNull() | (F.col("o_totalprice") > F.col("bprev"))
    )
    w_prev = Window.orderBy("ep").rangeBetween(Window.unboundedPreceding, -1)
    w_same = Window.partitionBy("ep")
    got = sorted(
        r["o_orderkey"]
        for r in cand.select(
            "o_orderkey",
            "o_totalprice",
            F.max("o_totalprice").over(w_prev).alias("mprev"),
            F.max("o_totalprice").over(w_same).alias("msame"),
        )
        .where(
            (F.col("mprev").isNull() | (F.col("mprev") < F.col("o_totalprice")))
            & (F.col("msame") <= F.col("o_totalprice"))
        )
        .collect()
    )
    assert got == _brute_skyline(rows)


def test_pareto_catalog_frontier_is_mutually_nondominated(spark):
    rows = QUERIES["analytics_pareto_orders"](spark, SF_DIR).collect()
    assert rows
    pts = [(r["o_orderkey"], r["o_orderdate"], r["o_totalprice"]) for r in rows]
    for a in pts:
        for b in pts:
            if a[0] == b[0]:
                continue
            assert not (
                b[1] <= a[1]
                and b[2] >= a[2]
                and (b[1] < a[1] or b[2] > a[2])
            )


def test_chi_square_golden(spark):
    """Hand-computed 2x2 contingency: types X/Y vs hours 0/1.

    obs = [[30, 10], [10, 30]]; margins 40/40, cols 40/40, n=80;
    e = 20 everywhere; chi2 = 4 * (10²/20) = 20; V = sqrt(20/80) = 0.5.
    """
    import datetime

    data = (
        [("X", 0)] * 30 + [("X", 1)] * 10 + [("Y", 0)] * 10 + [("Y", 1)] * 30
    )
    ev = spark.createDataFrame(
        [
            (t, datetime.datetime(2024, 1, 1, h, 0, 0))
            for t, h in data
        ],
        "event_type string, ts timestamp",
    )
    obs = ev.select("event_type", F.hour("ts").cast("long").alias("hr"))
    counts = obs.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("obs"))
    rows_m = obs.groupBy("event_type").agg(F.count(F.lit(1)).alias("ri"))
    cols_m = obs.groupBy("hr").agg(F.count(F.lit(1)).alias("cj"))
    tot = obs.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .crossJoin(F.broadcast(tot))
        .join(counts, ["event_type", "hr"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .withColumn(
            "e", (F.col("ri") * F.col("cj")).cast("double") / F.col("n")
        )
    )
    term = (F.col("obs") - F.col("e")) * (F.col("obs") - F.col("e")) / F.col("e")
    chi2 = grid.agg(F.sum(term).alias("chi2")).collect()[0]["chi2"]
    assert chi2 == pytest.approx(20.0)
    assert math.sqrt(chi2 / (80 * 1)) == pytest.approx(0.5)


def test_chi_square_catalog_shape(spark):
    r = QUERIES["stats_chi_square_events"](spark, SF_DIR).collect()
    assert len(r) == 1
    row = r[0]
    assert row["n"] > 0 and row["dof"] > 0
    assert row["chi2"] >= 0.0
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_pagerank_tiers_bit_identical(spark):
    """The driver tier must reproduce the distributed integer
    recurrence (forced by driver_bound=1) bit-for-bit on arbitrary
    graphs."""
    import random

    from rentals_data_pipeline_spark.operators.graph import pagerank

    rng = random.Random(23)
    raw = {(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(120)}
    edges = [(a, b) for a, b in raw if a != b]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src long, dst long")
    driver_tier = sorted(map(tuple, pagerank(df, iterations=4).collect()))
    dist_tier = sorted(
        map(tuple, pagerank(df, iterations=4, driver_bound=1).collect())
    )
    assert driver_tier == dist_tier


def test_u_shaped_attribution_golden(spark):
    """Hand-computed journey: 4 touches then a purchase within 24 h →
    credits 0.4 / 0.1 / 0.1 / 0.4; a lone touch far from any purchase
    gets nothing; a single-touch journey takes 1.0."""
    import datetime as dt

    from rentals_data_pipeline_spark.plans.relational_queries import (
        analytics_attribution_u_shaped,
    )

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # user 1: click, view, view, click -> purchase (4-touch journey)
        (1, base + dt.timedelta(hours=1), "click", None),
        (1, base + dt.timedelta(hours=2), "view", None),
        (1, base + dt.timedelta(hours=3), "view", None),
        (1, base + dt.timedelta(hours=4), "click", None),
        (1, base + dt.timedelta(hours=5), "purchase", 10.0),
        # user 2: one view -> purchase (single-touch journey)
        (2, base, "view", None),
        (2, base + dt.timedelta(hours=1), "purchase", 5.0),
        # user 3: a click with no purchase within 24 h
        (3, base, "click", None),
        (3, base + dt.timedelta(days=10), "purchase", 1.0),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, ty, v) for i, (u, t, ty, v) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        r["channel"]: (r["n_touches"], r["total_credit"])
        for r in analytics_attribution_u_shaped(spark, d).collect()
    }
    # user 1: click 0.4 + click 0.4, views 0.1 + 0.1; user 2: view 1.0
    assert out["click"] == (2, 0.8)
    assert out["view"] == (3, 1.2)
