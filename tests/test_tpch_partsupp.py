"""Invariants of the derived partsupp relation (round 8).

The five TPC-H completions (Q2/Q11/Q16/Q20 + Q12's derived shipping
columns) ride on ``tpch_queries._partsupp``, which derives the rows of
the part frame its caller passes in; the oracle certifies
cross-engine equality but — as the round-8 off-by-one showed — NOT
properties mirrored into both engines. These tests pin the relation's
contract directly, across supplier-count regimes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.plans.tpch_queries import _partsupp
from rentals_data_pipeline_spark.sources.tables import load_table


@pytest.mark.parametrize("s_cnt", [4, 10, 100, 1000])
def test_partsupp_invariants(spark, tmp_path, s_cnt):
    """For every supplier-table size the corpus could ship: exactly 4
    DISTINCT suppliers per part, every derived key references a REAL
    supplier (0-based, 0 <= k < S — the round-8 phantom-key fix), and
    cost/stock stay in their documented ranges."""
    d = tmp_path / f"s{s_cnt}"
    n_parts = 60
    spark.range(1, n_parts + 1).select(
        F.col("id").alias("p_partkey")
    ).write.parquet(str(d / "part.parquet"))
    spark.range(0, s_cnt).select(
        F.col("id").alias("s_suppkey")
    ).write.parquet(str(d / "supplier.parquet"))

    part = load_table(spark, str(d), "part")
    ps = _partsupp(spark, str(d), part).localCheckpoint(eager=True)
    assert ps.count() == 4 * n_parts
    # 4 distinct suppliers per part — the (partkey, suppkey) PK holds
    per_part = ps.groupBy("ps_partkey").agg(
        F.countDistinct("ps_suppkey").alias("n")
    )
    assert per_part.where(F.col("n") != 4).count() == 0
    # every key is a real supplier: 0-based [0, S)
    mm = ps.agg(
        F.min("ps_suppkey").alias("lo"), F.max("ps_suppkey").alias("hi")
    ).collect()[0]
    assert mm["lo"] >= 0 and mm["hi"] < s_cnt
    # ranges: availqty 1..9999, cost cents 100..100099
    r = ps.agg(
        F.min("ps_availqty"), F.max("ps_availqty"),
        F.min("ps_cost_cents"), F.max("ps_cost_cents"),
    ).collect()[0]
    assert r[0] >= 1 and r[1] <= 9999
    assert r[2] >= 100 and r[3] <= 100_099


def test_partsupp_supplier_zero_reachable(spark, tmp_path):
    """Supplier 0 must be supplied by some part (the pre-fix +1 made
    it unreachable while key S matched nothing)."""
    d = tmp_path / "reach"
    spark.range(1, 201).select(F.col("id").alias("p_partkey")).write.parquet(
        str(d / "part.parquet")
    )
    spark.range(0, 10).select(F.col("id").alias("s_suppkey")).write.parquet(
        str(d / "supplier.parquet")
    )
    ps = _partsupp(spark, str(d), load_table(spark, str(d), "part"))
    covered = {r["ps_suppkey"] for r in ps.select("ps_suppkey").distinct().collect()}
    assert covered == set(range(10))  # every supplier participates


def test_partsupp_derives_only_the_given_parts(spark, tmp_path):
    """Over a filtered part frame: only the kept partkeys appear, still
    4 rows (4 distinct suppliers) each, and the frame's extra column
    rides through onto every derived row."""
    d = tmp_path / "filtered"
    spark.range(1, 61).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("p_type"),
    ).write.parquet(str(d / "part.parquet"))
    spark.range(0, 10).select(F.col("id").alias("s_suppkey")).write.parquet(
        str(d / "supplier.parquet")
    )
    part = load_table(spark, str(d), "part").where(F.col("p_partkey") % 3 == 0)
    rows = _partsupp(spark, str(d), part).collect()
    kept = set(range(3, 61, 3))
    assert {r["ps_partkey"] for r in rows} == kept
    assert len(rows) == 4 * len(kept)
    for key in kept:
        sup = {r["ps_suppkey"] for r in rows if r["ps_partkey"] == key}
        assert len(sup) == 4
    assert all(r["p_type"] == f"T{r['ps_partkey']}" for r in rows)
