"""Query catalog: every implemented operator exposed as a named query.

Driver contract (``__spark_entry__``): each entry in ``QUERIES`` is a
``(spark, sf_dir) -> DataFrame`` callable; ``ORACLE_SQL`` holds the
ANSI-SQL equivalent DuckDB runs on the same parquet for the hash-compare
correctness gate. Column names AND types are aligned on both sides;
floating aggregates are rounded identically on both sides so the
value-hash is stable across engines (summation-order drift).

Organization mirrors SURVEY §2: windows, reshape, dedup, joins, aggs,
then the LLM-pipeline extensions (registered from their own modules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.functions.rounding import round_half_up as RND

from rentals_data_pipeline_spark.operators import relational as R
from rentals_data_pipeline_spark.operators import reshape as RS
from rentals_data_pipeline_spark.operators import window as W
from rentals_data_pipeline_spark.sources.tables import load_table

# Extension modules register their own queries on import (bottom of file).

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a catalog query (and optionally its DuckDB oracle).

    Raises on a duplicate name: registration is import-time, so a
    silent last-wins overwrite leaves the earlier definition as dead
    code with no failing test — exactly what happened when a
    gaps-and-islands query was re-added under an existing name (r12);
    the new def shadowed nothing visible and the old one kept serving
    the bench entry. Collisions must be loud."""

    def _reg(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"catalog query {name!r} is already registered "
                f"(by {QUERIES[name].__module__}.{QUERIES[name].__qualname__});"
                " duplicate registration silently shadows one definition"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return _reg


# ---------------------------------------------------------------------------
# Flagship: events → daily series → DoD % change (lag) + in-day rank.
# The reference's two signature windows (jobs/transform.py:122-158) over a
# pre-aggregated series — at 100 TB the windows run on |event_type × day|
# rows, not |events| rows, so the window shuffle is trivially small.
# (Daily, not monthly: the events table spans 30 days, so daily gives the
# lag a real series to walk.)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH daily AS (
    SELECT
        event_type,
        CAST(date_trunc('day', ts) AS DATE) AS day,
        FLOOR((AVG(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1, 2
)
SELECT
    event_type,
    day,
    avg_value,
    FLOOR(((avg_value - LAG(avg_value) OVER w) / NULLIF(LAG(avg_value) OVER w, 0) * 100) * 100.0 + 0.5) / 100.0 AS pct_change,
    CAST(RANK() OVER (PARTITION BY day ORDER BY avg_value DESC) AS INTEGER)
        AS day_rank
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


def daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (event_type, day, avg_value): the canonical long
    time-series shape (reference A2 fixture analogue)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(RND(F.avg("value"), 4).alias("avg_value"))


@query("flagship_events_daily", _FLAGSHIP_ORACLE)
def flagship_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoD % change per event_type + rank of event types within day —
    the reference pipeline's analytical shape (lag + rank) end-to-end."""
    return (
        daily_series(spark, sf_dir)
        .transform(
            W.pct_change("avg_value", ["event_type"], "day", out_col="pct_change")
        )
        .transform(W.rank_in_group("avg_value", ["day"], out_col="day_rank"))
        .withColumn("day_rank", F.col("day_rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# W1/W2 parity: lag-based period-over-period change alone.
# ---------------------------------------------------------------------------

@query(
    "window_period_change",
    """
WITH daily AS (
    SELECT
        user_id,
        CAST(date_trunc('day', ts) AS DATE) AS day,
        FLOOR((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
    FROM events
    GROUP BY 1, 2
)
SELECT
    user_id,
    day,
    total_value,
    FLOOR(((total_value - LAG(total_value) OVER w) / NULLIF(LAG(total_value) OVER w, 0)
            * 100) * 100.0 + 0.5) / 100.0 AS pct_change
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day)
""",
)
def window_period_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference W1/W2 (lag → % change) on per-user daily totals."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(RND(F.sum("value"), 4).alias("total_value"))
    return daily.transform(
        W.pct_change("total_value", ["user_id"], "day", out_col="pct_change")
    )


# ---------------------------------------------------------------------------
# W3 parity: rank with ties-share-rank-with-gaps; dense_rank variant.
# ---------------------------------------------------------------------------

@query(
    "window_rank_in_group",
    """
SELECT
    c_mktsegment,
    c_custkey,
    c_acctbal,
    CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER)
        AS bal_rank,
    CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
        AS INTEGER) AS bal_dense_rank
FROM customer
""",
)
def window_rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select("c_mktsegment", "c_custkey", "c_acctbal")
        .transform(
            W.rank_in_group("c_acctbal", ["c_mktsegment"], out_col="bal_rank")
        )
        .transform(
            W.rank_in_group(
                "c_acctbal",
                ["c_mktsegment"],
                out_col="bal_dense_rank",
                method="dense_rank",
            )
        )
        .withColumn("bal_rank", F.col("bal_rank").cast("int"))
        .withColumn("bal_dense_rank", F.col("bal_dense_rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# Rolling & cumulative frames (engine extension of the Window surface).
# ---------------------------------------------------------------------------

@query(
    "window_rolling_avg",
    """
WITH daily AS (
    SELECT
        event_type,
        CAST(date_trunc('day', ts) AS DATE) AS day,
        FLOOR((AVG(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1, 2
)
SELECT
    event_type,
    day,
    avg_value,
    FLOOR((AVG(avg_value) OVER (
            PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        )) * 100.0 + 0.5) / 100.0 AS rolling_3d
FROM daily
""",
)
def window_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-period moving average over the daily series (rowsBetween frame)."""
    return daily_series(spark, sf_dir).transform(
        W.rolling(
            "avg_value", ["event_type"], "day", preceding=2, out_col="rolling_3d"
        )
    )


@query(
    "window_cumulative_sum",
    """
WITH daily AS (
    SELECT
        user_id,
        CAST(date_trunc('day', ts) AS DATE) AS day,
        FLOOR((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS day_value
    FROM events
    GROUP BY 1, 2
)
SELECT
    user_id,
    day,
    day_value,
    FLOOR((SUM(day_value) OVER (
            PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )) * 100.0 + 0.5) / 100.0 AS running_total
FROM daily
""",
)
def window_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(RND(F.sum("value"), 4).alias("day_value"))
    return daily.transform(
        W.cumulative("day_value", ["user_id"], "day", out_col="running_total")
    )


# ---------------------------------------------------------------------------
# R1 parity: unpivot (wide→long) — lineitem measures, then aggregated so
# the compared result is compact and deterministic.
# ---------------------------------------------------------------------------

@query(
    "reshape_unpivot_measures",
    """
SELECT l_returnflag, measure, FLOOR((SUM(value)) * 100.0 + 0.5) / 100.0 AS total
FROM (
    SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
GROUP BY l_returnflag, measure
""",
)
def reshape_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    long = lineitem.transform(
        RS.unpivot(
            ids=["l_returnflag"],
            values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            var_col="measure",
            value_col="value",
        )
    )
    return long.groupBy("l_returnflag", "measure").agg(
        RND(F.sum("value"), 2).alias("total")
    )


# ---------------------------------------------------------------------------
# Pivot (long→wide): inverse of R1; explicit pivot values (no discovery job).
# ---------------------------------------------------------------------------

@query(
    "reshape_pivot_event_types",
    """
SELECT
    CAST(date_trunc('month', ts) AS DATE) AS month,
    FLOOR((SUM(CASE WHEN event_type = 'click' THEN value END)) * 100.0 + 0.5) / 100.0 AS click,
    FLOOR((SUM(CASE WHEN event_type = 'purchase' THEN value END)) * 100.0 + 0.5) / 100.0 AS purchase,
    FLOOR((SUM(CASE WHEN event_type = 'signup' THEN value END)) * 100.0 + 0.5) / 100.0 AS signup,
    FLOOR((SUM(CASE WHEN event_type = 'error' THEN value END)) * 100.0 + 0.5) / 100.0 AS error,
    FLOOR((SUM(CASE WHEN event_type = 'view' THEN value END)) * 100.0 + 0.5) / 100.0 AS view
FROM events
GROUP BY 1
""",
)
def reshape_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    long = events.select(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        "event_type",
        "value",
    )
    wide = long.transform(
        RS.pivot(
            ["month"],
            "event_type",
            F.sum("value"),
            pivot_values=["click", "purchase", "signup", "error", "view"],
        )
    )
    return wide.select(
        "month",
        *[RND(F.col(c), 2).alias(c) for c in ["click", "purchase", "signup", "error", "view"]],
    )


# ---------------------------------------------------------------------------
# D1 parity: deterministic keep-first dedup (row_number over tiebreaker).
# ---------------------------------------------------------------------------

@query(
    "dedup_first_event",
    """
SELECT user_id, event_type, event_id, value
FROM (
    SELECT
        user_id, event_type, event_id, value,
        ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id
        ) AS rn
    FROM events
)
WHERE rn = 1
""",
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.transform(
        R.dedup_keep_first(
            ["user_id", "event_type"], [F.col("ts").asc(), F.col("event_id").asc()]
        )
    ).select("user_id", "event_type", "event_id", "value")


# ---------------------------------------------------------------------------
# Top-k per group (W3/W4 + filter — the reference's rank is half of this).
# ---------------------------------------------------------------------------

@query(
    "topk_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
    SELECT
        o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        ) AS rn
    FROM orders
)
WHERE rn <= 3
""",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_custkey", "o_orderkey", "o_totalprice").transform(
        W.top_k_per_group(
            "o_totalprice", ["o_custkey"], k=3, tiebreakers=["o_orderkey"]
        )
    )


# ---------------------------------------------------------------------------
# Joins: star-schema revenue rollup (broadcast dims), semi, anti.
# ---------------------------------------------------------------------------

@query(
    "join_star_revenue",
    """
SELECT
    r.r_name AS region,
    n.n_name AS nation,
    FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
    COUNT(*) AS line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dims rollup. orders is fact-sized → sort-merge join against
    lineitem (AQE may demote to broadcast at small SF); customer /
    nation / region are dims → explicit broadcast, so the lineitem side
    is never reshuffled for them."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    joined = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        RND(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("line_count"),
    )


@query(
    "join_semi_active_customers",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
""",
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.transform(R.semi_join(open_orders, ["c_custkey"])).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti_no_big_order",
    """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_totalprice > 450000
)
""",
)
def join_anti_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order above 450k (anti join, non-empty at all SFs)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.transform(R.anti_join(big, ["c_custkey"])).select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1-shaped pricing summary (map-side partial aggs).
# ---------------------------------------------------------------------------

@query(
    "agg_pricing_summary",
    """
SELECT
    l_returnflag,
    l_linestatus,
    FLOOR((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
    FLOOR((SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
    FLOOR((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
    FLOOR((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
    FLOOR((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
    FLOOR((AVG(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
    FLOOR((AVG(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            RND(F.sum("l_quantity"), 2).alias("sum_qty"),
            RND(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            RND(F.sum(disc_price), 2).alias("sum_disc_price"),
            RND(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            RND(F.avg("l_quantity"), 4).alias("avg_qty"),
            RND(F.avg("l_extendedprice"), 4).alias("avg_price"),
            RND(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# DQ framework as a query: the single-pass metrics aggregation that backs
# run_quality_checks (operators/quality.py) — one scan computes every
# check's metric (vs the reference's 7 jobs / 6 scans for 4 checks).
# ---------------------------------------------------------------------------

@query(
    "quality_metrics_lineitem",
    """
SELECT
    COUNT(*) AS total_rows,
    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_quantity,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
        AS BIGINT) AS oob_discount,
    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS distinct_keys
FROM lineitem
""",
)
def quality_metrics_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    oob = (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
    return lineitem.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_quantity"),
        F.sum(F.when(oob, 1).otherwise(0)).alias("oob_discount"),
        F.count_distinct(F.struct("l_orderkey", "l_linenumber")).alias(
            "distinct_keys"
        ),
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table profile: one pass, one row per column.
# ---------------------------------------------------------------------------

def _profile_oracle_branch(c: str, kind: str) -> str:
    base = (
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
        f"COUNT(*) - COUNT({c}) AS n_nulls, "
        f"COUNT(DISTINCT {c}) AS n_distinct, "
    )
    if kind == "int":
        return base + (
            f"CAST(MIN({c}) AS DOUBLE) AS min_num, "
            f"CAST(MAX({c}) AS DOUBLE) AS max_num, "
            f"FLOOR((CAST(SUM({c}) AS DOUBLE) / COUNT({c})) * 10000.0 + 0.5)"
            " / 10000.0 AS mean_num, "
            "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str "
            "FROM orders"
        )
    if kind == "double":
        return base + (
            f"CAST(MIN({c}) AS DOUBLE) AS min_num, "
            f"CAST(MAX({c}) AS DOUBLE) AS max_num, "
            f"FLOOR((CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)"
            f" / COUNT({c}))"
            " * 10000.0 + 0.5) / 10000.0 AS mean_num, "
            "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str "
            "FROM orders"
        )
    if kind == "ts":
        return base + (
            "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
            "CAST(NULL AS DOUBLE) AS mean_num, "
            f"CAST(CAST(MIN({c}) AS DATE) AS VARCHAR) AS min_str, "
            f"CAST(CAST(MAX({c}) AS DATE) AS VARCHAR) AS max_str FROM orders"
        )
    return base + (
        "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
        "CAST(NULL AS DOUBLE) AS mean_num, "
        f"MIN({c}) AS min_str, MAX({c}) AS max_str FROM orders"
    )


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    _profile_oracle_branch(c, kind)
    for c, kind in [
        ("o_orderkey", "int"),
        ("o_custkey", "int"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "double"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ]
)

@query("profile_orders_columns", _PROFILE_ORACLE)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile of every orders column — counts, nulls,
    exact distincts, numeric min/max/rounded-mean, string/date min/max
    — computed in ONE aggregation pass over one scan
    (operators/quality.py::profile_table), exploded to a row per
    column. The oracle recomputes each column's statistics as a
    UNION ALL of per-column aggregates; the hash match certifies the
    single-pass wide agg against six independent ones."""
    from rentals_data_pipeline_spark.operators.quality import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders)


@query("profile_orders_columns_approx")
def profile_orders_columns_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The documented 100 TB mode of the column profiler (r12,
    adjudicating the exact-distinct cost): ``exact_distinct=False``
    swaps the Expand-based exact COUNT(DISTINCT) — which replicates
    every scanned row (N_cols+1)-fold before the partial aggregate,
    the dominant cost of the exact profile — for HLL
    ``approx_count_distinct``: ONE un-expanded pass with bytes-sized
    state per column. Rows-only by necessity: HLL register maxima are
    engine-specific sketch values (the sketch_* family rationale); the
    exact twin ``profile_orders_columns`` is the oracle-certified
    pair, and per-column agreement (identical rows outside
    n_distinct; n_distinct within HLL relative-error bounds) is pinned
    by test against the exact profile."""
    from rentals_data_pipeline_spark.operators.quality import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, exact_distinct=False)


# ---------------------------------------------------------------------------
# Distribution-drift monitor: PSI between two ingestion periods.
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH b AS (
    SELECT event_type,
        CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END
            AS period,
        CAST(LEAST(15, GREATEST(0, FLOOR((value - 0.0) / 32.0))) AS INT)
            AS bin
    FROM events
),
counts AS (
    SELECT event_type, bin,
        COUNT(CASE WHEN period = 0 THEN 1 END) AS c_ref,
        COUNT(CASE WHEN period = 1 THEN 1 END) AS c_cur
    FROM b GROUP BY 1, 2
),
totals AS (
    SELECT event_type, SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur
    FROM counts GROUP BY 1
),
terms AS (
    SELECT c.event_type, t.n_ref, t.n_cur,
        ((c.c_cur + 0.5) / (t.n_cur + 8.0)
         - (c.c_ref + 0.5) / (t.n_ref + 8.0))
        * ln(((c.c_cur + 0.5) / (t.n_cur + 8.0))
             / ((c.c_ref + 0.5) / (t.n_ref + 8.0))) AS term
    FROM counts c JOIN totals t USING (event_type)
)
SELECT event_type,
    CAST(MAX(n_ref) AS BIGINT) AS n_ref,
    CAST(MAX(n_cur) AS BIGINT) AS n_cur,
    FLOOR(SUM(term) * 10000.0 + 0.5) / 10000.0 AS psi
FROM terms GROUP BY 1
"""


# Benford first-digit expected fractions, log10(1 + 1/d) fixed at 8 dp.
# Computed once in Python and embedded as IDENTICAL literals in the
# Spark plan and the oracle SQL — no ln/log10 ever evaluates inside an
# oracle-paired query (the repo's rounding contract), so the
# comparison is literal-exact by construction.
_BENFORD = {
    1: "0.30103000", 2: "0.17609126", 3: "0.12493874",
    4: "0.09691001", 5: "0.07918125", 6: "0.06694679",
    7: "0.05799195", 8: "0.05115252", 9: "0.04575749",
}

_BENFORD_ORACLE = f"""
WITH d AS (
    SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders WHERE o_totalprice >= 1.0
),
obs AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
tot AS (SELECT SUM(n) AS total FROM obs),
exp AS (
    SELECT * FROM (VALUES
        {", ".join(f"({k}, {v})" for k, v in sorted(_BENFORD.items()))}
    ) AS t(digit, expected_frac)
)
SELECT e.digit,
    CAST(COALESCE(o.n, 0) AS BIGINT) AS n_observed,
    CAST(t.total AS BIGINT) AS n_total,
    FLOOR((CAST(COALESCE(o.n, 0) AS DOUBLE) / t.total) * 1000000.0 + 0.5)
        / 1000000.0 AS observed_frac,
    CAST(e.expected_frac AS DOUBLE) AS expected_frac,
    FLOOR(ABS(CAST(COALESCE(o.n, 0) AS DOUBLE) / t.total
              - CAST(e.expected_frac AS DOUBLE))
          * 1000000.0 + 0.5) / 1000000.0 AS abs_deviation
FROM exp e LEFT JOIN obs o ON o.digit = e.digit, tot t
"""


@query("quality_benford_first_digit", _BENFORD_ORACLE)
def quality_benford_first_digit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford's-law first-digit audit of order totals (r12) — the
    classic fabricated-data / unit-mixup detector a DQ suite runs on
    money columns: observed first-significant-digit fractions against
    log10(1 + 1/d), with per-digit absolute deviation. Always 9 rows
    (digits with zero observations report 0). Scale shape: the fact
    reduces to a 9-row digit histogram in one map-side-combined
    aggregation; everything after is 9-row arithmetic. The first
    digit comes from FLOOR → BIGINT → string head — floor is
    IEEE-exact and integer casts/strings are identical across engines
    (double→string is NOT, and DuckDB's double→BIGINT cast rounds
    half-even where Spark truncates — both hazards sidestepped).
    Expected fractions are Python-computed literals embedded
    identically on both sides."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 1.0
    )
    obs = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = obs.agg(F.sum("n").alias("total"))
    expected = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(_BENFORD.items())],
        "digit int, expected_frac double",
    )
    r6 = lambda c: RND(c, 6)  # noqa: E731
    return (
        expected.join(obs, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_observed"),
            F.col("total").cast("long").alias("n_total"),
            r6(
                F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
            ).alias("observed_frac"),
            "expected_frac",
            r6(
                F.abs(
                    F.coalesce("n", F.lit(0)).cast("double")
                    / F.col("total")
                    - F.col("expected_frac")
                )
            ).alias("abs_deviation"),
        )
    )


@query("quality_psi_value_drift", _PSI_ORACLE)
def quality_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event `value` distribution,
    first half-month (reference) vs second (current), per event type —
    the snapshot-over-snapshot drift monitor a 100 TB ingest runs
    before promoting a new partition (operators/quality.py::psi_drift).
    16 power-of-two-width bins over [0, 512); one count shuffle on
    (type, bin) map-side combined, then a |types|-row rollup — the fact
    table never re-shuffles. ln() is the only libm call; the 16-term
    sum rounds at 4 dp, far above the ulp band, so the hash certifies
    the whole metric."""
    from rentals_data_pipeline_spark.operators.quality import psi_drift

    events = load_table(spark, sf_dir, "events")
    df = events.select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("period"),
    )
    return psi_drift(
        df, "event_type", "period", "value", n_bins=16, lo=0.0, width=32.0
    )


_KS_ORACLE = """
WITH e AS (
    SELECT event_type, value,
        CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END
            AS is_ref
    FROM events WHERE value IS NOT NULL
),
g AS (
    SELECT event_type, value,
        SUM(is_ref) AS cr, SUM(1 - is_ref) AS cc
    FROM e GROUP BY 1, 2
),
c AS (
    SELECT event_type,
        SUM(cr) OVER (PARTITION BY event_type ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cumr,
        SUM(cc) OVER (PARTITION BY event_type ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cumc,
        SUM(cr) OVER (PARTITION BY event_type) AS nr,
        SUM(cc) OVER (PARTITION BY event_type) AS nc
    FROM g
)
SELECT event_type,
    -- NULLIF: a single-period group divides by zero — an error in
    -- Spark's ANSI-on division and Inf/NaN under DuckDB's IEEE mode;
    -- the guard makes both engines agree on NULL
    FLOOR(MAX(ABS(CAST(cumr AS DOUBLE) / NULLIF(CAST(nr AS DOUBLE), 0.0)
                  - CAST(cumc AS DOUBLE) / NULLIF(CAST(nc AS DOUBLE), 0.0)))
          * 1000000.0 + 0.5) / 1000000.0 AS ks_d,
    CAST(MAX(nr) AS BIGINT) AS n_ref,
    CAST(MAX(nc) AS BIGINT) AS n_cur
FROM c GROUP BY 1
"""


@query("stats_ks_value_drift", _KS_ORACLE)
def stats_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D of the event `value`
    distribution, first half-month (reference) vs second (current),
    per event type — the binning-free drift monitor next to PSI
    (quality_psi_value_drift): D catches location/spread/shape changes
    PSI's fixed buckets can blur (operators/quality.py::ks_drift). One
    count shuffle on (type, value) map-side combined, a cumulative
    window over |types x distinct 2-dp values| rows (bounded at any
    fact scale), no libm — exact integer ECDFs, order-invariant MAX."""
    from rentals_data_pipeline_spark.operators.quality import ks_drift

    events = load_table(spark, sf_dir, "events")
    df = events.select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("period"),
    )
    return ks_drift(df, "event_type", "period", "value")


_MW_ORACLE = """
WITH e AS (
    SELECT event_type, value,
        CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END
            AS r
    FROM events WHERE value IS NOT NULL
),
g AS (
    SELECT event_type, value, COUNT(*) AS t, CAST(SUM(r) AS BIGINT) AS c1
    FROM e GROUP BY 1, 2
),
rk AS (
    SELECT event_type, t, c1,
        COALESCE(SUM(t) OVER (PARTITION BY event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM g
),
a AS (
    -- rank-sum and tie-term products widen to HUGEINT before they
    -- multiply (t^3 overflows BIGINT past ~2.1M-row tie runs),
    -- mirroring the Spark side's decimal(38,0) sums
    SELECT event_type,
        CAST(SUM(c1) AS BIGINT) AS n1,
        CAST(SUM(t) - SUM(c1) AS BIGINT) AS n2,
        SUM(CAST(c1 AS HUGEINT) * (2 * (cb + 1) + t - 1)) AS r1_2,
        SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
    FROM rk GROUP BY event_type
)
SELECT event_type, n1 AS n_ref, n2 AS n_cur,
    (CAST(r1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
        / 2.0 AS u_stat,
    FLOOR(
        ((CAST(r1_2 AS DOUBLE)
          - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
         - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        / NULLIF(SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
            * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
               - CAST(ties AS DOUBLE)
                 / NULLIF(CAST(n1 + n2 AS DOUBLE)
                          * (CAST(n1 + n2 AS DOUBLE) - 1.0), 0.0))),
          0.0)
        * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM a
"""


@query("stats_mann_whitney_value_drift", _MW_ORACLE)
def stats_mann_whitney_value_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U (rank-sum) of the event
    `value` distribution, first half-month (reference) vs second
    (current), per event type — the rank-based member of the drift
    family (operators/quality.py::mann_whitney_drift): PSI needs
    bucket edges, KS takes the largest ECDF gap, U measures the whole
    stochastic ordering and is the standard test when the metric is
    heavy-tailed.  Same scale shape as ks_drift: one map-side-combined
    count shuffle on (type, value), a cumulative window over the
    bounded distinct-value frame, integer rank/tie arithmetic, and one
    IEEE z-score division per group."""
    from rentals_data_pipeline_spark.operators.quality import (
        mann_whitney_drift,
    )

    events = load_table(spark, sf_dir, "events")
    df = events.select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("period"),
    )
    return mann_whitney_drift(df, "event_type", "period", "value")


_GINI_ORACLE = """
WITH rev AS (
    SELECT c.c_mktsegment AS segment, o.o_custkey AS k,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,2)))
                AS DECIMAL(20,2)) AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
rk AS (
    SELECT segment, x,
           ROW_NUMBER() OVER (PARTITION BY segment ORDER BY x, k) AS i
    FROM rev
),
a AS (
    SELECT segment, COUNT(*) AS n,
           SUM(CAST(i AS DECIMAL(18,0)) * x) AS s1,
           SUM(x) AS s
    FROM rk GROUP BY segment
)
SELECT segment, CAST(n AS BIGINT) AS n_entities,
       CAST(s AS DOUBLE) AS total_value,
       FLOOR(((2.0 * CAST(s1 AS DOUBLE)
               - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
              / NULLIF(CAST(n AS DOUBLE) * CAST(s AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS gini
FROM a
"""


@query("stats_gini_revenue_concentration", _GINI_ORACLE)
def stats_gini_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-customer revenue within each market
    segment (operators/quality.py::gini_concentration) — the
    concentration twin of the Pareto skyline and the key-skew profile:
    one number per segment saying how unequally revenue spreads over
    customers, the same diagnostic a curation pipeline runs over
    per-source token mass before fixing a sampling mixture.  The fact
    table aggregates to the customer dim FIRST (map-side combined,
    anchored DECIMAL(20,2) so rank products stay exact); the
    row_number window and the Gini fold run over the dim-sized frame."""
    from rentals_data_pipeline_spark.operators.quality import (
        gini_concentration,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
            .cast("decimal(20,2)")
            .alias("x")
        )
    )
    return gini_concentration(rev, "segment", "x", "o_custkey")


_SPEARMAN_ORACLE = """
WITH e AS (
    SELECT event_type, value,
           CAST(FLOOR(epoch(date_trunc('hour', ts)) / 3600.0) AS BIGINT)
               AS hr
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
cube AS (
    SELECT event_type, hr, value, COUNT(*) AS cnt
    FROM e GROUP BY 1, 2, 3
),
hm AS (
    SELECT event_type, hr, SUM(cnt) AS t,
           COALESCE(SUM(SUM(cnt)) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM cube GROUP BY event_type, hr
),
hrk AS (SELECT event_type, hr, 2 * (cb + 1) + t - 1 AS x2 FROM hm),
vm AS (
    SELECT event_type, value, SUM(cnt) AS t,
           COALESCE(SUM(SUM(cnt)) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM cube GROUP BY event_type, value
),
vrk AS (SELECT event_type, value, 2 * (cb + 1) + t - 1 AS y2 FROM vm),
j AS (
    SELECT c.event_type, CAST(c.cnt AS HUGEINT) AS cnt,
           CAST(h.x2 AS HUGEINT) AS x2, CAST(v.y2 AS HUGEINT) AS y2
    FROM cube c
    JOIN hrk h ON c.event_type = h.event_type AND c.hr = h.hr
    JOIN vrk v ON c.event_type = v.event_type AND c.value = v.value
),
a AS (
    SELECT event_type, SUM(cnt) AS n,
           SUM(cnt * x2) AS sx, SUM(cnt * y2) AS sy,
           SUM(cnt * x2 * y2) AS sxy,
           SUM(cnt * x2 * x2) AS sxx, SUM(cnt * y2 * y2) AS syy
    FROM j GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
    FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
           / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0.0))
          * 1000000.0 + 0.5) / 1000000.0 AS spearman_rho
FROM a
"""


@query("stats_spearman_value_trend", _SPEARMAN_ORACLE)
def stats_spearman_value_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between time (hourly buckets) and
    event `value`, per event type — the robust monotonic-trend monitor
    (operators/quality.py::spearman_rank_correlation): rho near 0 =
    stationary metric, |rho| rising = the value distribution is
    drifting monotonically over the month, without the outlier
    leverage of the least-squares slope (stats_regression_events) and
    without bucket edges (PSI).  Time is bucketed hourly so BOTH rank
    axes stay bounded (720 hours x 2-dp values) at any fact scale —
    the fact scans once into the (type, hr, value) count cube, ranks
    derive from the cube's marginals, and rho folds from exact
    decimal sums."""
    from rentals_data_pipeline_spark.operators.quality import (
        spearman_rank_correlation,
    )

    events = load_table(spark, sf_dir, "events")
    df = events.where(F.col("ts").isNotNull()).select(
        "event_type",
        "value",
        F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias(
            "hr"
        ),
    )
    return spearman_rank_correlation(df, "event_type", "hr", "value")


_MAD_ORACLE = """
WITH c AS (
    SELECT event_type, value, COUNT(*) AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cw AS (
    SELECT event_type, value, cnt,
        SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM c
),
med AS (
    SELECT event_type, MIN(value) AS med
    FROM cw WHERE cum >= (n + 1) // 2 GROUP BY event_type
),
dev AS (
    SELECT c.event_type, ABS(c.value - m.med) AS dv, c.cnt, m.med
    FROM c JOIN med m ON m.event_type = c.event_type
),
dgrp AS (
    SELECT event_type, dv, SUM(cnt) AS cnt, MAX(med) AS med
    FROM dev GROUP BY event_type, dv
),
dw AS (
    SELECT event_type, dv, cnt, med,
        SUM(cnt) OVER (PARTITION BY event_type ORDER BY dv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM dgrp
),
mad AS (
    SELECT event_type, MIN(dv) AS mad FROM dw
    WHERE cum >= (n + 1) // 2 GROUP BY event_type
),
fin AS (
    SELECT g.event_type, MAX(g.med) AS med, CAST(SUM(g.cnt) AS BIGINT) AS n,
        MAX(ma.mad) AS mad,
        CAST(SUM(CASE WHEN 0.6745 * g.dv > 3.5 * ma.mad
                 THEN g.cnt ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dgrp g JOIN mad ma ON ma.event_type = g.event_type
    GROUP BY g.event_type
)
SELECT event_type, n AS n_events, med AS med_value,
    mad AS mad_value, n_outliers,
    FLOOR((CAST(n_outliers AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0))
          * 1000000.0 + 0.5) / 1000000.0 AS outlier_frac
FROM fin
"""


@query("quality_mad_anomaly_events", _MAD_ORACLE)
def quality_mad_anomaly_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust outlier census of event `value` per type via the median
    absolute deviation (operators/quality.py::mad_outliers): modified
    z-score (Iglewicz-Hoaglin 0.6745*|x-med|/MAD) above 3.5 — the
    robust twin of ts_anomaly_zscore, whose mean/std the outliers
    themselves inflate.  Both medians are exact lower-median
    SELECTIONS over the bounded distinct-value frame (the repo's
    standing engine-replayable median contract), the deviations derive
    from the same count frame (one fact scan), and the outlier test
    multiplies instead of divides so a zero-MAD group needs no guard."""
    from rentals_data_pipeline_spark.operators.quality import mad_outliers

    events = load_table(spark, sf_dir, "events")
    return mad_outliers(
        events.select("event_type", "value"), "event_type", "value"
    )


_K_ANON_ORACLE = """
WITH q AS (
    SELECT c_mktsegment AS segment, c_nationkey,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
    FROM customer
),
g AS (
    SELECT segment, c_nationkey, bal_band, COUNT(*) AS sz
    FROM q GROUP BY 1, 2, 3
)
SELECT segment,
    CAST(SUM(sz) AS BIGINT) AS n_rows,
    COUNT(*) AS n_groups,
    CAST(MIN(sz) AS BIGINT) AS k_anonymity,
    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        AS at_risk_rows,
    FLOOR((CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
           / NULLIF(CAST(SUM(sz) AS DOUBLE), 0.0)) * 1000000.0 + 0.5)
        / 1000000.0 AS at_risk_frac
FROM g GROUP BY segment
"""


@query("quality_k_anonymity_customers", _K_ANON_ORACLE)
def quality_k_anonymity_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier set (nation, account-balance band) within each
    market segment — the privacy pre-flight a pipeline runs before
    customer-derived features enter a training corpus: k = the
    smallest equivalence-class size (k = 1 means some customer is
    uniquely re-identifiable from the QI combination alone), plus how
    many rows sit in classes below the k = 5 release bar.  Two
    map-side-combined aggregations — QI classes, then per-segment
    rollup — nothing row-sized ever re-shuffles; the band edges are
    one IEEE divide + floor, identical in both engines."""
    customer = load_table(spark, sf_dir, "customer")
    q = customer.select(
        F.col("c_mktsegment").alias("segment"),
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
    )
    g = q.groupBy("segment", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("sz")
    )
    at_risk = F.sum(
        F.when(F.col("sz") < 5, F.col("sz")).otherwise(F.lit(0))
    )
    return g.groupBy("segment").agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("sz").cast("long").alias("k_anonymity"),
        at_risk.cast("long").alias("at_risk_rows"),
        RND(
            at_risk.cast("double")
            / F.nullif(F.sum("sz").cast("double"), F.lit(0.0)),
            6,
        ).alias("at_risk_frac"),
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew diagnostics: the pre-flight salt-factor check.
# ---------------------------------------------------------------------------

def _skew_oracle_branch(key: str, target: int) -> str:
    return f"""
SELECT '{key}' AS key_col,
    CAST(SUM(c) AS BIGINT) AS n_rows,
    COUNT(*) AS n_keys,
    CAST(MAX(c) AS BIGINT) AS max_key_count,
    CAST(MAX(c) AS DOUBLE) / SUM(c) AS max_share,
    CAST((MAX(c) + {target - 1}) // {target} AS BIGINT)
        AS recommended_salt
FROM (SELECT COUNT(*) AS c FROM events GROUP BY {key})
"""


_SKEW_TARGET = 2000
_SKEW_ORACLE = "\nUNION ALL\n".join(
    _skew_oracle_branch(k, _SKEW_TARGET)
    for k in ("user_id", "event_type")
)


@query("quality_key_skew_events", _SKEW_ORACLE)
def quality_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for the two events join/agg keys
    (operators/quality.py::key_skew_profile): exact key cardinality,
    hottest-key row mass, its share of the table, and the integer salt
    factor that bounds any single task at the target row count — the
    numbers `salted_join`/`salted_agg` need BEFORE the shuffle strategy
    is chosen. event_type (5 keys over everything) profiles as the
    heavily salted case; user_id as the well-spread case. One
    map-side-combined count shuffle per key column; the oracle
    recomputes each profile from a plain GROUP BY. The target is 2000
    rows/task at this SF so the recommendation is a non-trivial
    integer at the gate scale (the operator defaults to 5M for real
    deployments)."""
    from rentals_data_pipeline_spark.operators.quality import key_skew_profile

    events = load_table(spark, sf_dir, "events")
    return key_skew_profile(
        events, ["user_id", "event_type"], target_rows_per_task=_SKEW_TARGET
    )


# DuckDB replay of operators/sampling.py::hash_bucket — the standing
# deterministic-assignment fragment (same md5-prefix parse the split /
# mixture samplers certify against).
_AB_ARM = (
    "(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
    " % 10000) < 5000"
)

_AB_WELCH_ORACLE = f"""
WITH pu AS (
    SELECT event_type, user_id,
        {_AB_ARM} AS in_a,
        CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) / 1000000.0
                      AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2, 3
),
a AS (
    SELECT event_type,
        COUNT(CASE WHEN in_a THEN 1 END) AS na,
        COUNT(CASE WHEN NOT in_a THEN 1 END) AS nb,
        SUM(CASE WHEN in_a THEN CAST(FLOOR(v * 1000000.0 + 0.5)
                                     / 1000000.0 AS DECIMAL(38,6)) END) AS sa,
        SUM(CASE WHEN NOT in_a THEN CAST(FLOOR(v * 1000000.0 + 0.5)
                                         / 1000000.0 AS DECIMAL(38,6)) END)
            AS sb,
        SUM(CASE WHEN in_a THEN CAST(FLOOR(v * v * 1000000.0 + 0.5)
                                     / 1000000.0 AS DECIMAL(38,6)) END) AS qa,
        SUM(CASE WHEN NOT in_a THEN CAST(FLOOR(v * v * 1000000.0 + 0.5)
                                         / 1000000.0 AS DECIMAL(38,6)) END)
            AS qb
    FROM pu GROUP BY 1
)
SELECT event_type,
    CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
    FLOOR((CAST(sa AS DOUBLE) / na) * 10000.0 + 0.5) / 10000.0 AS mean_a,
    FLOOR((CAST(sb AS DOUBLE) / nb) * 10000.0 + 0.5) / 10000.0 AS mean_b,
    FLOOR(((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
           / NULLIF(SQRT(
               (CAST(qa AS DOUBLE) - na * (CAST(sa AS DOUBLE) / na)
                                        * (CAST(sa AS DOUBLE) / na))
               / NULLIF(na - 1, 0) / na
             + (CAST(qb AS DOUBLE) - nb * (CAST(sb AS DOUBLE) / nb)
                                        * (CAST(sb AS DOUBLE) / nb))
               / NULLIF(nb - 1, 0) / nb), 0.0))
          * 10000.0 + 0.5) / 10000.0 AS t_welch
FROM a
"""


@query("stats_ab_welch_value", _AB_WELCH_ORACLE)
def stats_ab_welch_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (r13): users split into two arms by the
    certified deterministic md5 hash bucket (the samplers' assignment
    primitive — repeatable across runs, engines, and partitionings),
    metric = per-user total value, compared per event type with
    Welch's unequal-variance t statistic — the standard
    revenue-per-user experiment analysis, run entirely in-engine.

    Shape: one map-side-combined (type, user) shuffle folds the fact
    to per-user anchored-decimal totals; one conditional aggregate per
    type folds both arms' count/sum/sum-of-squares (no arm join, no
    second scan); means, variances (the n·m² form, spelled identically
    in the oracle), and the t statistic are IEEE expressions over
    those exact folds, rounded only at the emit boundary. Arms with
    n<2 yield NULL t (NULLIF guards both variance denominators and a
    zero pooled spread). ~1.4σ noise on the synthetic fixture — the
    expected null-experiment band, so the gate is non-vacuous without
    manufacturing a fake effect."""
    from rentals_data_pipeline_spark.operators.sampling import hash_bucket

    dec = "decimal(38,6)"
    r6 = lambda c: RND(c, 6)  # noqa: E731
    events = load_table(spark, sf_dir, "events")
    pu = (
        events.where(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        .groupBy(
            "event_type",
            "user_id",
            (hash_bucket(F.col("user_id"), 10000, "ab") < 5000).alias(
                "in_a"
            ),
        )
        .agg(F.sum(r6(F.col("value")).cast(dec)).cast("double").alias("v"))
    )
    in_a = F.col("in_a")
    a = pu.groupBy("event_type").agg(
        F.count(F.when(in_a, F.lit(1))).alias("na"),
        F.count(F.when(~in_a, F.lit(1))).alias("nb"),
        F.sum(F.when(in_a, r6(F.col("v")).cast(dec))).alias("sa"),
        F.sum(F.when(~in_a, r6(F.col("v")).cast(dec))).alias("sb"),
        F.sum(
            F.when(in_a, r6(F.col("v") * F.col("v")).cast(dec))
        ).alias("qa"),
        F.sum(
            F.when(~in_a, r6(F.col("v") * F.col("v")).cast(dec))
        ).alias("qb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / nad
    mb = F.col("sb").cast("double") / nbd
    var_a = (F.col("qa").cast("double") - nad * ma * ma) / F.nullif(
        F.col("na") - 1, F.lit(0)
    )
    var_b = (F.col("qb").cast("double") - nbd * mb * mb) / F.nullif(
        F.col("nb") - 1, F.lit(0)
    )
    se = F.sqrt(var_a / nad + var_b / nbd)
    return a.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        RND(ma, 4).alias("mean_a"),
        RND(mb, 4).alias("mean_b"),
        RND((ma - mb) / F.nullif(se, F.lit(0.0)), 4).alias("t_welch"),
    )
