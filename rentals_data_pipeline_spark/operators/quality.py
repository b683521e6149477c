"""Declarative data-quality framework.

Semantics parity with the reference (jobs/data_quality.py:20-225):

- ``DataQualityCheck``: name + check + severity ("warn" | "fail") +
  description (Q2, jobs/data_quality.py:24-38).
- Factories: null-percentage ≤ threshold with empty-df pass (Q3,
  :41-71), row-count ≥ min (Q4, :74-94), inclusive range with nulls
  passing (Q5, :97-127), composite-key uniqueness at warn severity
  (Q6, :130-158).
- Runner: executes ALL checks (no short-circuit), logs PASS/FAIL,
  tallies ``{total, passed, failed, warnings, details}``, then raises
  ``DataQualityError`` naming the failed fail-severity checks (Q7,
  :161-225).

Execution diverges deliberately (SURVEY §4.3): the reference runs 1-2
eager jobs per check (7 jobs / 6 uncached scans for 4 checks). Here
every built-in check compiles to aggregate *expressions* merged into
ONE ``df.agg(...)`` pass — one job, one scan, same check semantics, at
100 TB the difference between one pass over the table and seven.
Custom whole-DataFrame predicates (``check_fn``) are still supported
and run as their own action, preserving the reference's escape hatch.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.functions.rounding import round_half_up
from rentals_data_pipeline_spark.functions.widen import widen_if_narrow

logger = logging.getLogger(__name__)


class DataQualityError(Exception):
    """Raised when one or more fail-severity checks fail."""


@dataclass
class DataQualityCheck:
    """One declarative check.

    Exactly one of ``metrics``+``verify`` (single-pass path) or
    ``check_fn`` (custom eager path) is set.
    """

    name: str
    severity: str = "fail"  # "warn" | "fail"
    description: str = ""
    metrics: dict[str, Column] = field(default_factory=dict)
    verify: Callable[[dict[str, object]], bool] | None = None
    check_fn: Callable[[DataFrame], bool] | None = None


def null_percentage_check(
    column: str, threshold: float, severity: str = "fail"
) -> DataQualityCheck:
    """Null fraction of ``column`` ≤ threshold; empty DataFrame passes."""
    key = f"__nulls_{column}"

    def _verify(m: dict[str, object]) -> bool:
        total = m["__total"]
        if not total:
            return True  # empty-df passes (reference jobs/data_quality.py:54-55)
        return (m[key] or 0) / total <= threshold

    return DataQualityCheck(
        name=f"null_percentage_{column}",
        severity=severity,
        description=f"null fraction of {column} <= {threshold}",
        metrics={key: F.sum(F.col(column).isNull().cast("long"))},
        verify=_verify,
    )


def row_count_check(min_rows: int, severity: str = "fail") -> DataQualityCheck:
    return DataQualityCheck(
        name=f"row_count_min_{min_rows}",
        severity=severity,
        description=f"row count >= {min_rows}",
        metrics={},
        verify=lambda m: m["__total"] >= min_rows,
    )


def range_check(
    column: str, min_val: float, max_val: float, severity: str = "fail"
) -> DataQualityCheck:
    """Zero rows outside [min_val, max_val] (inclusive); NULLs pass —
    null comparisons are false (reference jobs/data_quality.py:110-113)."""
    key = f"__oob_{column}"
    cond = (F.col(column) < min_val) | (F.col(column) > max_val)
    return DataQualityCheck(
        name=f"range_{column}",
        severity=severity,
        description=f"{column} in [{min_val}, {max_val}]",
        metrics={key: F.sum(F.when(cond, 1).otherwise(0))},
        verify=lambda m: (m[key] or 0) == 0,
    )


def uniqueness_check(
    columns: list[str], severity: str = "warn", approximate: bool = False
) -> DataQualityCheck:
    """Composite key is unique: count == distinct-count on ``columns``.
    Warn severity by default (the reference's only warn-level check,
    jobs/data_quality.py:130-158). ``approximate=True`` swaps in
    ``approx_count_distinct`` — the 100 TB mode (a full distinct on a
    wide key is a giant shuffle; HLL is one pass, ~2% error)."""
    key = "__distinct_" + "_".join(columns)
    struct = F.struct(*[F.col(c) for c in columns])
    expr = (
        F.approx_count_distinct(struct) if approximate else F.count_distinct(struct)
    )
    return DataQualityCheck(
        name="uniqueness_" + "_".join(columns),
        severity=severity,
        description=f"({', '.join(columns)}) unique",
        metrics={key: expr},
        verify=lambda m: (m[key] or 0) == m["__total"],
    )


def run_quality_checks(
    df: DataFrame, checks: list[DataQualityCheck]
) -> dict[str, object]:
    """Run all checks; raise DataQualityError AFTER all complete if any
    fail-severity check failed (reference jobs/data_quality.py:161-225).

    All metric-based checks execute as one ``agg`` job.
    """
    agg_exprs: dict[str, Column] = {"__total": F.count(F.lit(1))}
    for c in checks:
        agg_exprs.update(c.metrics)
    metrics_row = df.agg(
        *[expr.alias(name) for name, expr in agg_exprs.items()]
    ).collect()[0]
    metrics = metrics_row.asDict()

    results: dict[str, object] = {
        "total": len(checks),
        "passed": 0,
        "failed": 0,
        "warnings": 0,
        "details": [],
    }
    failed_names: list[str] = []
    for c in checks:
        if c.check_fn is not None:
            ok = bool(c.check_fn(df))
        else:
            assert c.verify is not None
            ok = bool(c.verify(metrics))
        detail = {"name": c.name, "passed": ok, "severity": c.severity}
        results["details"].append(detail)
        if ok:
            results["passed"] += 1
            logger.info("DQ PASS %s (%s)", c.name, c.description)
        elif c.severity == "fail":
            results["failed"] += 1
            failed_names.append(c.name)
            logger.error("DQ FAIL %s (%s)", c.name, c.description)
        else:
            results["warnings"] += 1
            logger.warning("DQ WARN %s (%s)", c.name, c.description)

    if failed_names:
        raise DataQualityError(
            f"{len(failed_names)} DQ check(s) failed: {', '.join(failed_names)}"
        )
    return results


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """ANALYZE-style one-pass column profile: one output row per
    profiled column with (n_rows, n_nulls, n_distinct, numeric
    min/max/mean, string min/max). The DQ framework's single-pass-agg
    discipline applied to discovery instead of checks: every numeric /
    date / count statistic computes in ONE hash aggregation job over
    one scan; string min/max fold in a second, column-pruned pass
    whose 1-row result broadcast-joins back (r13 — keeping immutable
    string buffers out of the main aggregate keeps it HashAggregate
    instead of demoting the whole expanded pass to SortAggregate).
    The single wide row then explodes to long form (inline of
    structs — still codegen).

    ``exact_distinct=False`` swaps COUNT(DISTINCT) for HLL
    ``approx_count_distinct`` — at 100 TB, N exact distincts expand the
    scan N-fold (Spark's Expand operator), while the approx path keeps
    one pass with bytes-sized state; exact is the default because it is
    what the oracle can certify.

    Numeric means are hash-comparable across engines: floating-point
    columns are cast to ``decimal(38,6)`` per value BEFORE summing, so
    the sum is exact and order/partitioning-invariant at any row count
    (a rounded SUM(double) drifts by ~ulp(sum)*O(n) and can cross a
    rounding boundary at large scale); integer sums are exact natively.
    Timestamp min/max are reported as dates in ISO string form.
    """
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = columns or list(fields)
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}

    # The exact-distinct path expands every input row (N+1)-fold
    # (Spark's Expand) BEFORE the partial aggregate, so the partial agg
    # is the dominant cost and is partitions-bounded: a small corpus
    # read from one parquet file arrives as ONE partition and profiles
    # single-threaded (measured 2.98s -> 1.31s at sf0.1 on orders).
    # Conditional widen, ONE shared copy with the multimodal packers
    # (functions/widen.py::widen_if_narrow): no-op at real scale, on
    # streaming frames, and on exchange-bearing (derived) plans —
    # under AQE, toRdd() on a plan with upstream exchanges would
    # eagerly execute those shuffle stages just to read a partition
    # count (r11 ADVICE; the guard checks executedPlan, where
    # EnsureRequirements actually puts the exchanges — r12 review).
    # Every emitted statistic is partitioning-invariant by
    # construction (counts, min/max, exact-decimal sums), so the
    # repartition cannot change results.
    df = widen_if_narrow(df)

    # r13: STRING min/max live in a SEPARATE tiny aggregation. A
    # min/max over a string column carries an immutable aggregation
    # buffer, which demotes the WHOLE aggregate exec from
    # HashAggregate to SortAggregate — and on the exact-distinct path
    # that sort runs over the (N_cols+1)-fold Expand output, the
    # dominant cost of the profile (measured 1.92s -> 1.14s isolated
    # at sf0.1 on orders after the split). The second aggregate scans
    # only the string columns (column-pruned at the parquet reader)
    # and folds to ONE row that cross-joins back as a broadcast, so
    # the expensive expanded pass stays entirely hash-based. Results
    # are identical: the same aggregates, associated the same way.
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    str_aggs: list[Column] = []
    str_cols: list[str] = []
    for c in cols:
        t = fields[c]
        aggs.append(F.count(c).alias(f"{c}__nn"))
        distinct = (
            F.count_distinct(F.col(c))
            if exact_distinct
            else F.approx_count_distinct(c)
        )
        aggs.append(distinct.alias(f"{c}__nd"))
        if t in numeric:
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
            if t in ("float", "double"):
                exact_sum = F.sum(F.col(c).cast("decimal(38,6)"))
                mean = round_half_up(
                    exact_sum.cast("double") / F.count(c), 4
                )
            else:
                mean = round_half_up(F.sum(c) / F.count(c), 4)
            aggs.append(mean.alias(f"{c}__mean"))
        elif t.startswith("timestamp") or t == "date":
            # date-typed buffers are int-backed (mutable) — these stay
            # in the hash-aggregated main pass
            aggs.append(
                F.min(F.col(c).cast("date")).cast("string").alias(f"{c}__smin")
            )
            aggs.append(
                F.max(F.col(c).cast("date")).cast("string").alias(f"{c}__smax")
            )
        elif t == "string":
            str_cols.append(c)
            str_aggs.append(F.min(c).alias(f"{c}__smin"))
            str_aggs.append(F.max(c).alias(f"{c}__smax"))
        # other types: counts only

    one = df.agg(*aggs)
    if str_aggs:
        one = one.crossJoin(
            F.broadcast(df.select(*str_cols).agg(*str_aggs))
        )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def _field(name: str, col: Column) -> Column:
        return col.alias(name)

    rows = []
    for c in cols:
        t = fields[c]
        has_num = t in numeric
        has_str = t == "string" or t.startswith("timestamp") or t == "date"
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                (F.col(f"{c}__min") if has_num else null_d).alias("min_num"),
                (F.col(f"{c}__max") if has_num else null_d).alias("max_num"),
                (F.col(f"{c}__mean") if has_num else null_d).alias("mean_num"),
                (F.col(f"{c}__smin") if has_str else null_s).alias("min_str"),
                (F.col(f"{c}__smax") if has_str else null_s).alias("max_str"),
            )
        )
    return one.select(F.inline(F.array(*rows)))


def psi_drift(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    *,
    n_bins: int = 16,
    lo: float = 0.0,
    width: float = 32.0,
    scale: int = 4,
) -> DataFrame:
    """Population Stability Index between two periods of a numeric
    column, per group — the distribution-drift monitor a training-data
    pipeline runs between ingestion snapshots (feature drift, corpus
    shift, upstream schema accidents).

    ``period_col`` must be 0 (reference) / 1 (current). Values bin into
    ``n_bins`` fixed-width buckets over [lo, lo + n_bins*width), clamped
    at the edges; PSI = sum over bins of (p_cur - p_ref) * ln(p_cur /
    p_ref) with 0.5-per-bin Laplace smoothing so empty bins stay finite.

    Cross-engine determinism: binning is FLOOR of one IEEE division
    (prefer a power-of-two ``width`` — exact), proportions divide exact
    integers, and only ln() is libm (<=1 ulp apart per engine), so the
    10-term sum rounded to ``scale`` dp is hash-stable. Bins empty in
    BOTH periods contribute exactly 0, so no dense bin grid is needed —
    the whole metric is ONE count shuffle on (group, bin) (map-side
    combined) plus a |groups|-row rollup: at 100 TB the shuffle carries
    |groups| x n_bins rows, never the fact table.
    """
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
        ),
    ).cast("int")
    p = F.col(period_col)
    counts = df.groupBy(F.col(group_col), b.alias("bin")).agg(
        F.count(F.when(p == 0, 1)).alias("c_ref"),
        F.count(F.when(p == 1, 1)).alias("c_cur"),
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    j = counts.join(totals, group_col)
    half_bins = F.lit(n_bins * 0.5)
    p_ref = (F.col("c_ref") + F.lit(0.5)) / (F.col("n_ref") + half_bins)
    p_cur = (F.col("c_cur") + F.lit(0.5)) / (F.col("n_cur") + half_bins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        j.groupBy(group_col)
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            round_half_up(F.sum(term), scale).alias("psi"),
        )
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    target_rows_per_task: int = 5_000_000,
) -> DataFrame:
    """Join/aggregation-key skew diagnostics: one output row per
    candidate key column with exact cardinality, hottest-key mass, and
    the salt factor `salted_join`/`salted_agg` would need to bound any
    single task at ``target_rows_per_task`` rows — the pre-flight check
    a 100 TB pipeline runs BEFORE picking a shuffle strategy (AQE fixes
    skewed SORT-MERGE joins at runtime, but aggregation hot keys and
    broadcast-threshold decisions want numbers up front).

    Per key column: one count shuffle keyed on that column (map-side
    combined — the shuffle carries |keys| rows), then a 1-row rollup;
    rows appended across key columns by union. ``max_share`` divides
    exact integers in one IEEE division (deterministic); the salt
    recommendation is pure integer ceiling division. For trillion-key
    columns swap the exact count for sketches.py::heavy_hitters — the
    hot-key mass is what decides, and it is exactly what Misra-Gries
    bounds."""
    out = None
    for key in key_cols:
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        prof = counts.agg(
            F.lit(key).alias("key_col"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_key_count"),
            (
                F.max("c").cast("double") / F.sum("c")
            ).alias("max_share"),
            F.expr(
                f"CAST((max(c) + {target_rows_per_task - 1}) AS BIGINT)"
                f" div {target_rows_per_task}"
            ).alias("recommended_salt"),
        )
        out = prof if out is None else out.unionAll(prof)
    return out


def ks_drift(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two periods of a
    numeric column, per group — the binning-free companion to
    ``psi_drift``: D = max over observed values of |ECDF_ref -
    ECDF_cur|, sensitive to ANY distribution change (location, spread,
    shape) without choosing bucket edges.

    ``period_col`` must be 0 (reference) / 1 (current). D is exact, not
    an approximation: per distinct value the two period counts
    aggregate (one shuffle on (group, value), map-side combined), a
    cumulative-sum window per group walks the value axis, and the ECDF
    gap maximizes. At 100 TB the window input is |groups x distinct
    values| rows — for fixed-precision metrics (2-dp money, sensor
    ticks) that is bounded regardless of row count, and the fact table
    itself shuffles once as pre-aggregated counts.

    Cross-engine determinism: ECDFs divide exact integers (one IEEE
    division each), the gap is one subtraction + abs, and MAX is
    order-invariant — no libm, no fp summation. The result rounds
    half-up at ``scale`` dp only to normalize the printed double.
    """
    # NULL values carry no distribution mass — and engines disagree on
    # NULL placement in window ORDER BY (Spark NULLS FIRST, ANSI
    # engines often NULLS LAST), so they must not enter the ECDF walk
    counts = df.where(F.col(value_col).isNotNull()).groupBy(
        group_col, value_col
    ).agg(
        F.sum(F.when(F.col(period_col) == 0, 1).otherwise(0)).alias("_cr"),
        F.sum(F.when(F.col(period_col) == 1, 1).otherwise(0)).alias("_cc"),
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = counts.select(
        F.col(group_col),
        F.sum("_cr").over(w_cum).alias("_cumr"),
        F.sum("_cc").over(w_cum).alias("_cumc"),
        F.sum("_cr").over(w_all).alias("_nr"),
        F.sum("_cc").over(w_all).alias("_nc"),
    )
    # nullif guards: a group whose rows all fall in ONE period has
    # _nr or _nc = 0 — unguarded, Spark's ANSI-on division raises
    # DIVIDE_BY_ZERO and DuckDB's IEEE mode yields Inf/NaN. With the
    # guard both engines produce NULL → the group's ks_d is NULL (no
    # two-sample statistic exists).
    d = F.abs(
        F.col("_cumr").cast("double")
        / F.nullif(F.col("_nr").cast("double"), F.lit(0.0))
        - F.col("_cumc").cast("double")
        / F.nullif(F.col("_nc").cast("double"), F.lit(0.0))
    )
    return cum.groupBy(group_col).agg(
        round_half_up(F.max(d), scale).alias("ks_d"),
        F.max("_nr").cast("long").alias("n_ref"),
        F.max("_nc").cast("long").alias("n_cur"),
    )


def _avg_rank2_over_counts(
    counts: DataFrame, group_col: str, axis: str, count_col: str, out: str
) -> DataFrame:
    """INTEGER ``2*avg_rank`` of each (group, axis-value) tie run from
    pre-aggregated counts: a run starting after ``cb`` preceding rows
    with ``t`` members spans ranks cb+1 .. cb+t, and twice its average
    rank is lowest + highest = 2*(cb+1) + t - 1 — so average-tie ranks
    never touch fp arithmetic.  Shared by ``mann_whitney_drift`` and
    ``spearman_rank_correlation`` (and spelled identically in both
    oracles); keeps every other column of ``counts``."""
    w_prev = (
        Window.partitionBy(group_col)
        .orderBy(axis)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return counts.withColumn(
        out,
        F.lit(2)
        * (F.coalesce(F.sum(count_col).over(w_prev), F.lit(0)) + 1)
        + F.col(count_col)
        - 1,
    )


def mann_whitney_drift(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between two
    periods of a numeric column, per group — the rank-based drift
    monitor next to ``ks_drift``: where KS reacts to the largest ECDF
    gap, U measures the whole stochastic ordering (P[ref > cur]), the
    standard choice when the metric is heavy-tailed and means/KS are
    dominated by outliers.  ``period_col`` must be 0 (reference) / 1
    (current); returns per group the sample sizes, the exact
    tie-corrected U of the reference sample, and the normal-
    approximation z score.

    Exact, not approximate: per distinct value the two period counts
    aggregate (ONE shuffle on (group, value), map-side combined); a
    cumulative window over the |groups x distinct values| frame
    assigns each tie group its average rank as the INTEGER
    ``2*avg_rank`` (= lowest + highest rank in the run, so no fp rank
    arithmetic exists anywhere); the rank-sum, the tie term
    sum(t^3 - t), and the sample sizes fold as integers.  At 100 TB
    the window input is bounded by value cardinality (2-dp metrics),
    exactly like ks_drift, and the fact table shuffles once as
    pre-aggregated counts.

    Cross-engine determinism: U = (R1_2 - n1*(n1+1)) / 2 and the z
    denominator sqrt((n1*n2/12) * ((N+1) - T/(N*(N-1)))) are built
    from exact integers with the identical IEEE expression tree the
    oracle spells, so values match bit-for-bit before the final
    ``scale``-dp normalization.  nullif guards: a group with N <= 1
    (tie-term divisor 0), an all-tied group (sigma 0), or an
    empty period (n1*n2 = 0) yields NULL z in BOTH engines instead of
    an ANSI divide-by-zero error / IEEE Inf."""
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(
            F.count(F.lit(1)).alias("_t"),
            F.sum(
                F.when(F.col(period_col) == 0, 1).otherwise(0)
            ).alias("_c1"),
        )
    )
    rk = _avg_rank2_over_counts(
        counts, group_col, value_col, "_t", "_rank2"
    )
    # rank-sum and tie-term products widen to decimal BEFORE they
    # multiply: a tie run past ~2.1M rows makes t^3 overflow int64
    # (silent garbage ANSI-off, an error ANSI-on / in the oracle's
    # BIGINT) — decimal(38,0) holds both exactly at any claimed scale,
    # matching spearman_rank_correlation and the oracle's HUGEINT.
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    td = F.col("_t").cast(d19)
    agg = rk.groupBy(group_col).agg(
        F.sum("_c1").cast("long").alias("_n1"),
        (F.sum("_t") - F.sum("_c1")).cast("long").alias("_n2"),
        F.sum(F.col("_c1").cast(d19) * F.col("_rank2").cast(d19))
        .cast(d38)
        .alias("_r1_2"),
        F.sum(td * td * td - td).cast(d38).alias("_ties"),
    )
    n1d = F.col("_n1").cast("double")
    n2d = F.col("_n2").cast("double")
    nd = (F.col("_n1") + F.col("_n2")).cast("double")
    u = (F.col("_r1_2").cast("double") - n1d * (n1d + F.lit(1.0))) / F.lit(
        2.0
    )
    sigma = F.sqrt(
        (n1d * n2d / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - F.col("_ties").cast("double")
            / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
        )
    )
    return agg.select(
        F.col(group_col),
        F.col("_n1").alias("n_ref"),
        F.col("_n2").alias("n_cur"),
        u.alias("u_stat"),
        round_half_up(
            (u - n1d * n2d / F.lit(2.0)) / F.nullif(sigma, F.lit(0.0)),
            scale,
        ).alias("z_score"),
    )


def spearman_rank_correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Spearman rank correlation (average ties) between two numeric
    columns, per group — the robust monotonic-association monitor: fed
    (time-bucket, metric) it answers "is this metric drifting
    monotonically over the period?" without assuming linearity
    (``regression_events`` is its parametric sibling) and without
    outlier leverage.

    Exact, not approximate, and ONE pass over the fact: rows collapse
    to a (group, x, y) count cube (one map-side-combined shuffle whose
    exchange is REUSED by every downstream branch, so the fact scans
    once); each axis's average ranks derive from the cube's marginal
    counts as the INTEGER ``2*avg_rank`` (lowest + highest rank of the
    tie run); the two |group x distinct| rank maps broadcast back onto
    the cube; and rho folds from count-weighted decimal(38,0) sums via
    the Pearson-on-ranks identity
    (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)) —
    affine-invariant, so the doubled ranks cancel.  All arithmetic is
    exact integers until the final sqrt/divide, which both engines
    evaluate with the identical IEEE tree.  Decimal(38,0) holds
    n*Sxy ~ 4n^4 exactly up to ~10^9 rows per group; beyond that,
    pre-bucket the axes (the catalog query buckets time hourly for
    exactly this reason).  nullif guards a constant axis (zero
    variance -> NULL rho, not an ANSI divide error)."""
    d19 = "decimal(19,0)"
    d38 = "decimal(38,0)"
    cube = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col, x_col, y_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )

    def _rank2(axis: str, out: str) -> DataFrame:
        marg = cube.groupBy(group_col, axis).agg(F.sum("_cnt").alias("_t"))
        return _avg_rank2_over_counts(
            marg, group_col, axis, "_t", out
        ).select(group_col, axis, out)

    j = (
        cube.join(F.broadcast(_rank2(x_col, "_x2")), [group_col, x_col])
        .join(F.broadcast(_rank2(y_col, "_y2")), [group_col, y_col])
        .select(
            F.col(group_col),
            F.col("_cnt").cast(d19).alias("_c"),
            F.col("_x2").cast(d19).alias("_x2"),
            F.col("_y2").cast(d19).alias("_y2"),
        )
    )
    agg = j.groupBy(group_col).agg(
        F.sum("_c").cast(d38).alias("_n"),
        F.sum(F.col("_c") * F.col("_x2")).cast(d38).alias("_sx"),
        F.sum(F.col("_c") * F.col("_y2")).cast(d38).alias("_sy"),
        F.sum(F.col("_c") * F.col("_x2") * F.col("_y2")).cast(d38).alias("_sxy"),
        F.sum(F.col("_c") * F.col("_x2") * F.col("_x2")).cast(d38).alias("_sxx"),
        F.sum(F.col("_c") * F.col("_y2") * F.col("_y2")).cast(d38).alias("_syy"),
    )
    num = (
        F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ).cast("double")
    den = F.sqrt(
        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
            "double"
        )
    )
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("long").alias("n_events"),
        round_half_up(num / F.nullif(den, F.lit(0.0)), scale).alias(
            "spearman_rho"
        ),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Robust outlier census per group via the median absolute
    deviation: a row is an outlier when its modified z-score
    (Iglewicz-Hoaglin: 0.6745 * |x - med| / MAD) exceeds 3.5 — the
    robust twin of the mean/std z-score (``ts_anomaly_zscore``), immune
    to the outliers it is hunting inflating the spread estimate.

    Both medians are LOWER medians by SELECTION (first value at half
    cumulative mass), the repo's standing exact-and-engine-replayable
    median contract (see ``stats_weighted_median_orders``) — no
    interpolation, so no fp-arithmetic parity hazard.  ONE pass over
    the fact: rows collapse to (group, value) counts (map-side
    combined; the exchange is reused by every downstream branch), the
    median selects on the cumulative-count window over the bounded
    distinct-value frame, deviations DERIVE from the same count frame
    (|v - med| weighted by cnt — the fact is never re-scanned), and the
    MAD selects the same way over the deviation frame.  The outlier
    test multiplies instead of divides (0.6745*dev > 3.5*MAD), so a
    zero-MAD group needs no guard and both engines agree: any nonzero
    deviation is then an outlier."""
    c = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )

    def _lower_median(counts: DataFrame, axis: str, out: str) -> DataFrame:
        w_cum = (
            Window.partitionBy(group_col)
            .orderBy(axis)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(group_col)
        cw = counts.select(
            F.col(group_col),
            F.col(axis),
            F.sum("_cnt").over(w_cum).alias("_cum"),
            F.sum("_cnt").over(w_all).alias("_n"),
        )
        return (
            cw.where(F.col("_cum") >= F.expr("(_n + 1) div 2"))
            .groupBy(group_col)
            .agg(
                F.min(axis).alias(out),
                F.max("_n").cast("long").alias("_n"),
            )
        )

    med = _lower_median(c, value_col, "_med")
    dev = c.join(F.broadcast(med), group_col).select(
        F.col(group_col),
        F.abs(F.col(value_col) - F.col("_med")).alias("_dv"),
        "_cnt",
        "_med",
    )
    dgrp = dev.groupBy(group_col, "_dv").agg(
        F.sum("_cnt").alias("_cnt"), F.max("_med").alias("_med")
    )
    mad = _lower_median(dgrp, "_dv", "_mad").drop("_n")
    fin = dgrp.join(F.broadcast(mad), group_col).groupBy(group_col).agg(
        F.max("_med").alias("_medv"),
        F.sum("_cnt").cast("long").alias("_nev"),
        F.max("_mad").alias("_madv"),
        F.sum(
            F.when(
                F.lit(0.6745) * F.col("_dv") > F.lit(3.5) * F.col("_mad"),
                F.col("_cnt"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("_out"),
    )
    return fin.select(
        F.col(group_col),
        F.col("_nev").alias("n_events"),
        F.col("_medv").alias("med_value"),
        F.col("_madv").alias("mad_value"),
        F.col("_out").alias("n_outliers"),
        round_half_up(
            F.col("_out").cast("double")
            / F.nullif(F.col("_nev").cast("double"), F.lit(0.0)),
            scale,
        ).alias("outlier_frac"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Gini coefficient of a non-negative measure per group — the
    single-number concentration diagnostic next to the Pareto skyline
    and key-skew profiles: 0 = every entity contributes equally,
    ->1 = one entity carries everything.  The pipeline use is spotting
    a source/segment whose revenue (or token mass, or dedup-cluster
    mass) silently concentrates into a few keys — the precursor of
    shuffle skew and of over-sampled sources in a training mixture.

    ``df`` must carry one row per entity with ``value_col`` an EXACT
    type (integer or anchored decimal — the caller fixes the decimal
    contract); ``id_col`` breaks value ties so ranks are total and
    deterministic.  Uses the rank formulation
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over values sorted
    ascending: ONE row_number window over the entity-level frame (dim-
    sized — |customers|, |sources| — never the fact table, which the
    caller has already aggregated away) and one map-side-combined
    fold; rank products stay in decimal so both sums are exact, and
    the single division is one IEEE op per group.  nullif guards the
    all-zero group (n*sum = 0 -> NULL, not an ANSI error)."""
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    rk = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_i"),
    )
    agg = rk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_i").cast("decimal(18,0)") * F.col("_x")).alias("_s1"),
        F.sum("_x").alias("_s"),
    )
    nd = F.col("_n").cast("double")
    sd = F.col("_s").cast("double")
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("long").alias("n_entities"),
        sd.alias("total_value"),
        round_half_up(
            (F.lit(2.0) * F.col("_s1").cast("double") - (nd + F.lit(1.0)) * sd)
            / F.nullif(nd * sd, F.lit(0.0)),
            scale,
        ).alias("gini"),
    )
