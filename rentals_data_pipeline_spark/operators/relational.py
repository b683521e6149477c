"""Relational core: project/cast, filters, dedup, joins, set ops, sort.

Parity targets: enforce_schema's select+cast+drop (reference:
jobs/transform.py:37-56), not-null cleaning (jobs/transform.py:91-104),
key-based dedup (jobs/transform.py:107-119). The reference has **no
joins by design** (window-over-join rule, CLAUDE.md:20) — joins enter
here as first-class engine capability for the star-schema surface.

Scale notes:
- ``dedup_keep_first`` replaces ``dropDuplicates`` (shuffle-order
  nondeterministic, SURVEY §7.4) with row_number over an explicit
  tiebreaker — deterministic, oracle-comparable, same single shuffle.
- ``join_dims`` broadcasts small dimensions explicitly; big-big joins
  stay sort-merge and AQE handles skew.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

Op = Callable[[DataFrame], DataFrame]


def project_cast(columns: dict[str, T.DataType]) -> Op:
    """Select exactly ``columns`` with casts; drops everything else
    (defensive second cast — reference jobs/transform.py:50-56)."""

    def _apply(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f"`{c}`").cast(t).alias(c) for c, t in columns.items()])

    return _apply


def drop_null_rows(columns: list[str]) -> Op:
    """Remove rows with NULL in any of ``columns`` — run *before*
    window ops so lag/rank never see null measure rows (semantic
    ordering, reference jobs/transform.py:95-97)."""

    def _apply(df: DataFrame) -> DataFrame:
        cond = F.lit(True)
        for c in columns:
            cond = cond & F.col(c).isNotNull()
        return df.filter(cond)

    return _apply


def dedup_keep_first(keys: list[str], order_by: list[Column]) -> Op:
    """Deterministic keep-first dedup: row_number over keys ordered by
    explicit tiebreakers, keep row 1. One shuffle, same as
    dropDuplicates, but reproducible under any partitioning. An input
    already hash-clustered on a subset of ``keys`` is reused, not
    reshuffled, so a caller can cluster once for this dedup and a later
    window on that subset. The map-side top-1 then has no exchange to
    prune ahead of: duplicates ride the caller's shuffle."""

    def _apply(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(*order_by)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    return _apply


def join_dims(
    dims: list[tuple[DataFrame, list[str] | Column]],
    how: str = "inner",
    broadcast_dims: bool = True,
) -> Op:
    """Chain joins against dimension tables, broadcasting each dim.

    At 100 TB the fact side never moves for broadcast joins — each
    executor streams its fact partitions against the replicated dim.
    """

    def _apply(df: DataFrame) -> DataFrame:
        out = df
        for dim, on in dims:
            side = F.broadcast(dim) if broadcast_dims else dim
            out = out.join(side, on=on, how=how)
        return out

    return _apply


def semi_join(other: DataFrame, on: list[str] | Column) -> Op:
    def _apply(df: DataFrame) -> DataFrame:
        return df.join(other, on=on, how="left_semi")

    return _apply


def anti_join(other: DataFrame, on: list[str] | Column) -> Op:
    def _apply(df: DataFrame) -> DataFrame:
        return df.join(other, on=on, how="left_anti")

    return _apply


def asof_join_backward(
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
) -> Op:
    """Backward as-of left join: for each left row, attach the payload
    of the latest right row with ``right_ts <= left_ts`` within the same
    ``on`` keys (NULLs when no prior right row exists).

    SURVEY §2.4's generalization of the reference's lag() prior-row
    pattern (jobs/transform.py:122-140) to *two* tables. Implemented as
    union + window — the scalable shape: both sides are tagged, unioned,
    and a single partitionBy(on) orderBy(ts, side) sort lets
    ``last(payload_struct, ignorenulls=True)`` carry the most recent
    right payload forward into each left row. ONE shuffle + sort total,
    vs a range self-join's quadratic per-key pair space. Right rows
    order before left rows at equal ts, so an exactly-simultaneous right
    row IS matched (DuckDB ASOF JOIN's >= semantics).

    The payload rides in a struct so a NULL *field* in the matched right
    row stays NULL instead of falling through to an older row
    (``last(ignorenulls)`` skips NULL structs — and the struct is
    non-null for every right row — but would skip NULL bare columns).
    Among right rows with identical (keys, ts) the survivor is
    plan-order dependent; add a tiebreaker column to ``right_ts``'s
    ordering upstream if that matters.

    ``payload`` maps right-side column → output column name.
    """

    def _apply(left: DataFrame) -> DataFrame:
        lcols = left.columns
        passthrough = [c for c in lcols if c not in on]
        r2 = right.select(
            *on,
            F.col(right_ts).alias("_t"),
            F.lit(0).alias("_side"),
            F.struct(*[F.col(c) for c in payload]).alias("_p"),
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in passthrough
            ],
        )
        l2 = left.select(
            *on,
            F.col(left_ts).alias("_t"),
            F.lit(1).alias("_side"),
            F.lit(None).cast(r2.schema["_p"].dataType).alias("_p"),
            *passthrough,
        )
        w = (
            Window.partitionBy(*on)
            .orderBy("_t", "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            l2.unionByName(r2)
            .withColumn("_last", F.last("_p", ignorenulls=True).over(w))
            .where(F.col("_side") == 1)
            .select(
                *lcols,
                *[F.col(f"_last.{c}").alias(out) for c, out in payload.items()],
            )
        )

    return _apply


def asof_join_forward(
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
) -> Op:
    """Forward as-of left join: for each left row, attach the payload
    of the EARLIEST right row with ``right_ts >= left_ts`` within the
    same ``on`` keys (NULLs when no later right row exists). Mirror of
    ``asof_join_backward``: same union + single window-sort shape (one
    shuffle), but the frame looks forward (currentRow →
    unboundedFollowing, ``first(ignorenulls)``) and left rows order
    BEFORE right rows at equal ts so an exactly-simultaneous right row
    IS matched (DuckDB forward-ASOF's <= semantics)."""

    def _apply(left: DataFrame) -> DataFrame:
        lcols = left.columns
        passthrough = [c for c in lcols if c not in on]
        r2 = right.select(
            *on,
            F.col(right_ts).alias("_t"),
            F.lit(1).alias("_side"),
            F.struct(*[F.col(c) for c in payload]).alias("_p"),
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in passthrough
            ],
        )
        l2 = left.select(
            *on,
            F.col(left_ts).alias("_t"),
            F.lit(0).alias("_side"),
            F.lit(None).cast(r2.schema["_p"].dataType).alias("_p"),
            *passthrough,
        )
        w = (
            Window.partitionBy(*on)
            .orderBy("_t", "_side")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        return (
            l2.unionByName(r2)
            .withColumn("_next", F.first("_p", ignorenulls=True).over(w))
            .where(F.col("_side") == 0)
            .select(
                *lcols,
                *[
                    F.col(f"_next.{src}").alias(dst)
                    for src, dst in payload.items()
                ],
            )
        )

    return _apply


def salted_agg(
    keys: list[str],
    partial_aggs: list[tuple[Column, str]],
    final_aggs: list[Column],
    salt: int = 16,
) -> Op:
    """Two-phase aggregation for skewed group keys: phase 1 aggregates
    on (keys…, salt) — the hot key's rows split across ``salt`` tasks —
    phase 2 combines the per-salt partials on the bare keys, touching
    at most ``salt`` rows per key.

    ``partial_aggs`` are (expression, name) computed per (key, salt);
    ``final_aggs`` combine the named partial columns (sum of counts,
    sum of sums, max of maxes — any algebraic aggregate re-aggregates
    losslessly; averages must be derived from sum/count at the final
    level, never averaged across partials).

    Note Spark's hash aggregation already does map-side partial
    combine, which handles most skew for *low-cardinality* aggregates;
    explicit salting matters when per-key state is too big to combine
    map-side (collect_set/collect_list shapes) or when a downstream
    window/sort on the same key inherits the skew.
    """

    def _apply(df: DataFrame) -> DataFrame:
        s = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
        partial = (
            df.withColumn("_salt", s.cast("int"))
            .groupBy(*keys, "_salt")
            .agg(*[e.alias(n) for e, n in partial_aggs])
        )
        return partial.groupBy(*keys).agg(*final_aggs)

    return _apply


def salted_join(
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 16,
) -> Op:
    """Equi-join with the left side's hot keys spread across ``salt``
    shuffle partitions.

    For a skewed LEFT key (one key = a large fraction of rows), a plain
    shuffle join lands the whole key on one task. Here each left row
    gets a deterministic salt from its whole-row hash, and the right
    side is replicated ``salt``× (explode over a sequence), so the join
    key becomes (keys…, salt) and the hot key's rows split across
    ``salt`` tasks. Replication multiplies the right side's shuffle
    volume — use only when the right side is much smaller than the hot
    key's row count, and prefer AQE's skew-join splitting
    (spark.sql.adaptive.skewJoin, on by default in session.py) for
    sort-merge shapes it already handles; salting remains necessary for
    skewed *aggregation* keys and shuffled-hash paths AQE won't split.

    Supports how ∈ {inner, left}: right-side-preserving joins would
    emit one unmatched right row per salt replica.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left' only")

    def _apply(left: DataFrame) -> DataFrame:
        lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
        l2 = left.withColumn("_salt", lsalt.cast("int"))
        r2 = right.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        return l2.join(r2, on=[*on, "_salt"], how=how).drop("_salt")

    return _apply


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    on: list[str] | None = None,
) -> DataFrame:
    """Overlap join of half-open intervals [start, end) — the operator
    Spark lacks natively (a naive ``l_start < r_end AND r_start <
    l_end`` theta join is a broadcast-nested-loop: quadratic work and a
    broadcast of one whole side).

    Scale shape: each interval explodes to the fixed-width buckets it
    spans (``bucket_width`` in the column's native unit — seconds for
    timestamps via unix seconds, days for dates via day numbers), the
    pair space is generated by an equi-join on (bucket [, ``on``
    keys]), and the overlap predicate verifies exactly. Replication
    factor is interval_span/bucket_width per row, shuffle is an
    equi-join — never n². Pick ``bucket_width`` ≈ the typical interval
    span: much smaller multiplies replication, much larger multiplies
    candidate pairs per bucket.

    An overlapping pair shares every bucket in the overlap range; to
    emit it exactly once WITHOUT a distinct shuffle, the join keeps a
    pair only in the bucket containing max(l_start, r_start) — the
    first overlapped bucket, unique per pair (the standard dedup-free
    bucketed interval join; DuckDB/Trino plan the same shape for range
    joins).

    Columns must be pre-projected to disjoint names (standard for the
    pair-output operators here); starts/ends must be integral (unix
    seconds / day numbers) so bucket arithmetic is exact. EMPTY
    intervals (start >= end, incl. NULL bounds) are dropped up front:
    the textbook overlap predicate ``s1 < e2 AND s2 < e1`` wrongly
    calls an empty [x, x) "overlapping" anything containing x, and a
    degenerate interval's bucket sequence would run backwards.
    """
    on = on or []
    left = left.where(F.col(l_start) < F.col(l_end))
    right = right.where(F.col(r_start) < F.col(r_end))

    def buckets(start: str, end: str) -> Column:
        # [start, end): last contained point is end-1; floor (not
        # truncate-toward-zero) so pre-1970 epochs bucket correctly
        return F.sequence(
            F.floor(F.col(start) / bucket_width).cast("long"),
            F.floor((F.col(end) - 1) / bucket_width).cast("long"),
        )

    lb = left.withColumn("_bucket", F.explode(buckets(l_start, l_end)))
    rb = right.withColumn("_bucket", F.explode(buckets(r_start, r_end)))
    pair_start = F.greatest(F.col(l_start), F.col(r_start))
    return (
        lb.join(rb, on=[*on, "_bucket"])
        .where(
            (F.col(l_start) < F.col(r_end))
            & (F.col(r_start) < F.col(l_end))
            & (F.col("_bucket") == F.floor(pair_start / bucket_width).cast("long"))
        )
        .drop("_bucket")
    )


def suggest_bucket_width(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    percentile: float = 0.5,
    accuracy: int = 10_000,
) -> int:
    """Derive ``interval_overlap_join``'s bucket width from the data in
    ONE aggregation pass instead of a caller-supplied constant (round-4
    verdict item #5): the approximate ``percentile`` of interval spans
    across both sides. The median span is the sweet spot the join's
    docstring prescribes — buckets much narrower multiply replication
    (span/width buckets per row), much wider multiply candidate pairs
    per bucket; at 100 TB run this once on a sample or the full table
    (single shuffle-free partial-agg job) and reuse the width for every
    incremental join against the same tables.

    Empty/degenerate intervals are excluded exactly as the join itself
    excludes them; returns ≥ 1 (integral native units), and 1 when both
    sides are empty (any width is vacuously fine on no rows).
    """
    spans = (
        left.where(F.col(l_start) < F.col(l_end))
        .select((F.col(l_end) - F.col(l_start)).alias("_span"))
        .unionByName(
            right.where(F.col(r_start) < F.col(r_end)).select(
                (F.col(r_end) - F.col(r_start)).alias("_span")
            )
        )
    )
    row = spans.agg(
        F.percentile_approx("_span", percentile, accuracy).alias("_p")
    ).first()
    if row is None or row["_p"] is None:
        return 1
    return max(1, int(row["_p"]))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Change-data-capture between two snapshots of a keyed table:
    classify every key as ``inserted`` (new only), ``deleted`` (old
    only), ``changed`` (both, any ``compare`` column differs under
    null-safe comparison), or ``unchanged`` (filtered out unless
    requested). One full outer join on the keys — co-partitioned
    shuffle both sides, no collect, no row hashing (null-safe column
    comparison is exact and engine-neutral, so the oracle can replay
    it; a content hash would couple the diff to one engine's hash).

    NULL key components are treated as ordinary key values: the join
    condition is null-safe (``eqNullSafe``), so a NULL-keyed row in
    ``old`` matches a NULL-keyed row in ``new`` instead of surfacing as
    a spurious inserted+deleted pair, and side presence is tracked by
    literal marker columns — never by key-column nullability.

    Returns (keys..., change_type). At 100 TB this is the incremental-
    load primitive: feed ``inserted`` + ``changed`` rows to
    ``merge_upsert_partitioned`` and tombstone ``deleted`` keys.
    """
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_oc_{c}") for c in compare],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_nc_{c}") for c in compare],
        F.lit(True).alias("_in_new"),
    )
    cond = [o[f"_ok_{k}"].eqNullSafe(n[f"_nk_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = joined["_in_old"].isNotNull()
    in_new = joined["_in_new"].isNotNull()
    differs = F.lit(False)
    for c in compare:
        differs = differs | ~joined[f"_oc_{c}"].eqNullSafe(joined[f"_nc_{c}"])
    out = joined.select(
        *[
            F.coalesce(joined[f"_ok_{k}"], joined[f"_nk_{k}"]).alias(k)
            for k in keys
        ],
        F.when(~in_old, "inserted")
        .when(~in_new, "deleted")
        .when(differs, "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    if not include_unchanged:
        out = out.where(F.col("change_type") != "unchanged")
    return out


def asof_join_backward_tolerance(
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    tolerance_sec: int,
) -> Op:
    """Backward as-of join with a staleness bound — pandas
    ``merge_asof(tolerance=...)`` semantics: the latest prior right row
    still matches, but if it is older than ``tolerance_sec`` the
    payload nulls out (a quote older than the SLA is no quote). Same
    single shuffle as ``asof_join_backward`` — the bound is a row-local
    epoch-difference predicate applied after the window, so tolerance
    adds zero exchanges. The matched right timestamp rides the payload
    struct (synthesized if the caller didn't ask for it, dropped on
    output), and the comparison is exact integer epoch seconds on both
    engines."""
    aug = dict(payload)
    ts_out = aug.get(right_ts)
    if ts_out is None:
        ts_out = "_asof_matched_ts"
        aug = {right_ts: ts_out, **payload}

    def _apply(left: DataFrame) -> DataFrame:
        out = left.transform(
            asof_join_backward(right, on, left_ts, right_ts, aug)
        )
        within = (
            F.unix_timestamp(F.col(left_ts).cast("timestamp"))
            - F.unix_timestamp(F.col(ts_out).cast("timestamp"))
        ) <= F.lit(tolerance_sec)
        return out.select(
            *left.columns,
            *[
                F.when(within, F.col(o))
                .otherwise(F.lit(None).cast(out.schema[o].dataType))
                .alias(o)
                for o in payload.values()
            ],
        )

    return _apply


def salted_agg_auto(
    keys: list[str],
    partial_aggs: list[tuple[Column, str]],
    final_aggs: list[Column],
    *,
    target_rows_per_task: int = 5_000_000,
    max_salt: int = 1024,
) -> Op:
    """``salted_agg`` with the salt factor DERIVED instead of guessed:
    one pre-pass runs quality.py::key_skew_profile on the COMPOSITE
    grouping key (a struct of all key columns — profiling only the
    first column would see a hot first value and trigger a useless
    salting phase over an unskewed composite) and takes its integer
    recommendation (hottest key mass / target task size, ceiling),
    clamped to [1, ``max_salt``]. Salt 1 short-circuits to the plain
    two-phase-free aggregation — unskewed inputs pay only the profile
    pre-pass (a |keys|-row count shuffle), not a pointless extra
    phase.

    The auto-parameter pattern of suggest_bucket_width /
    suggest_quantize_bounds applied to shuffle skew: at 100 TB the
    pre-pass is what a planner dry-run costs, and it removes the
    config constant most likely to be stale after a data drift.
    Result values are bit-identical to any fixed-salt run (algebraic
    partials re-aggregate losslessly), pinned by the existing
    salted-vs-plain property test plus the auto test.
    """
    if max_salt < 1:
        raise ValueError("max_salt must be >= 1")

    def _apply(df: DataFrame) -> DataFrame:
        from rentals_data_pipeline_spark.operators.quality import (
            key_skew_profile,
        )

        prof = key_skew_profile(
            df.select(F.struct(*keys).alias("_composite_key")),
            ["_composite_key"],
            target_rows_per_task,
        ).collect()
        raw = prof[0]["recommended_salt"] if prof else None
        rec = int(raw) if raw is not None else 1  # empty input -> plain
        salt = max(1, min(max_salt, rec))
        if salt == 1:
            plain = df.groupBy(*keys).agg(
                *[e.alias(n) for e, n in partial_aggs]
            )
            return plain.groupBy(*keys).agg(*final_aggs)
        return df.transform(
            salted_agg(keys, partial_aggs, final_aggs, salt=salt)
        )

    return _apply


def scd2_apply_changes(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "valid_from",
    order_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental SCD-type-2 MERGE: apply a change batch to an
    existing dimension history WITHOUT rebuilding untouched keys — the
    nightly warehouse merge. Keys absent from the batch pass through
    byte-identical (one anti join against the distinct batch keys);
    for touched keys, their existing rows re-enter as state-change
    events, union with the batch, and ONE per-key window re-derives
    [valid_from, valid_to) + is_current. The result is provably equal
    to a full rebuild over (old change stream ∪ batch) — that equality
    is the certified contract (the incremental catalog query hashes
    against the full-rebuild oracle).

    At 100 TB the batch's distinct keys broadcast, the history is read
    once, and the window runs only over touched keys' rows — work
    scales with the change set, not the dimension.

    ``changes`` must carry ``keys + [ts_col] + order_cols +
    value_cols``; ``history`` the same plus valid_to/is_current.
    """
    order_cols = order_cols or []
    value_cols = value_cols or ["value"]
    cols = keys + [ts_col] + order_cols + value_cols
    # null-SAFE key matching throughout: a NULL-keyed change must
    # claim the NULL-keyed history slice, not slip past the anti join
    # and duplicate it (the snapshot_diff lesson, relational.py::
    # snapshot_diff)
    changed_keys = changes.select(
        *[F.col(k).alias(f"_ck_{k}") for k in keys]
    ).distinct()
    cond = None
    for k in keys:
        c = history[k].eqNullSafe(changed_keys[f"_ck_{k}"])
        cond = c if cond is None else (cond & c)
    untouched = history.join(changed_keys, cond, "left_anti")
    touched = (
        history.join(F.broadcast(changed_keys), cond, "left_semi")
        .select(*cols)
    )
    merged = touched.unionByName(changes.select(*cols))
    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    rebuilt = merged.select(
        *keys,
        F.col(ts_col),
        F.lead(ts_col).over(w).alias("valid_to"),
        *value_cols,
        F.when(F.lead(ts_col).over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
        *[F.col(c) for c in order_cols],
    )
    out_cols = keys + [ts_col, "valid_to"] + value_cols + ["is_current"]
    return untouched.select(*out_cols).unionByName(
        rebuilt.select(*out_cols)
    )
