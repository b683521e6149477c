"""Exact global top-N for LARGE N, without a driver-side merge.

``df.orderBy(...).limit(n)`` compiles to ``TakeOrderedAndProject``:
each task keeps an n-row heap, then the DRIVER merges ``n x
numPartitions`` candidate rows. Right for small n (it is what
``sample_weighted_documents`` wants at n<=10k); a driver-memory hazard
for the large-N truncations a corpus engine needs (BPE's
``max_words=1M`` vocabulary cap over a 1000-partition word histogram
would merge a billion rows on the driver). The other naive form —
a global ``Window.orderBy`` row_number — plans a SINGLE-TASK sort of
the entire input.

``global_top_n`` keeps both the sort and the selection distributed:

1. ``repartitionByRange(order) + sortWithinPartitions(order)`` — the
   distributed sort Spark already scales (sampled range boundaries,
   spill-able per-partition sorts).
2. ``monotonically_increasing_id()`` over the sorted partitions gives
   each row ``(partition id << 33) | sequence``; the sequence IS the
   row's rank within its partition because ids are assigned in
   partition iteration order.
3. A per-partition count aggregate (numPartitions rows — the same
   bounded-collect contract as ``graph.pagerank``'s tier probe)
   prefix-sums to exclusive offsets on the driver; a tiny broadcast
   join maps them back.
4. ``filter(offset + sequence < n)`` — partitions wholly inside the
   top-N pass rows through untouched; the one straddling partition
   truncates locally; later partitions emit nothing.

The input is materialized once (``localCheckpoint``) after step 2 so
the count job and the filter job read the SAME partitioning and ids —
range-boundary sampling and id assignment must not re-run between the
two consumers. Cost: one full pass + local-disk blocks, the price of
exactness.

Determinism: ``order`` must be a TOTAL order (include a unique
tie-break column, e.g. ``(cnt DESC, word ASC)``) — with duplicate
full keys the boundary selection among ties follows the range
partitioner's placement, not a semantic rule.

No reference counterpart (the rentals reference materializes
single-node pandas frames, reference etl.py:1-721); this is
scale-path infrastructure for the histogram-bounded operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: monotonically_increasing_id packs the partition id above bit 33.
_SEQ_MASK = (1 << 33) - 1


def _range_sorted_with_ids(
    df: DataFrame, order: list[Column], num_partitions: int | None
) -> DataFrame:
    """Shared first stage: range-repartition on ``order``, sort within
    partitions, stamp (``_pid``, ``_seq``) from
    ``monotonically_increasing_id``, and materialize ONCE so the
    per-partition stats job and the consumer job agree on partitioning
    and ids (range-boundary sampling must not re-run between them)."""
    clash = {"_mid", "_pid", "_seq"} & set(df.columns)
    if clash:  # withColumn would silently overwrite, select would drop
        raise ValueError(f"reserved column names in use: {sorted(clash)}")
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        # pid derived from the id itself so both fields can never
        # disagree about which partition a row sat in
        .withColumn("_pid", F.shiftright("_mid", 33).cast("int"))
        .withColumn("_seq", F.col("_mid").bitwiseAND(F.lit(_SEQ_MASK)))
        .localCheckpoint()  # one materialization shared by both jobs
    )


def _partition_offsets(ranked: DataFrame, aggs: list[Column]) -> list[tuple]:
    """Per-partition aggregates -> exclusive prefix sums on the driver
    (numPartitions rows — the bounded-collect contract). Returns
    [(pid, off_1, ..., off_k)] ordered by pid."""
    rows = sorted(
        tuple(r) for r in ranked.groupBy("_pid").agg(*aggs).collect()
    )
    offsets, acc = [], [0] * (len(rows[0]) - 1 if rows else 0)
    for row in rows:
        offsets.append((row[0], *acc))
        acc = [a + (v or 0) for a, v in zip(acc, row[1:])]
    return offsets


def global_top_n(
    df: DataFrame, order: list[Column], n: int, num_partitions: int | None = None
) -> DataFrame:
    """First ``n`` rows of ``df`` under ``order``, selected without a
    driver merge or a single-task sort; output rows keep only the
    original columns (order preserved within partitions, not globally
    re-sorted — consumers needing a sorted frame sort the n survivors).

    EAGER: calling this runs Spark jobs immediately (the checkpoint
    materialization and the per-partition count), unlike a lazy
    ``orderBy().limit()`` — build the input plan fully (filters,
    projections) BEFORE calling, since nothing below the checkpoint
    can be pushed down afterwards. Reserved internal column names
    ``_mid``/``_pid``/``_seq`` are rejected, not silently clobbered.
    """
    if n <= 0:
        return df.limit(0)
    ranked = _range_sorted_with_ids(df, order, num_partitions)
    offsets = _partition_offsets(ranked, [F.count(F.lit(1)).alias("cnt")])
    if not offsets:
        return df.limit(0)
    off = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "_pid INT, _off LONG")
    )
    keep = [c for c in ranked.columns if c not in ("_mid", "_pid", "_seq")]
    return (
        ranked.join(off, "_pid")
        .where(F.col("_off") + F.col("_seq") < F.lit(n))
        .select(*keep)
    )


def global_order_stats(
    df: DataFrame,
    order: list[Column],
    sum_col: str | None = None,
    rank_col: str = "global_rank",
    cum_col: str = "global_cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank under ``order`` — and, with ``sum_col``, the
    inclusive global running sum — computed WITHOUT a global window.

    ``Window.orderBy`` with no partitioning plans a SINGLE-TASK sort of
    the whole input (Spark even warns); this keeps both the sort and
    the scan distributed, the same machinery as ``global_top_n``:
    range-sort + in-partition sequence ids + a numPartitions-row
    offset collect. The running sum additionally needs each row's
    within-partition prefix sum — a ``_pid``-partitioned window over
    the checkpointed frame (one hash exchange, fanout 1; every
    partition stays one unit of work, never one task for everything).

    This is the scale form of the distinct-value cumulative walks the
    quantile/equal-frequency queries run (their value histograms are
    assumed small; this primitive drops that assumption). Same
    eager-execution caveat as ``global_top_n``; ``order`` should be a
    total order for a deterministic rank among ties. ``sum_col`` must
    be integral (the offset table is LONG — exact at any scale; float
    prefix sums would be partitioning-dependent anyway).
    """
    ranked = _range_sorted_with_ids(df, order, num_partitions)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("s"))
    offsets = _partition_offsets(ranked, aggs)
    spark = df.sparkSession
    if not offsets:
        out = df.limit(0).withColumn(rank_col, F.lit(0).cast("long"))
        return (
            out.withColumn(cum_col, F.lit(0).cast("long"))
            if sum_col is not None
            else out
        )
    if sum_col is None:
        off = F.broadcast(
            spark.createDataFrame(offsets, "_pid INT, _roff LONG")
        )
        out = ranked.join(off, "_pid").withColumn(
            rank_col, (F.col("_roff") + F.col("_seq") + 1).cast("long")
        )
    else:
        off = F.broadcast(
            spark.createDataFrame(
                [(p, r, s) for p, r, s in offsets], "_pid INT, _roff LONG, _soff LONG"
            )
        )
        wp = (
            Window.partitionBy("_pid")
            .orderBy("_seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = (
            ranked.join(off, "_pid")
            .withColumn(
                rank_col, (F.col("_roff") + F.col("_seq") + 1).cast("long")
            )
            .withColumn(cum_col, F.col("_soff") + F.sum(sum_col).over(wp))
        )
    return out.drop("_mid", "_pid", "_seq", "_roff", "_soff")
