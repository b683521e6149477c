"""Partitioned parquet sink.

Capability parity with the reference's ``write_processed`` (reference:
jobs/io_utils.py:88-107) — overwrite, snappy, hive-style partition
dirs for downstream partition pruning (its derived ``year`` column is
derived by ``run_etl``) — with the one deliberate divergence SURVEY
§4.3 mandates: **no ``coalesce(1)``**. A single output task
serializes the write; at 100 TB it is the job. We instead repartition
by the partition columns so each partition dir is written by tasks
that own all its rows (no small-file explosion), and let AQE size the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    compression: str = "snappy",
    target_files_per_partition: int | None = None,
    max_records_per_file: int | None = None,
    dynamic_overwrite: bool = False,
    sort_within_by: list[str] | None = None,
) -> StructType:
    """Write hive-partitioned snappy parquet, scale-safe; return the
    schema the written table reads back with.

    An input already hash-partitioned on exactly ``partition_by`` is
    written without a second shuffle (``target_files_per_partition``
    unset): Spark drops the repartition
    below, and a sort of the input that starts with ``partition_by``
    also serves the writer's ordering. A caller that shuffles upstream
    anyway (a window over a superset of the partition columns)
    derives the partition columns itself and clusters there on
    ``partition_by`` (the reference's derived ``year`` from ``month``,
    jobs/io_utils.py:101, is derived that way in ``run_etl``).

    File-size control — the reference's ``coalesce(1)`` intent
    (jobs/io_utils.py:102: "exactly one tidy file per dir") without its
    single-task write:

    - ``target_files_per_partition=N`` shuffles on (partition cols,
      deterministic salt = hash of all data cols mod N) so each dir is
      written by at most N tasks → at most N files per dir, with
      N-way write parallelism *within* each dir. ``=1`` reproduces the
      reference layout exactly, still writing dirs in parallel (the
      serialization coalesce(1) forced was across the whole job, not
      per dir).
    - ``max_records_per_file`` caps rows per file via the writer option
      (Spark splits a task's output at the cap) — the guard against a
      skewed dir producing one giant file when N is small.

    ``dynamic_overwrite=True`` makes ``mode="overwrite"`` replace ONLY
    the partition dirs present in ``df`` (partitionOverwriteMode=
    dynamic) — the idempotent-backfill contract: re-running one day's
    job rewrites that day's dirs and leaves every other partition
    untouched, where static overwrite would truncate the whole table.

    ``sort_within_by`` sorts rows inside each write task before
    writing, which narrows every parquet row group's min/max
    statistics on those columns — the data-skipping lever: a reader
    filtering on a sorted column prunes whole row groups from the
    scan. Pay the sort once at write time, save it on every downstream
    range-filtered read.

    The returned ``StructType`` lists the data columns, then the
    partition columns in ``partition_by`` order, all nullable: the
    layout a Parquet reader produces. Passing it to
    ``spark.read.schema`` reads the table back without a
    schema-inference job.
    """
    schema = df.schema
    data = [f for f in schema.fields if f.name not in partition_by]
    written = StructType(
        [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in data + [schema[c] for c in partition_by]
        ]
    )
    if partition_by:
        # One shuffle keyed on the partition columns → each dir written
        # by tasks that own all its rows; AQE coalesces small partitions.
        keys = [F.col(c) for c in partition_by]
        if target_files_per_partition is not None:
            if target_files_per_partition < 1:
                raise ValueError("target_files_per_partition must be >= 1")
            data_cols = [c for c in df.columns if c not in partition_by]
            if data_cols:
                # Deterministic salt (no rand(): retries/speculative tasks
                # must re-produce identical placement) splitting each dir
                # across at most N writer tasks.
                keys.append(
                    F.pmod(
                        F.hash(*[F.col(c) for c in data_cols]),
                        F.lit(target_files_per_partition),
                    )
                )
        df = df.repartition(*keys)
        if sort_within_by:
            df = df.sortWithinPartitions(*partition_by, *sort_within_by)
        writer = df.write.mode(mode).option("compression", compression)
        if dynamic_overwrite:
            # per-write option; overrides the session-level
            # spark.sql.sources.partitionOverwriteMode
            writer = writer.option("partitionOverwriteMode", "dynamic")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy(*partition_by).parquet(path)
    else:
        if sort_within_by:
            df = df.sortWithinPartitions(*sort_within_by)
        writer = df.write.mode(mode).option("compression", compression)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(path)
    return written


def merge_upsert_partitioned(
    spark,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str],
) -> None:
    """Keyed upsert (MERGE) into a hive-partitioned parquet table
    without a table format: rows in ``updates`` replace same-key rows
    and new keys append, touching ONLY the partitions the updates land
    in.

    Plan shape, all scale-bounded by the update batch — the full table
    is never read or rewritten:

    1. the affected partition values are collected from ``updates``
       (bounded: one row per touched partition);
    2. the existing rows of ONLY those partitions are read back —
       the IN-filter on the partition column prunes at the dir level;
    3. survivors = existing LEFT ANTI JOIN updates on ``keys``
       (updates are small per batch → broadcast);
    4. survivors ∪ updates overwrite just those partitions
       (partitionOverwriteMode=dynamic).

    Requires updates to be key-unique (last-writer-wins dedup is the
    caller's policy decision). An update that MOVES a key to a new
    partition leaves the old copy in the old partition — at 100 TB
    cross-partition moves need a tombstone pass; keep partition columns
    immutable under upsert (the usual contract).
    """
    if not partition_by:
        raise ValueError("merge_upsert_partitioned requires partition columns")
    import os

    affected = [
        tuple(r)
        for r in updates.select(*partition_by).distinct().collect()
    ]
    if not affected:
        return
    exists = os.path.exists(path)
    if exists:
        existing = spark.read.parquet(path)
        cond = F.lit(False)
        for vals in affected:
            row_match = F.lit(True)
            for c, v in zip(partition_by, vals):
                row_match = row_match & (F.col(c) == F.lit(v))
            cond = cond | row_match
        survivors = (
            existing.where(cond)
            .join(F.broadcast(updates.select(*keys)), keys, "left_anti")
        )
        merged = survivors.unionByName(updates.select(*existing.columns))
    else:
        merged = updates
    write_partitioned_parquet(
        merged, path, partition_by, mode="overwrite", dynamic_overwrite=exists
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 64,
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (optionally sort-ordered) parquet table.

    The co-located join path for 100 TB fact tables: two tables bucketed
    on the same keys with the same bucket count join WITHOUT a shuffle —
    each task reads matching bucket files from both sides (plus
    bucket-local sort when ``sort_by`` matches the join key, removing
    the sort too). Pay one shuffle at write time, amortized over every
    downstream join/aggregation on those keys. Bucket metadata lives in
    the session catalog (``saveAsTable`` — plain ``.parquet(path)``
    cannot record it); pass ``path`` to make it an external table.
    """
    writer = (
        df.repartition(num_buckets, *bucket_by)
        .write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def list_fragmented_partitions(
    spark,
    path: str,
    partition_by: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> list[dict]:
    """Survey a hive-partitioned parquet dataset for small-file
    fragmentation: returns, per partition dir, the file count, total
    bytes, and the number of target-sized files a rewrite would
    produce.  Only partitions with ≥ ``min_files_to_compact`` files
    AND a mean file size under half the target are reported — healthy
    partitions are never touched.

    Driver-side listing is one filesystem walk (the same metadata any
    table format keeps); the returned list is |fragmented partitions|,
    bounded and small.
    """
    import math
    import os

    out: list[dict] = []
    for dirpath, _dirnames, filenames in os.walk(path):
        files = [f for f in filenames if f.endswith(".parquet")]
        if not files:
            continue
        rel = os.path.relpath(dirpath, path)
        parts = dict(
            kv.split("=", 1) for kv in rel.split(os.sep) if "=" in kv
        )
        if len(parts) != len(partition_by):
            continue
        sizes = [os.path.getsize(os.path.join(dirpath, f)) for f in files]
        total = sum(sizes)
        if (
            len(files) >= min_files_to_compact
            and total / len(files) < target_file_bytes / 2
        ):
            out.append(
                {
                    "partition": {k: parts[k] for k in partition_by},
                    "n_files": len(files),
                    "total_bytes": total,
                    "target_n_files": max(1, math.ceil(total / target_file_bytes)),
                }
            )
    return out


def compact_partitioned_parquet(
    spark,
    path: str,
    partition_by: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    sort_within_by: list[str] | None = None,
) -> list[dict]:
    """Bin-pack small files in a partitioned parquet dataset (the
    OPTIMIZE/compaction maintenance op every long-lived 100 TB table
    needs: streaming sinks and frequent small upserts fragment
    partitions until scan task scheduling dominates read time).

    Only FRAGMENTED partitions (per ``list_fragmented_partitions``)
    are read and rewritten — an in-place dynamic partition overwrite
    of exactly those dirs, like ``merge_upsert_partitioned``'s
    affected-partition contract; healthy partitions are untouched.
    Each rewritten partition is repartitioned to its byte-derived
    target file count (so output files land near ``target_file_bytes``)
    and optionally re-sorted within files to restore row-group
    min/max locality (pairs with the Z-order writer).

    Returns the compaction report (what was rewritten, from/to file
    counts) — empty list means the dataset was already healthy.
    """
    frag = list_fragmented_partitions(
        spark, path, partition_by, target_file_bytes, min_files_to_compact
    )
    if not frag:
        return frag
    pred = None
    for item in frag:
        clause = F.lit(True)
        for k, v in item["partition"].items():
            clause = clause & (F.col(k).cast("string") == F.lit(str(v)))
        pred = clause if pred is None else (pred | clause)
    # localCheckpoint materializes the fragmented rows BEFORE the
    # overwrite: Spark (correctly) refuses to overwrite a path that is
    # still an input of the writing plan, and the checkpoint also
    # guarantees the source files aren't re-read mid-rewrite.
    df = spark.read.parquet(path).where(pred).localCheckpoint()
    # One write job for all fragmented partitions.  Hashing by the
    # partition columns alone would collapse each partition dir to a
    # single task (fine for tiny partitions, a straggler for big ones),
    # so each partition gets a salt in [0, its own byte-derived target
    # file count) — a CASE over the (small) fragmented-partition list.
    target = F.lit(1)
    for item in frag:
        clause = F.lit(True)
        for k, v in item["partition"].items():
            clause = clause & (F.col(k).cast("string") == F.lit(str(v)))
        target = F.when(clause, F.lit(item["target_n_files"])).otherwise(target)
    salted = df.withColumn(
        "_compact_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), target),
    )
    writer = salted.repartition(
        *[F.col(c) for c in partition_by], F.col("_compact_salt")
    )
    if sort_within_by:
        writer = writer.sortWithinPartitions(
            *[F.col(c) for c in partition_by],
            *[F.col(c) for c in sort_within_by],
        )
    (
        writer.drop("_compact_salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return frag
