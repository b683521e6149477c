"""File-size control on the partitioned sink.

The reference compacts each partition dir to exactly one file via
``coalesce(1)`` (reference: jobs/io_utils.py:102) — a single-task write
that serializes the whole job at scale. ``write_partitioned_parquet``
reproduces the *layout* intent (bounded files per dir) while keeping the
write parallel: per-dir deterministic salting caps the number of writer
tasks per dir, and ``maxRecordsPerFile`` caps file size from the other
direction.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from rentals_data_pipeline_spark.sources.sink import write_partitioned_parquet

SF_DIR = "/root/testdata/sf0.001"


def _files_per_dir(root: Path) -> dict[str, int]:
    out: dict[str, int] = {}
    for d in sorted(root.glob("*=*")):
        out[d.name] = len(list(d.glob("*.parquet")))
    return out


def test_target_files_per_partition_one_matches_reference_layout(spark, tmp_path):
    """N=1 → exactly one file per partition dir (the reference's layout)."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = tmp_path / "by_status"
    write_partitioned_parquet(
        orders, str(out), ["o_orderstatus"], target_files_per_partition=1
    )
    counts = _files_per_dir(out)
    assert counts, "no partition dirs written"
    assert all(n == 1 for n in counts.values()), counts
    # round-trip intact
    assert spark.read.parquet(str(out)).count() == orders.count()


def test_target_files_per_partition_caps_file_count(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = tmp_path / "capped"
    write_partitioned_parquet(
        orders, str(out), ["o_orderstatus"], target_files_per_partition=3
    )
    counts = _files_per_dir(out)
    assert counts and all(n <= 3 for n in counts.values()), counts
    assert spark.read.parquet(str(out)).count() == orders.count()


def test_max_records_per_file_splits_large_tasks(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = tmp_path / "split"
    write_partitioned_parquet(
        orders,
        str(out),
        ["o_orderstatus"],
        target_files_per_partition=1,
        max_records_per_file=100,
    )
    # Every file obeys the cap even though each dir had a single writer task.
    for f in Path(out).glob("*/*.parquet"):
        assert spark.read.parquet(str(f)).count() <= 100, f
    assert spark.read.parquet(str(out)).count() == orders.count()


def test_derived_partition_column_still_applies(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = tmp_path / "derived"
    write_partitioned_parquet(
        orders.withColumn("o_year", F.year("o_orderdate")),
        str(out),
        ["o_year"],
        target_files_per_partition=2,
    )
    counts = _files_per_dir(out)
    assert counts and all(n <= 2 for n in counts.values()), counts


def test_dynamic_overwrite_backfills_one_partition(spark):
    """Idempotent backfill: overwriting with a frame containing only one
    partition's rows must replace only that dir, not truncate the
    table. (Static overwrite would leave just the one partition.)"""
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        out = f"{td}/by_status"
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        write_partitioned_parquet(orders, out, ["o_orderstatus"])
        full = spark.read.parquet(out).count()

        # backfill the 'F' partition with doubled o_totalprice
        patch = orders.where("o_orderstatus = 'F'").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        write_partitioned_parquet(
            patch, out, ["o_orderstatus"], dynamic_overwrite=True
        )
        after = spark.read.parquet(out)
        assert after.count() == full  # other partitions intact
        # and the backfilled partition actually changed
        orig_f = orders.where("o_orderstatus = 'F'").agg(
            F.sum("o_totalprice")
        ).collect()[0][0]
        new_f = after.where("o_orderstatus = 'F'").agg(
            F.sum("o_totalprice")
        ).collect()[0][0]
        assert abs(new_f - 2 * orig_f) < 1e-6


def test_static_overwrite_truncates_table(spark):
    """Contrast case documenting the default: static overwrite replaces
    the whole table with the written frame."""
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        out = f"{td}/by_status"
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        write_partitioned_parquet(orders, out, ["o_orderstatus"])
        patch = orders.where("o_orderstatus = 'F'")
        write_partitioned_parquet(patch, out, ["o_orderstatus"])
        statuses = {
            r["o_orderstatus"]
            for r in spark.read.parquet(out).select("o_orderstatus").distinct().collect()
        }
        assert statuses == {"F"}


def test_sort_within_write_narrows_rowgroup_stats(spark):
    """Sorted writes produce disjoint per-file l_quantity ranges (the
    min/max footer stats a reader's range filter prunes on); unsorted
    writes overlap. One write task + maxRecordsPerFile makes the files
    sequential slices of the sort order."""
    import tempfile

    import pyarrow.parquet as pq
    from pathlib import Path

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(1)

    def ranges(path):
        out = []
        for f in Path(path).glob("*.parquet"):
            md = pq.read_metadata(str(f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "l_quantity"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return sorted(out)

    with tempfile.TemporaryDirectory() as td:
        write_partitioned_parquet(
            li, f"{td}/sorted", [], max_records_per_file=500,
            sort_within_by=["l_quantity"],
        )
        write_partitioned_parquet(
            li, f"{td}/unsorted", [], max_records_per_file=500,
        )
        sr, ur = ranges(f"{td}/sorted"), ranges(f"{td}/unsorted")
        assert len(sr) > 2
        # sorted: consecutive file ranges never interleave
        for (lo1, hi1), (lo2, hi2) in zip(sr, sr[1:]):
            assert hi1 <= lo2
        # unsorted control: at least one pair overlaps
        assert any(hi1 > lo2 for (lo1, hi1), (lo2, hi2) in zip(ur, ur[1:]))


def test_merge_upsert_updates_and_inserts(spark):
    """Upsert: same-key rows replaced, new keys appended, untouched
    partitions byte-identical (their files are not rewritten)."""
    import os
    import tempfile

    from rentals_data_pipeline_spark.sources.sink import merge_upsert_partitioned

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/tbl"
        base = spark.createDataFrame(
            [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
            "id long, part string, v double",
        )
        merge_upsert_partitioned(spark, base, path, ["id"], ["part"])
        b_files_before = {
            f: os.path.getmtime(f"{path}/part=B/{f}")
            for f in os.listdir(f"{path}/part=B")
            if f.endswith(".parquet")
        }

        updates = spark.createDataFrame(
            [(2, "A", 99.0), (4, "A", 40.0)], "id long, part string, v double"
        )
        merge_upsert_partitioned(spark, updates, path, ["id"], ["part"])

        rows = {
            (r["id"], r["part"], r["v"])
            for r in spark.read.parquet(path).collect()
        }
        assert rows == {
            (1, "A", 10.0),
            (2, "A", 99.0),   # updated
            (3, "B", 30.0),   # untouched partition
            (4, "A", 40.0),   # inserted
        }
        b_files_after = {
            f: os.path.getmtime(f"{path}/part=B/{f}")
            for f in os.listdir(f"{path}/part=B")
            if f.endswith(".parquet")
        }
        assert b_files_after == b_files_before  # partition B never rewritten


def test_merge_upsert_first_write_bootstraps(spark):
    import tempfile

    from rentals_data_pipeline_spark.sources.sink import merge_upsert_partitioned

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/tbl"
        merge_upsert_partitioned(
            spark,
            spark.createDataFrame([(1, "A", 1.0)], "id long, part string, v double"),
            path,
            ["id"],
            ["part"],
        )
        assert spark.read.parquet(path).count() == 1


def test_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    """compact_partitioned_parquet: fragmented dirs collapse to their
    byte-derived target count, healthy dirs keep their files, and the
    data survives byte-identically. The rewrite is dynamic even under
    a session set to static overwrite (which would delete partition
    b), and the session's mode is left as the caller set it."""
    import os

    from pyspark.sql import functions as F

    from rentals_data_pipeline_spark.sources.sink import (
        compact_partitioned_parquet,
        list_fragmented_partitions,
    )

    path = str(tmp_path / "frag")
    # partition a: 8 tiny files; partition b: 1 file (healthy)
    rows_a = spark.range(400).select(
        F.lit("a").alias("p"), F.col("id"), (F.col("id") * 2).alias("v")
    )
    rows_a.repartition(8).write.partitionBy("p").parquet(path)
    rows_b = spark.range(100).select(
        F.lit("b").alias("p"), F.col("id"), (F.col("id") * 3).alias("v")
    )
    rows_b.coalesce(1).write.mode("append").partitionBy("p").parquet(path)

    def files_in(part):
        d = os.path.join(path, f"p={part}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in("a")) == 8
    b_files_before = sorted(files_in("b"))
    before = {(r["p"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()}

    frag = list_fragmented_partitions(spark, path, ["p"], target_file_bytes=1 << 30)
    assert [i["partition"] for i in frag] == [{"p": "a"}]
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(mode_key, "static")
    try:
        report = compact_partitioned_parquet(
            spark, path, ["p"], target_file_bytes=1 << 30
        )
        assert spark.conf.get(mode_key) == "static"
    finally:
        spark.conf.unset(mode_key)
    assert report == frag

    assert len(files_in("a")) == 1  # 8 tiny files -> 1 target file
    assert sorted(files_in("b")) == b_files_before  # untouched
    after = {(r["p"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == before

    # second pass: dataset now healthy, compaction is a no-op
    assert compact_partitioned_parquet(spark, path, ["p"]) == []


def test_returned_schema_is_the_readback_schema(spark, tmp_path):
    """The sink returns the schema inference would find on readback
    (data columns, then partition columns, a derived one included), so
    a reader can skip the inference job."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "schema")
    written = write_partitioned_parquet(
        orders.withColumn("o_year", F.year("o_orderdate")),
        out,
        ["o_orderstatus", "o_year"],
    )
    assert written == spark.read.parquet(out).schema
    assert written.names[-2:] == ["o_orderstatus", "o_year"]
    back = spark.read.schema(written).parquet(out)
    assert back.count() == orders.count()
    assert back.exceptAll(spark.read.parquet(out)).count() == 0
