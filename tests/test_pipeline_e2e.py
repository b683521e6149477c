"""End-to-end ZORI-parity pipeline test (reference:
tests/test_transform.py:130-154): wide CSV in → partitioned parquet out
→ DQ pass, with the reference's property assertions."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.plans import pipeline as P

WIDE_HEADER = [
    "RegionID",
    "SizeRank",
    "RegionName",
    "RegionType",
    "StateName",
    "2024-01",
    "2024-02",
    "2024-03",
]
WIDE_ROWS = [
    ("102001", "1", "New York", "msa", "NY", "3450.0", "3475.0", "3520.0"),
    ("394913", "2", "San Francisco", "msa", "CA", "3150.0", "3200.0", None),
    ("888000", "3", "Albany", "msa", "NY", "1800.0", "1810.0", "1820.0"),
]


@pytest.fixture()
def wide_csv(tmp_path):
    lines = [",".join(WIDE_HEADER)]
    for row in WIDE_ROWS:
        lines.append(",".join("" if v is None else v for v in row))
    p = tmp_path / "wide.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_run_pipeline_transform_only(spark, wide_csv):
    from rentals_data_pipeline_spark.sources.csv import read_csv_typed
    from rentals_data_pipeline_spark.plans.pipeline import _TYPES, DEFAULT_CONFIG

    fixed = {c: _TYPES[t] for c, t in DEFAULT_CONFIG["id_columns"].items()}
    wide = read_csv_typed(spark, wide_csv, fixed_fields=fixed)
    out = P.run_pipeline(wide)

    # exact output column set (reference tests/test_transform.py:136-140)
    assert set(out.columns) == {
        "RegionID",
        "RegionName",
        "StateName",
        "month",
        "median_rent",
        "rent_change_mom",
        "state_rent_rank",
    }
    rows = out.collect()
    assert len(rows) == 8  # 9 cells - 1 null
    assert all(r["median_rent"] is not None for r in rows)
    # key uniqueness
    assert out.select("RegionID", "month").distinct().count() == 8
    # first month per region has null change; NY second month = +0.72
    by = {(r["RegionID"], str(r["month"])): r for r in rows}
    assert by[(102001, "2024-01-01")]["rent_change_mom"] is None
    assert by[(102001, "2024-02-01")]["rent_change_mom"] == 0.72
    # in-state rank: NY region ranks 1, Albany 2 in every NY month
    assert by[(102001, "2024-01-01")]["state_rent_rank"] == 1
    assert by[(888000, "2024-01-01")]["state_rent_rank"] == 2


def test_run_etl_end_to_end(spark, wide_csv, tmp_path):
    out_path = str(tmp_path / "processed")
    tally = P.run_etl(spark, wide_csv, out_path, min_rows=5)
    assert tally["failed"] == 0
    result = spark.read.parquet(out_path)
    # partition columns materialized hive-style
    assert "year" in result.columns and "StateName" in result.columns
    assert result.count() == 8
    # partition pruning works: reading one state dir only
    ny = spark.read.parquet(out_path).filter(F.col("StateName") == "NY")
    assert ny.count() == 6


def _pipeline_rows_with_year(spark, wide_csv):
    """``run_pipeline``'s rows plus ``year``, as sorted tuples, and
    their column order."""
    from rentals_data_pipeline_spark.sources.csv import read_csv_typed

    fixed = {c: P._TYPES[t] for c, t in P.DEFAULT_CONFIG["id_columns"].items()}
    wide = read_csv_typed(spark, wide_csv, fixed_fields=fixed)
    df = P.run_pipeline(wide).withColumn("year", F.year("month"))
    return sorted(map(tuple, df.collect())), df.columns


def _sink_frame(spark, wide_csv, out_path, monkeypatch, config):
    """Run ``run_etl`` and return the frame its sink shuffles and
    writes: the sink's input repartitioned on the partition columns."""
    seen = {}
    write = P.write_partitioned_parquet

    def spy(df, path, partition_by, **kw):
        seen["frame"] = df.repartition(*partition_by)
        return write(df, path, partition_by, **kw)

    monkeypatch.setattr(P, "write_partitioned_parquet", spy)
    P.run_etl(spark, wide_csv, out_path, config=config, min_rows=5)
    return seen["frame"]


@pytest.mark.parametrize(
    "partition_by,exchanges", [(["StateName", "year"], 2), (["RegionName"], 3)]
)
def test_run_etl_one_exchange_per_key_family(
    spark, wide_csv, tmp_path, monkeypatch, partition_by, exchanges
):
    """The reference ETL has two key families: the region (dedup and
    lag) and (StateName, year) (rank and partitioned sink). One hash
    exchange per family, not one per window plus the sink's
    repartition (four): the sink's repartition is dropped because its
    input is already partitioned on exactly its columns. Partition
    columns the rank cannot key on (RegionName) keep the rank's own
    exchange and the sink's: three. Either way the rank is the
    (StateName, month) rank."""
    config = {**P.DEFAULT_CONFIG, "partition_by": partition_by}
    frame = _sink_frame(spark, wide_csv, str(tmp_path / "out"), monkeypatch, config)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == exchanges, plan
    rows, cols = _pipeline_rows_with_year(spark, wide_csv)
    assert sorted(map(tuple, frame.select(*cols).collect())) == rows


def test_run_etl_warm_jobs(spark, wide_csv, tmp_path, jobs_run):
    """Warm Spark jobs of one ETL run with one exchange per key family:
    7 (an exchange per window plus the sink's shuffle runs 9). The first
    run warms the session so only the ETL's own jobs count."""

    def run(name):
        P.run_etl(spark, wide_csv, str(tmp_path / name), min_rows=5)

    run("warm")
    assert jobs_run(lambda: run("timed")) == 7


def test_run_etl_one_file_per_partition_dir(spark, wide_csv, tmp_path):
    """The layout the reference's coalesce(1) meant: one parquet file
    per StateName=…/year=… dir, holding ``run_pipeline``'s rows plus
    ``year``."""
    out_path = tmp_path / "processed"
    P.run_etl(spark, wide_csv, str(out_path), min_rows=5)
    dirs = sorted(
        d.relative_to(out_path).as_posix()
        for d in out_path.glob("StateName=*/year=*")
    )
    assert dirs == ["StateName=CA/year=2024", "StateName=NY/year=2024"]
    for d in dirs:
        assert len(list((out_path / d).glob("*.parquet"))) == 1, d
    rows, cols = _pipeline_rows_with_year(spark, wide_csv)
    got = spark.read.parquet(str(out_path)).select(*cols)
    assert sorted(map(tuple, got.collect())) == rows


def test_retry_transient_failure_then_success():
    """Reference DAG semantics (dags/rental_pipeline_dag.py:24-28):
    1 retry after 5 min. A transient failure on attempt 1 must be
    retried after exactly retry_delay; on_retry fires, on_failure
    doesn't."""
    calls, slept, retried, failed = [], [], [], []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("transient")
        return "ok"

    policy = P.RetryPolicy(
        retries=1,
        retry_delay=300.0,
        on_retry=retried.append,
        on_failure=failed.append,
        sleep=slept.append,
    )
    assert P.run_with_retries(flaky, "t", policy) == "ok"
    assert len(calls) == 2
    assert slept == [300.0]
    assert [c["attempt"] for c in retried] == [1]
    assert failed == []


def test_retry_exhaustion_fires_on_failure():
    """All attempts failing → on_failure fires once with the final
    context (reference _on_failure_callback logs dag/task/error,
    dags/rental_pipeline_dag.py:31-47) and the error propagates."""
    failed = []
    policy = P.RetryPolicy(
        retries=2, retry_delay=1.0, on_failure=failed.append, sleep=lambda s: None
    )

    def always_fails():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        P.run_with_retries(always_fails, "etl", policy)
    assert len(failed) == 1
    assert failed[0]["task_id"] == "etl"
    assert failed[0]["attempt"] == failed[0]["max_attempts"] == 3
    assert isinstance(failed[0]["exception"], ValueError)


def test_callback_error_does_not_mask_task_error():
    policy = P.RetryPolicy(
        retries=0,
        on_failure=lambda ctx: (_ for _ in ()).throw(RuntimeError("alert down")),
        sleep=lambda s: None,
    )
    with pytest.raises(ValueError, match="real"):
        P.run_with_retries(lambda: (_ for _ in ()).throw(ValueError("real")), "t", policy)


def test_dq_failure_is_not_retried(spark, wide_csv, tmp_path):
    """A DQ threshold violation is deterministic — run_etl must fail
    immediately (no retry attempts burned, no sleep) while still firing
    on_failure for alerting."""
    from rentals_data_pipeline_spark.operators.quality import DataQualityError

    slept, failed = [], []
    policy = P.RetryPolicy(
        retries=3, retry_delay=60.0, on_failure=failed.append, sleep=slept.append
    )
    with pytest.raises(DataQualityError):
        P.run_etl(
            spark,
            wide_csv,
            str(tmp_path / "out"),
            min_rows=1_000_000,  # unmeetable row-count threshold
            retry_policy=policy,
        )
    assert slept == []  # never retried
    assert len(failed) == 1
    assert isinstance(failed[0]["exception"], DataQualityError)


def test_load_config_merges_over_defaults(tmp_path):
    cfg_file = tmp_path / "c.yaml"
    cfg_file.write_text("dq:\n  min_rows: 7\nvalue_col: rent\n")
    cfg = P.load_config(str(cfg_file))
    assert cfg["dq"]["min_rows"] == 7          # overridden
    assert cfg["dq"]["null_pct"] == 0.1        # default survives deep merge
    assert cfg["value_col"] == "rent"
    assert cfg["region_key"] == "RegionID"


def test_run_pipeline_observed_single_pass_funnel(spark, wide_csv):
    """Per-stage observable metrics: one action yields the whole stage
    funnel (rows + value nulls) without extra jobs, and the numbers
    match independently recomputed stage outputs."""
    from rentals_data_pipeline_spark.sources.csv import read_csv_typed
    from rentals_data_pipeline_spark.plans.pipeline import (
        _TYPES,
        DEFAULT_CONFIG,
        run_pipeline,
        run_pipeline_observed,
    )

    fixed = {c: _TYPES[t] for c, t in DEFAULT_CONFIG["id_columns"].items()}
    wide = read_csv_typed(spark, wide_csv, fixed_fields=fixed)
    out, obs = run_pipeline_observed(wide)
    n_final = out.count()  # the ONE action that populates every stage
    m = {name: o.get for name, o in obs.items()}
    # 3 regions x 3 periods = 9 long rows; one null value dropped -> 8
    assert m["unpivot"]["rows"] == 9
    assert m["unpivot"]["value_nulls"] == 1
    assert m["drop_null_values"]["rows"] == 8
    assert m["drop_null_values"]["value_nulls"] == 0
    assert m["rank_in_group"]["rows"] == n_final == 8
    # funnel is monotone nonincreasing after unpivot
    assert m["unpivot"]["rows"] >= m["dedup_keep_first"]["rows"]
    # and the observed pipeline's OUTPUT equals the plain pipeline's
    plain = run_pipeline(wide)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_funnel_by_source_matches_sequential_gates(spark):
    """The one-pass funnel's per-source counts must equal running the
    certified gate chain sequentially: lang filter, then quality floor,
    then exact keep-first dedup among survivors."""
    from pyspark.sql import functions as F

    from rentals_data_pipeline_spark.operators import relational as R
    from rentals_data_pipeline_spark.operators import text as TX
    from rentals_data_pipeline_spark.plans.catalog import QUERIES
    from rentals_data_pipeline_spark.plans.curation_queries import (
        QUALITY_FLOOR,
    )
    from rentals_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    funnel = {
        r["source"]: r
        for r in QUERIES["pipeline_curation_funnel_by_source"](
            spark, sf
        ).collect()
    }
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "text"
    )
    lang = docs.transform(TX.language_id()).where(
        F.col("lang_pred") == "en"
    )
    qual = lang.transform(TX.quality_score()).where(
        F.col("quality") >= QUALITY_FLOOR
    )
    final = qual.withColumn("fp", F.md5("text")).transform(
        R.dedup_keep_first(["fp"], [F.col("doc_id")])
    )
    seq = {
        "n_docs": {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
        },
        "n_lang_pass": {
            r["source"]: r["n"]
            for r in lang.groupBy("source").agg(F.count("*").alias("n")).collect()
        },
        "n_quality_pass": {
            r["source"]: r["n"]
            for r in qual.groupBy("source").agg(F.count("*").alias("n")).collect()
        },
        "n_docs_out": {
            r["source"]: r["n"]
            for r in final.groupBy("source").agg(F.count("*").alias("n")).collect()
        },
    }
    assert set(funnel) == set(seq["n_docs"])
    for src, row in funnel.items():
        for stage in ("n_docs", "n_lang_pass", "n_quality_pass", "n_docs_out"):
            assert row[stage] == seq[stage].get(src, 0), (src, stage)
    # the funnel must be a real funnel
    for row in funnel.values():
        assert (
            row["n_docs"]
            >= row["n_lang_pass"]
            >= row["n_quality_pass"]
            >= row["n_docs_out"]
        )
        assert row["tokens_in"] >= row["tokens_out"]
