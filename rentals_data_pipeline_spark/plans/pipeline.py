"""Reference-parity pipeline: wide time-series CSV → analytics parquet.

The reference's end-to-end flow (jobs/transform.py:161-181 composed of
enforce-schema → unpivot → parse-date → clean → dedup → MoM → rank,
then the partitioned sink jobs/io_utils.py:88-107), generalized: column
names, id/measure columns and partition keys come from a config dict
(reference seam: config/pipeline.yaml). Composition is ``df.transform``
chaining — each stage a pure DataFrame function from the operator
library.

Shuffles follow the flow's two key families, not its four windows:
the dedup and the lag share one exchange on the region key, and
``run_etl`` gives the rank and the partitioned sink one exchange on the
sink's partition columns.

Orchestration note: the reference wraps this in a 4-task Airflow DAG
with per-task sessions (dags/rental_pipeline_dag.py:172-175). Here the
runner is plain Python — one session, stages composed lazily so
Catalyst optimizes across stage boundaries (the DAG's per-task
parquet round-trip is an orchestration choice, not an engine one).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rentals_data_pipeline_spark.operators import quality as Q
from rentals_data_pipeline_spark.operators import relational as R
from rentals_data_pipeline_spark.operators import reshape as RS
from rentals_data_pipeline_spark.operators import window as W
from rentals_data_pipeline_spark.sources.csv import read_csv_typed
from rentals_data_pipeline_spark.sources.schema import date_like_columns
from rentals_data_pipeline_spark.sources.sink import write_partitioned_parquet

DEFAULT_CONFIG: dict = {
    "id_columns": {"RegionID": "int", "RegionName": "string", "StateName": "string"},
    "region_key": "RegionID",
    "group_key": "StateName",
    "period_col": "month",
    "value_col": "median_rent",
    "change_col": "rent_change_mom",
    "rank_col": "state_rent_rank",
    "partition_by": ["StateName", "year"],
    "dq": {
        "null_pct": 0.1,
        "min_rows": 100,
        "value_range": [0, 50000],
        "uniqueness_keys": ["RegionID", "month"],
    },
}

_TYPES = {"int": T.IntegerType(), "string": T.StringType(), "double": T.DoubleType()}


Stage = tuple[str, Callable[[DataFrame], DataFrame]]


def _series_stages(wide_columns: list[str], config: dict) -> list[Stage]:
    """Every stage up to the in-group rank, as (name, stage) pairs."""
    ids = config["id_columns"]
    value_cols = date_like_columns(wide_columns)
    region, period, value = (
        config["region_key"], config["period_col"], config["value_col"]
    )
    projection = {c: _TYPES[t] for c, t in ids.items()}
    projection.update({c: T.DoubleType() for c in value_cols})
    return [
        # enforce schema: select+cast ids, all period columns → double
        ("project_cast", R.project_cast(projection)),
        # wide → long
        (
            "unpivot",
            RS.unpivot(
                ids=list(ids), values=value_cols, var_col="period_str",
                value_col=value,
            ),
        ),
        # tolerant period parse (monthly or daily headers)
        ("parse_period", RS.parse_period_column("period_str", out_col=period)),
        # clean before windows: null measures would pollute lag/rank
        ("drop_null_values", R.drop_null_rows([value])),
        # one shuffle for the region family: hash(region) satisfies both
        # the dedup's (region, period) window and the lag's (region) one
        ("cluster_region", lambda df: df.repartition(region)),
        # deterministic keep-first dedup on the series key
        (
            "dedup_keep_first",
            R.dedup_keep_first([region, period], [F.col(value).asc_nulls_first()]),
        ),
        # signature analytics: period-over-period % change (reuses the
        # dedup's sort on (region, period))
        (
            "pct_change",
            W.pct_change(value, [region], period, out_col=config["change_col"]),
        ),
    ]


def build_stages(
    wide_columns: list[str], config: dict = DEFAULT_CONFIG
) -> list[Stage]:
    """The pipeline as (name, stage) pairs of pure DataFrame→DataFrame
    functions, in order."""
    rank = W.rank_in_group(
        config["value_col"],
        [config["group_key"], config["period_col"]],
        out_col=config["rank_col"],
    )
    return _series_stages(wide_columns, config) + [("rank_in_group", rank)]


def run_pipeline(df: DataFrame, config: dict = DEFAULT_CONFIG) -> DataFrame:
    """Compose all stages over an already-loaded wide DataFrame."""
    for _, stage in build_stages(df.columns, config):
        df = df.transform(stage)
    return df


def run_pipeline_observed(
    df: DataFrame, config: dict = DEFAULT_CONFIG
) -> tuple[DataFrame, dict]:
    """``run_pipeline`` with per-stage observable metrics: every stage
    boundary gets a ``CollectMetrics`` node (``df.observe``) carrying
    row count and value-null count, so ONE action on the returned
    DataFrame yields a full per-stage funnel — rows in, rows surviving
    each filter/dedup, null incidence — with ZERO extra jobs or scans.
    This is the production observability pattern for a 100 TB run:
    the alternative (a .count() per stage) re-executes the upstream
    plan once per stage.

    Returns (df, observations): after any action on ``df``, each
    ``observations[stage_name].get`` is a dict of that stage's
    metrics, keyed by the names ``build_stages`` gives.
    """
    from pyspark.sql import Observation

    value_col = config["value_col"]
    obs: dict[str, Observation] = {}
    for name, stage in build_stages(df.columns, config):
        df = df.transform(stage)
        o = Observation(f"stage_{name}")
        metrics = [F.count(F.lit(1)).alias("rows")]
        if value_col in df.columns:
            metrics.append(
                F.sum(
                    F.when(F.col(value_col).isNull(), 1).otherwise(0)
                ).alias("value_nulls")
            )
        df = df.observe(o, *metrics)
        obs[name] = o
    return df, obs


def _etl_frame(wide: DataFrame, config: dict) -> DataFrame:
    """``run_pipeline``'s rows plus ``year``, hash-partitioned on the
    sink's ``partition_by`` when the rank can share that shuffle.

    ``year`` is a function of the period, so ranking over (group, year,
    period) equals ranking over (group, period). When every partition
    column is one of those keys, one exchange on the partition columns
    serves the rank, and the sink finds its input already partitioned
    exactly as it would repartition it: Spark drops the sink's shuffle,
    and the rank's sort also orders the writer's partitions.
    """
    group, period = config["group_key"], config["period_col"]
    partition_by = config["partition_by"]
    df = wide
    for _, stage in _series_stages(wide.columns, config):
        df = df.transform(stage)
    df = df.withColumn("year", F.year(F.col(period)))
    rank_keys = [group, "year", period]
    if set(partition_by) <= set(rank_keys):
        df = df.repartition(*partition_by)
    return df.transform(
        W.rank_in_group(config["value_col"], rank_keys, out_col=config["rank_col"])
    )


def default_quality_checks(config: dict = DEFAULT_CONFIG) -> list[Q.DataQualityCheck]:
    """The reference DAG's four checks from config thresholds
    (dags/rental_pipeline_dag.py:137-142, config/pipeline.yaml:18-22)."""
    dq = config["dq"]
    lo, hi = dq["value_range"]
    return [
        Q.null_percentage_check(config["value_col"], dq["null_pct"]),
        Q.row_count_check(dq["min_rows"]),
        Q.range_check(config["value_col"], lo, hi),
        Q.uniqueness_check(dq["uniqueness_keys"], severity="warn"),
    ]


_logger = logging.getLogger(__name__)


@dataclass
class RetryPolicy:
    """The reference DAG's failure-handling semantics as an engine
    seam (dags/rental_pipeline_dag.py:24-47): ``retries`` additional
    attempts after the first, ``retry_delay`` seconds between attempts,
    ``on_retry`` fired per failed-but-retryable attempt, ``on_failure``
    fired once when all attempts are exhausted (Airflow's
    ``on_failure_callback``). Callbacks receive a context dict
    (task_id, attempt, max_attempts, exception) mirroring the Airflow
    context the reference logs from; callback errors are logged, never
    raised (a broken alert hook must not mask the task error).
    ``sleep`` is injectable so tests don't wait wall-clock.
    """

    retries: int = 1
    retry_delay: float = 300.0  # reference: timedelta(minutes=5)
    on_retry: Callable[[dict], None] | None = None
    on_failure: Callable[[dict], None] | None = None
    sleep: Callable[[float], None] = field(default=time.sleep, repr=False)


def _fire(cb: Callable[[dict], None] | None, ctx: dict) -> None:
    if cb is None:
        return
    try:
        cb(ctx)
    except Exception:  # noqa: BLE001 — alerting must not mask the task error
        _logger.exception("callback for task %s raised", ctx.get("task_id"))


class NonRetryableError(Exception):
    """Wrap an error to mark it non-retryable: ``run_with_retries``
    fires ``on_failure`` once and re-raises the wrapped error without
    burning retry attempts (used for deterministic failures like DQ
    threshold violations, where a re-run cannot change the outcome)."""

    def __init__(self, error: BaseException):
        super().__init__(str(error))
        self.error = error


def run_with_retries(
    fn: Callable[[], object], task_id: str, policy: RetryPolicy | None = None
):
    """Run ``fn`` under the retry policy; return its result or re-raise
    its final exception after firing ``on_failure``."""
    policy = policy or RetryPolicy()
    max_attempts = 1 + max(0, policy.retries)
    for attempt in range(1, max_attempts + 1):
        try:
            return fn()
        except NonRetryableError as wrapped:
            exc = wrapped.error
            _logger.error(
                "task failed (non-retryable): task=%s attempt=%d error=%s",
                task_id, attempt, exc,
            )
            _fire(
                policy.on_failure,
                {
                    "task_id": task_id,
                    "attempt": attempt,
                    "max_attempts": max_attempts,
                    "exception": exc,
                },
            )
            raise exc from None
        except Exception as exc:  # noqa: BLE001 — retry any task error
            ctx = {
                "task_id": task_id,
                "attempt": attempt,
                "max_attempts": max_attempts,
                "exception": exc,
            }
            if attempt < max_attempts:
                _logger.warning(
                    "task %s failed (attempt %d/%d), retrying in %.0fs: %s",
                    task_id, attempt, max_attempts, policy.retry_delay, exc,
                )
                _fire(policy.on_retry, ctx)
                policy.sleep(policy.retry_delay)
            else:
                _logger.error(
                    "task failed: task=%s attempt=%d/%d error=%s",
                    task_id, attempt, max_attempts, exc,
                )
                _fire(policy.on_failure, ctx)
                raise


def run_etl(
    spark: SparkSession,
    input_csv: str,
    output_path: str,
    config: dict = DEFAULT_CONFIG,
    min_rows: int | None = None,
    retry_policy: RetryPolicy | None = None,
) -> dict[str, object]:
    """Full ETL: typed ingest → transforms → partitioned sink → DQ.

    Returns the DQ tally; raises DataQualityError on fail-severity
    failures (the reference fails the Airflow task the same way,
    dags/rental_pipeline_dag.py:115-116). Pass ``retry_policy`` for the
    reference DAG's retry/on-failure semantics; DataQualityError is
    never retried (a threshold violation is deterministic — re-running
    the same data cannot fix it, and double-firing DQ alerts is worse
    than one honest failure).
    """

    def _etl() -> dict[str, object]:
        fixed = {c: _TYPES[t] for c, t in config["id_columns"].items()}
        wide = read_csv_typed(spark, input_csv, fixed_fields=fixed)
        written = write_partitioned_parquet(
            _etl_frame(wide, config),
            output_path,
            partition_by=config["partition_by"],
        )
        checks = default_quality_checks(config)
        if min_rows is not None:  # test-size override
            checks = [c for c in checks if not c.name.startswith("row_count")]
            checks.append(Q.row_count_check(min_rows))
        out = spark.read.schema(written).parquet(output_path)
        return Q.run_quality_checks(out, checks)

    if retry_policy is None:
        return _etl()

    def _guarded() -> dict[str, object]:
        try:
            return _etl()
        except Q.DataQualityError as exc:
            raise NonRetryableError(exc) from exc

    return run_with_retries(_guarded, "run_etl", retry_policy)


def load_config(path: str) -> dict:
    """YAML → config dict, deep-merged over DEFAULT_CONFIG so a config
    file only has to state what it changes (reference S7,
    jobs/io_utils.py:56-66 — kept a plain driver-side utility)."""
    import yaml

    with open(path) as f:
        loaded = yaml.safe_load(f) or {}

    def merge(base: dict, over: dict) -> dict:
        out = dict(base)
        for k, v in over.items():
            out[k] = (
                merge(out[k], v)
                if isinstance(v, dict) and isinstance(out.get(k), dict)
                else v
            )
        return out

    return merge(DEFAULT_CONFIG, loaded)


def main(argv: list[str] | None = None) -> int:
    """CLI entry (reference O6, jobs/transform.py:184-211):
    ``python -m rentals_data_pipeline_spark.plans.pipeline
    --input wide.csv --output out_dir [--config pipeline.yaml]``."""
    import argparse

    from rentals_data_pipeline_spark.session import create_spark_session

    p = argparse.ArgumentParser(description="wide CSV -> analytics parquet ETL")
    p.add_argument("--input", required=True, help="wide-format CSV path")
    p.add_argument("--output", required=True, help="partitioned parquet output dir")
    p.add_argument("--config", default=None, help="YAML config (optional)")
    args = p.parse_args(argv)

    config = load_config(args.config) if args.config else DEFAULT_CONFIG
    spark = create_spark_session(
        config.get("app_name", "rentals-pipeline-spark"),
        master=config.get("master") or None,
    )
    try:
        tally = run_etl(spark, args.input, args.output, config)
        print(tally)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
