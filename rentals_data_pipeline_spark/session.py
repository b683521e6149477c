"""SparkSession factory.

Capability parity with the reference's ``create_spark_session``
(reference: jobs/transform.py:17-34) — app-name / master configurable —
plus scale-oriented defaults the reference leaves implicit:

- AQE on (runtime shuffle coalescing, skew-join splitting, SMJ→BHJ
  demotion) so the same declarative plan survives a 100× scale-up.
- No SQL-mode setting: the session runs Spark 4's ANSI-on default,
  the same mode the catalog's correctness gate certifies in. Operators that divide
  or index guard themselves (``nullif``, ``try_element_at``,
  ``try_to_date``) instead of relying on a permissive session.
- Arrow enabled for the Pandas-UDF extension surface.
- The table readers' contract: UTC session time zone and Parquet
  TIMESTAMP(NANOS) read as bigint. It is set here once; nothing on the
  read path changes the session's conf.

On a real cluster only ``master`` changes; everything else is the same
declarative plan (reference config seam: config/pipeline.yaml:1-3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def create_spark_session(
    app_name: str = "rentals-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")

    conf = {
        # Size the local JVM to its core count (guide §5): pyspark's
        # default driver heap is 1 GiB, which on local[32] is ~20 MB of
        # execution+storage memory per concurrent task — every sort,
        # hash-aggregate, broadcast and localCheckpoint fights for it
        # and the whole bench runs GC-bound (A/B numbers in
        # OPTIMIZATION_r13.md). Env-parameterized for the deploy
        # target; on a real
        # cluster executors size via spark.executor.memory and this
        # only affects the driver process. Applied at JVM launch, so a
        # pre-existing session keeps its own value (getOrCreate).
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Time-window starts and date_trunc must align with the tz-naive
        # DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # Parquet TIMESTAMP(NANOS) columns (pyarrow's default for
        # ``events.ts``) read as epoch-nanos bigint instead of failing;
        # ``sources.tables.load_table`` converts them to timestamps.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parquet scans: vectorized reader + pushdown are Spark defaults;
        # restated here because the engine depends on them at 100 TB.
        "spark.sql.parquet.filterPushdown": "true",
        # Runtime bloom-filter injection (also a default, restated as a
        # dependency): when a decontamination/dedup anti-join's digest
        # side outgrows broadcast and falls back to shuffle, the
        # optimizer builds a bloom filter from the small side and
        # prunes the corpus side BEFORE its shuffle — the scale path
        # for huge benchmark digest sets.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
