"""Test-table loading (driver parquet at /root/testdata/sf*/)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rentals_data_pipeline_spark import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change what Parquet schema inference returns for
# the same footer (e.g. TIMESTAMP(NANOS) is bigint under nanosAsLong and
# unreadable without it), so they are part of the memo key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
)

# path -> (key, schema): the last footer schema inferred for each path.
# Threads racing on a miss each infer once; the entries they store agree.
_FOOTER_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple:
    """(name, size, mtime) of every file under ``path``; empty when
    ``path`` is not on the local filesystem."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]
    stats = ((p, os.stat(p)) for p in files)
    return tuple(sorted((p, st.st_size, st.st_mtime_ns) for p, st in stats))


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers from the Parquet footers under ``path``,
    inferred once per file set: the inference job runs on a miss only,
    and a rewritten table (any file added, removed, resized or touched)
    is a miss. Non-local paths are inferred on every call."""
    fp = _fingerprint(path)
    key = (fp, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _FOOTER_SCHEMAS.get(path)
    if hit and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if fp:
        _FOOTER_SCHEMAS[path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with its footer schema given explicitly, so
    only the first load of a file runs an inference job.

    ``events.ts`` is TIMESTAMP(MICROS) in the repository's test tables
    (Spark reads it as ``timestamp_ntz``) and TIMESTAMP(NANOS) in tables
    written with pyarrow's defaults. Spark's reader rejects NANOS unless the
    session sets ``spark.sql.legacy.parquet.nanosAsLong`` (a
    ``create_spark_session`` default); it then reads as ``bigint``, which
    is converted to a microsecond timestamp the same way DuckDB does
    (truncation), so both engines see identical values.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    ts_like = [
        f.name
        for f in schema.fields
        if f.name in ("ts",) and f.dataType.simpleString() == "bigint"
    ]
    for c in ts_like:
        # integer `div`, NOT `/`: float division of epoch-nanos (~1.7e18)
        # exceeds double's 53-bit mantissa and drifts by hundreds of ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view for spark.sql access."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
