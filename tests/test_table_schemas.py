"""Table loading reads each Parquet footer once.

``load_table`` always reads with an explicit schema. The schema is the
one Spark infers from the file's own footer, inferred on the first load
of a file set and reused after, so a repeat load runs no Spark job. The
file's footer, not a declared ``StructType``, is the source because the
same table arrives in two physical forms: ``events.ts`` is
TIMESTAMP(MICROS) in the repository's test tables (read as
``timestamp_ntz``) and TIMESTAMP(NANOS) when pyarrow writes it with its
defaults (read as bigint under ``nanosAsLong``, then converted). A
``timestamp_ntz`` schema fails on the NANOS file and a ``bigint`` one
returns raw micros from the MICROS file, so no single declared schema
reads both.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.sources.tables import load_table

def test_repeat_load_runs_no_job(spark, tmp_path, jobs_run):
    path = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(path)
    sf = str(tmp_path)
    assert jobs_run(lambda: load_table(spark, sf, "t")) <= 1
    assert jobs_run(lambda: load_table(spark, sf, "t")) == 0
    df = load_table(spark, sf, "t")
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 100


def test_rewritten_table_gets_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    rewritten = spark.range(3).withColumn("tag", F.lit("x"))
    rewritten.write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "tag"]
    assert {r["tag"] for r in df.collect()} == {"x"}


def _write_events(sf, unit: str, ns: list[int]) -> None:
    sf.mkdir()
    ts = pa.array(ns, pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
    table = pa.table({"event_id": pa.array(range(len(ns)), pa.int64()), "ts": ts})
    pq.write_table(table, sf / "events.parquet", version="2.6")


def test_nanos_and_micros_events_load_the_same_micros(spark, tmp_path):
    epoch = dt.datetime(1970, 1, 1)
    base = dt.datetime(2024, 1, 1, 0, 0, 11, 172425)
    micros = [
        (base + dt.timedelta(minutes=i) - epoch) // dt.timedelta(microseconds=1)
        for i in range(4)
    ]
    # sub-microsecond remainders: the NANOS read must truncate them
    ns = [m * 1000 + r for m, r in zip(micros, (0, 1, 499, 999))]
    _write_events(tmp_path / "nanos", "ns", ns)
    _write_events(tmp_path / "micros", "us", ns)
    for form, unit in (("nanos", "ns"), ("micros", "us")):
        footer = pq.read_schema(tmp_path / form / "events.parquet")
        assert footer.field("ts").type.unit == unit

    got, types = {}, {}
    for form in ("nanos", "micros"):
        df = load_table(spark, str(tmp_path / form), "events")
        types[form] = df.schema["ts"].dataType.simpleString()
        got[form] = [
            r[0]
            for r in df.orderBy("event_id")
            .select(F.unix_micros(F.col("ts").cast("timestamp")))
            .collect()
        ]
    assert got["nanos"] == got["micros"] == micros
    assert types == {"nanos": "timestamp", "micros": "timestamp_ntz"}


def test_memo_follows_the_session_inference_confs(spark, tmp_path):
    """The same footer infers differently under a different session
    conf, so a conf change is a memo miss, not a stale hit."""
    _write_events(tmp_path / "micros", "us", [1_704_067_211_172_425_000])
    sf = str(tmp_path / "micros")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"

    def ts_type():
        return load_table(spark, sf, "events").schema["ts"].dataType.simpleString()

    assert ts_type() == "timestamp_ntz"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert ts_type() == "timestamp"
    finally:
        spark.conf.set(key, prev)
    assert ts_type() == "timestamp_ntz"
