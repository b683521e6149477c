"""Per-query profiler for optimization rounds (guide §1).

For each named query: capture ``.explain("formatted")`` to a file and
time the computation in isolation with the noop sink (which eagerly
computes every column of every row without the collect's driver
serialization — guide §1.4), labeled via ``setJobDescription``.

Usage:
    python tools/profile_queries.py [--sf DIR] [--runs N]
        [--plans-dir plans/r13] [--suffix before] QUERY [QUERY ...]

Prints one JSON line per query: {"query": ..., "noop_sec": median,
"passes": [...]} after one dropped warmup pass (same discipline as
bench.py). This tool is for the optimization workflow, not the driver
contract; bench.py's frozen collect-based methodology is untouched.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import catalog  # noqa: E402
from rentals_data_pipeline_spark.session import create_spark_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--no-time", action="store_true", help="only capture plans"
    )
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = create_spark_session(
        "profile", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    # warm the JVM/parquet footers like bench.py
    catalog.QUERIES["agg_pricing_summary"](spark, args.sf).count()

    for name in args.queries:
        fn = catalog.QUERIES[name]
        if args.plans_dir:
            df = fn(spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            out = Path(args.plans_dir) / f"{name}_{args.suffix}.txt"
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_text(txt)
        if args.no_time:
            print(json.dumps({"query": name, "plan_only": True}), flush=True)
            continue
        passes: list[float] = []
        for i in range(args.runs + 1):
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            if i > 0:
                passes.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        print(
            json.dumps(
                {
                    "query": name,
                    "noop_sec": round(statistics.median(passes), 3),
                    "passes": [round(p, 3) for p in passes],
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
