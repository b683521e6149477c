"""Standing sf0.1 final gate: rows-execute sweep of the FULL catalog.

Runs every catalog query (oracle-paired and rows-only alike) at the
given sf_dir in the engine session, whose one SQL mode is Spark 4's
ANSI-on default, and asserts each executes to completion. This is the scale-up gate the sf0.01
hash-compare cannot give: ANSI overflow/out-of-bounds errors and
operator assumptions that only trip on 10x data (bigger groups, longer
arrays, denser band buckets) surface here. Counts are printed so a
round-over-round diff also catches silent row-count collapses.

Usage: python tools/rows_execute_sweep.py [sf_dir] [query ...]
Exit 1 on any failure; final line: "N/N <sf_dir> OK" for COVERAGE.md.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__  # noqa: E402, F401  (registers every query module)
from rentals_data_pipeline_spark.plans import catalog  # noqa: E402
from rentals_data_pipeline_spark.session import create_spark_session  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    only = set(args[1:])
    unknown = only - set(catalog.QUERIES)
    if unknown:
        # a typo must never produce a green "0/0 OK" gate record
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    spark = create_spark_session("rows-execute-sweep", shuffle_partitions=32)
    names = [n for n in catalog.QUERIES if not only or n in only]
    failed: list[str] = []
    for name in names:
        t0 = time.perf_counter()
        try:
            n = catalog.QUERIES[name](spark, sf_dir).count()
            print(f"OK    {name}: {n} rows ({time.perf_counter() - t0:.1f}s)")
        except Exception as e:  # noqa: BLE001 — the sweep must finish
            failed.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:160]}")
    spark.stop()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        return 1
    print(f"{len(names)}/{len(names)} {sf_dir} OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
