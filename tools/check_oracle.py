"""Local replica of the driver's correctness gate.

Runs every catalog query in Spark AND its DuckDB oracle on the same
parquet, compares row count, column names, and an order-insensitive
value hash (columns sorted by name, floats rounded for stringification).
The Spark side runs in the engine session's one SQL mode, Spark 4's
ANSI-on default: an out-of-bounds ``element_at``, overflow cast or
unguarded division fails here as it would at the gate.
Usage: python tools/check_oracle.py [--pandas-oracle] [sf_dir] [query ...]

``--pandas-oracle`` fetches the oracle through pandas (``.df()``)
instead of ``fetchall()``, replicating the DRIVER's fetch path — the
round-5 red row (sql_cte_window_topn) was locally green under fetchall
(DuckDB DECIMAL arrives as exact ``Decimal``) but driver-red under
pandas (DECIMAL widens to float64, '123.450000' vs '123.45'). Running
both modes certifies against BOTH normalizations; numpy scalars are
unwrapped so bools/ints/floats normalize like their Python
counterparts.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from rentals_data_pipeline_spark import TABLES  # noqa: E402
from rentals_data_pipeline_spark.session import create_spark_session  # noqa: E402


def norm_cell(v: object) -> str:
    # unwrap numpy scalars (the pandas-oracle path yields np.bool_ /
    # np.int64 / np.float64, which would stringify differently from
    # their Python counterparts: np.bool_ is NOT a bool instance)
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full precision: %.6g would mask last-digit drift in large sums
        # (e.g. revenue ~1e7 rounded to cents needs 9+ significant digits).
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    pandas_oracle = "--pandas-oracle" in args
    args = [a for a in args if a != "--pandas-oracle"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = create_spark_session("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # The one authoritative catalog count — docs quote THIS line, so
    # they cannot drift from the swept set again (round-6 verdict 4).
    print(
        f"catalog: {len(queries)} queries "
        f"({len(oracles)} oracle-paired, "
        f"{len(queries) - len(oracles)} rows-only)"
    )
    failures = []
    swept = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        swept += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only)")
            if not srows:
                failures.append(name)
            continue
        try:
            if pandas_oracle:
                # the driver's fetch path: DECIMAL -> float64,
                # HUGEINT -> float64, BOOLEAN -> np.bool_, NULL ints
                # -> NaN floats — divergences fetchall() hides
                odf = con.execute(oracles[name]).df()
                ocols = list(odf.columns)
                # pandas widens DATE to midnight Timestamps; certified
                # date-emitting queries prove the driver normalizes
                # both sides consistently, so fold Timestamps back to
                # dates for columns Spark types as DATE (schema-driven
                # — a true midnight TIMESTAMP stays a timestamp)
                date_cols = {
                    f.name
                    for f in sdf.schema.fields
                    if f.dataType.simpleString() == "date"
                }
                di = [i for i, c in enumerate(ocols) if c in date_cols]

                def _norm_pd(c, i):
                    if c is None:
                        return None
                    # NaN/NaT are pandas' NULL markers (c != c both) —
                    # but guard scalars only: a LIST-typed oracle cell
                    # is a numpy array here, and elementwise `c != c`
                    # raises, masking the driver-typing diagnostic
                    # below as a bogus 'duckdb error'
                    try:
                        if c != c:
                            return None
                    except ValueError:
                        pass  # array-like: fall through to the lint
                    if i in di and hasattr(c, "date"):
                        return c.date()
                    return c

                orows = [
                    tuple(_norm_pd(c, i) for i, c in enumerate(t))
                    for t in odf.itertuples(index=False, name=None)
                ]
            else:
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        # Driver-typing lint: the driver fetches the oracle through pandas,
        # where DuckDB HUGEINT (e.g. SUM over integers wrapped in CASE)
        # becomes float64 — "0.0" vs Spark's "0" breaks its value hash even
        # though fetchall() agrees. Flag integral Spark columns that pandas
        # widens to float on the oracle side.
        # Any DecimalType in an oracle-paired Spark schema is an automatic
        # failure: Spark collects Decimal('123.450000') while the driver's
        # pandas fetch of the DuckDB oracle widens DECIMAL to float64
        # ('123.45') — equal values, different strings, hash-red (round-5
        # red row sql_cte_window_topn). 38-digit decimals additionally
        # LOSE precision through float64. Round to DOUBLE via
        # functions.rounding.round_half_up / sql_round, or stringify.
        for f in sdf.schema.fields:
            if f.dataType.simpleString().startswith("decimal"):
                problems.append(
                    f"driver-typing: Spark col {f.name!r} is "
                    f"{f.dataType.simpleString()} — the driver's pandas "
                    "oracle fetch widens decimals to float64; emit a "
                    "rounded DOUBLE or a string instead"
                )
            if f.dataType.simpleString().startswith(("array", "map", "struct")):
                problems.append(
                    f"driver-typing: Spark col {f.name!r} is "
                    f"{f.dataType.simpleString()} — the driver's pandas "
                    "oracle fetch renders DuckDB LISTs as numpy arrays "
                    "(different stringification); join/serialize the "
                    "nested value to a string on both sides"
                )
        spark_integral = {
            f.name
            for f in sdf.schema.fields
            if f.dataType.simpleString() in ("int", "bigint", "smallint", "tinyint")
        }
        if spark_integral:
            odtypes = con.execute(oracles[name]).df().dtypes
            for cname, dt in odtypes.items():
                if cname in spark_integral and str(dt).startswith("float"):
                    problems.append(
                        f"driver-typing: oracle col {cname!r} is {dt} in pandas "
                        "but integral in Spark (CAST it AS BIGINT in the SQL)"
                    )
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show a diff sample
                sset = {
                    "\x1f".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    "\x1f".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                for s in list(sset - oset)[:3]:
                    print(f"        spark-only: {s!r}")
                for s in list(oset - sset)[:3]:
                    print(f"        duck-only : {s!r}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows")

    spark.stop()
    if failures:
        print(f"\n{len(failures)}/{swept} failing: {failures}")
        return 1
    print(f"\nall queries match ({swept} swept)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
