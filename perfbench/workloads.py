"""The benchmark's workloads: what an op is, and how its output is checked.

Every workload is a closed loop with one client: a single thread runs
one op, checks its output outside the timed window, then runs the next.

- ``etl_zori``: an op is one ``plans.pipeline.run_etl`` over a seeded
  ZORI-shaped CSV — typed CSV read, unpivot, clean, dedup, lag/rank, the
  ``(StateName, year)``-partitioned Parquet write and the DQ readback.
  It is the engine's only write path and loads no Parquet tables.
- ``catalog_sql``: an op is the build plus ``collect()`` of one
  oracle-paired query. Short reads whose cost is table loading, Catalyst
  and shuffle joins.

Query ops are checked against the DuckDB oracle's value hash; ETL ops
against the generator's exact row count, the DQ tally and the value hash
of a DuckDB twin of the transform over the same CSV.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from contextlib import contextmanager
from pathlib import Path

import duckdb

import inputs

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import check_oracle  # noqa: E402  (also registers every catalog query)
from rentals_data_pipeline_spark.operators import quality  # noqa: E402
from rentals_data_pipeline_spark.plans import catalog, pipeline  # noqa: E402
from rentals_data_pipeline_spark.sources import tables  # noqa: E402

# A run pays two warm-up passes before timing starts, so a pass is kept
# near 4 s on 4 cores, which gives 3-4 timed passes in a 15 s run.
CATALOG_SQL = (
    "flagship_events_daily",
    "agg_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "window_cumulative_sum",
    "topk_orders_per_customer",
    "reshape_unpivot_measures",
)
# The catalog tables are the same in every run: the seed drives the op
# order of the query workloads, so their inputs never differ in size.
TABLE_SEED = 42
# The sink writes one directory per (state, year) from a single task, so
# the state count, not the row count, sets an op's cost: 10 states keep
# an op near 1.3 s on 4 cores and give 10 or more timed ops in a run.
ZORI_REGIONS = 600
ZORI_STATES = 10


def _hash_rows(rows, columns) -> str:
    return check_oracle.value_hash([tuple(r) for r in rows], list(columns))


def oracle_hashes(sf_dir: str, names, queries) -> dict:
    """query -> {columns, hash} of its DuckDB oracle over the tables.

    Run before every set-up, untimed; each query's takes under 0.12 s on
    4 cores.
    """
    out = {}
    con = duckdb.connect()
    try:
        for t in names:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in queries:
            res = con.execute(catalog.ORACLE_SQL[q])
            cols = [d[0] for d in res.description]
            out[q] = {"columns": len(cols), "hash": _hash_rows(res.fetchall(), cols)}
    finally:
        con.close()
    return out


class Workload:
    """One workload: its inputs, its ops and the check of each op."""

    name: str
    first_op: str  # the op each set-up ends with
    # Untimed passes after set-up while the JIT warms up. It warms per op
    # run, so an ETL pass (one op) needs more of them: on 4 cores an ETL
    # op's CPU fell from 2.6 s (2nd op) to 1.5 s (9th) and 1.3 s (20th).
    # With 8 the first two timed ops still read up to 25% high, which the
    # median absorbs; 12 made a run 10-20 s longer on a busy host.
    # After one warm-up pass of the query mix the first timed pass was
    # still ~20% slower than later ones.
    warmup_passes: int

    def prepare(self, root: str, seed: int) -> None:
        """Generate inputs and reference results (before set-up is timed)."""
        raise NotImplementedError

    def pass_ops(self, rng: random.Random) -> list[str]:
        """The op names of one pass, in the order they run."""
        raise NotImplementedError

    def run(self, spark, op: str, tracer=None):
        """Run one op; return what :meth:`check` needs. This is timed."""
        raise NotImplementedError

    def check(self, op: str, result) -> str | None:
        """``None`` if the op's output is correct, else what is wrong."""
        raise NotImplementedError

    def source_rows(self, loaded: set[str]) -> int:
        """Rows of the inputs an op reads, given the tables it loaded."""
        raise NotImplementedError

    def collected_rows(self, result) -> int:
        return 0

    def written_rows(self, result) -> int:
        return 0

    def written_files(self, result) -> tuple[int, int]:
        """(files, bytes) of Parquet an op wrote."""
        return 0, 0


class QueryMix(Workload):
    warmup_passes = 2

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name = name
        self.queries = queries
        self.first_op = queries[0]

    def prepare(self, root: str, seed: int) -> None:
        self.sf_dir = os.path.join(root, "tables")
        self.table_rows = inputs.write_tables(self.sf_dir, TABLE_SEED)
        self.expected = oracle_hashes(self.sf_dir, self.table_rows, self.queries)

    def pass_ops(self, rng: random.Random) -> list[str]:
        ops = list(self.queries)
        rng.shuffle(ops)
        return ops

    def run(self, spark, op: str, tracer=None):
        build = catalog.QUERIES[op]
        if tracer is None:
            df = build(spark, self.sf_dir)
            return df.columns, df.collect()
        with tracer.span("op", op):
            with tracer.span("plans", op) as b:
                df = build(spark, self.sf_dir)
            with tracer.span("collect", op) as c:
                rows = df.collect()
        tracer.add_catalyst_phases(df, [b, c])
        return df.columns, rows

    def check(self, op: str, result) -> str | None:
        columns, rows = result
        want = self.expected[op]
        if len(columns) != want["columns"]:
            return f"{len(columns)} columns, oracle has {want['columns']}"
        if _hash_rows(rows, columns) != want["hash"]:
            return "value hash differs from the DuckDB oracle"
        return None

    def source_rows(self, loaded: set[str]) -> int:
        return sum(self.table_rows[t] for t in loaded)

    def collected_rows(self, result) -> int:
        return len(result[1])


# DuckDB twin of plans.pipeline.run_etl's transform (DEFAULT_CONFIG),
# written against the reference semantics, not the engine's code.
_ETL_TWIN = """
WITH long AS (
    SELECT CAST(RegionID AS INTEGER) AS RegionID, RegionName, StateName,
           CAST(strptime(period_str, '%Y-%m') AS DATE) AS month,
           CAST(v AS DOUBLE) AS median_rent
    FROM (UNPIVOT raw ON COLUMNS('^[0-9][0-9][0-9][0-9]-[0-9][0-9]$')
          INTO NAME period_str VALUE v)
),
dedup AS (
    SELECT * FROM long
    QUALIFY row_number() OVER (PARTITION BY RegionID, month
                               ORDER BY median_rent) = 1
),
prev AS (
    SELECT *, NULLIF(lag(median_rent) OVER (PARTITION BY RegionID
                                            ORDER BY month), 0) AS p
    FROM dedup
)
SELECT RegionID, RegionName, StateName, month, median_rent,
       FLOOR(((median_rent - p) / p * 100.0) * 100.0 + 0.5) / 100.0
           AS rent_change_mom,
       CAST(rank() OVER (PARTITION BY StateName, month
                         ORDER BY median_rent DESC) AS INTEGER)
           AS state_rent_rank,
       year(month) AS year
FROM prev
"""
_OUT_COLUMNS = [
    "RegionID", "RegionName", "StateName", "month", "median_rent",
    "rent_change_mom", "state_rent_rank", "year",
]


class EtlZori(Workload):
    name = "etl_zori"
    first_op = "run_etl"
    warmup_passes = 8

    def prepare(self, root: str, seed: int) -> None:
        self.root = root
        self.csv = inputs.write_zori_csv(
            os.path.join(root, "zori.csv"), seed, ZORI_REGIONS, ZORI_STATES
        )
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE raw AS SELECT * FROM "
                f"read_csv('{self.csv.path}', header=true, all_varchar=true)"
            )
            rows = con.execute(
                f"SELECT {', '.join(_OUT_COLUMNS)} FROM ({_ETL_TWIN})"
            ).fetchall()
        finally:
            con.close()
        if len(rows) != self.csv.expected_rows:
            raise RuntimeError(
                f"ETL twin has {len(rows)} rows, generator expects "
                f"{self.csv.expected_rows}"
            )
        self.expected_hash = _hash_rows(rows, _OUT_COLUMNS)
        self.n_ops = 0

    def pass_ops(self, rng: random.Random) -> list[str]:
        return ["run_etl"]

    def run(self, spark, op: str, tracer=None):
        self.n_ops += 1
        out = os.path.join(self.root, f"out{self.n_ops}")
        if tracer is None:
            return out, pipeline.run_etl(spark, self.csv.path, out)
        with tracer.span("plans", op):
            return out, pipeline.run_etl(spark, self.csv.path, out)

    def check(self, op: str, result) -> str | None:
        out, tally = result
        try:
            if tally.get("failed") != 0:
                return f"DQ tally failed={tally.get('failed')}"
            con = duckdb.connect()
            try:
                rows = con.execute(
                    f"SELECT {', '.join(_OUT_COLUMNS)} FROM read_parquet("
                    f"'{out}/**/*.parquet', hive_partitioning=true)"
                ).fetchall()
            finally:
                con.close()
            if len(rows) != self.csv.expected_rows:
                return f"wrote {len(rows)} rows, expected {self.csv.expected_rows}"
            if _hash_rows(rows, _OUT_COLUMNS) != self.expected_hash:
                return "value hash differs from the DuckDB twin"
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def written_files(self, result) -> tuple[int, int]:
        files = [p for p in Path(result[0]).rglob("*.parquet") if p.is_file()]
        return len(files), sum(p.stat().st_size for p in files)

    def written_rows(self, result) -> int:
        return self.csv.expected_rows

    def source_rows(self, loaded: set[str]) -> int:
        # the CSV, and the written table the DQ step reads back
        return self.csv.csv_rows + self.csv.expected_rows


WORKLOADS = {
    "etl_zori": EtlZori,
    "catalog_sql": lambda: QueryMix("catalog_sql", CATALOG_SQL),
}


@contextmanager
def instrumented(tracer):
    """Wrap the engine's layer entry points in tracer spans.

    ``sources.tables.load_table`` is bound by name in every plans module,
    so each binding is replaced; the rest are reached through one module.
    """
    def wrap(layer, fn, name_of):
        def traced(*args, **kwargs):
            name = name_of(args, kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)
        return traced

    def table_name(args, kwargs):
        return kwargs.get("name", args[2] if len(args) > 2 else "?")

    targets = [
        (tables.load_table, wrap("sources.tables", tables.load_table, table_name)),
        (pipeline.read_csv_typed,
         wrap("sources.csv", pipeline.read_csv_typed, lambda a, k: "read_csv_typed")),
        (pipeline.write_partitioned_parquet,
         wrap("sources.sink", pipeline.write_partitioned_parquet,
              lambda a, k: "write_partitioned_parquet")),
        (quality.run_quality_checks,
         wrap("operators.quality", quality.run_quality_checks,
              lambda a, k: "run_quality_checks")),
    ]
    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("rentals_data_pipeline_spark"):
            continue
        for original, traced in targets:
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, traced)
                    patched.append((mod, attr, original))
    try:
        yield
    finally:
        for mod, attr, original in patched:
            setattr(mod, attr, original)
