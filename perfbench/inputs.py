"""Seeded input generators for the benchmark.

Two inputs, both written into the run's temp root before the session
starts:

- a ZORI-shaped wide CSV (the reference ETL's input): ``RegionID,
  SizeRank, RegionName, RegionType, StateName`` plus one column per month
  ``2024-01`` … ``2024-12``, up to 50 states, ~5% empty cells and ~1% planted
  exact-duplicate rows. The generator also returns the exact number of
  rows the ETL must write, so the benchmark can check every op.
- the ten catalog tables (TPC-H-like star schema, ``events``,
  ``documents``, ``embeddings``) as one Parquet file each, shaped like the
  engine's sf0.01 test tables: same schemas, key ranges, value domains
  and ~5% planted near-duplicate documents.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = (
    "AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN MS "
    "MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV "
    "WI WY"
).split()
# One year of months: the ETL writes one Parquet directory per
# (state, year), and the directory count, not the row count, sets its
# cost.
MONTHS = [f"2024-{m:02d}" for m in range(1, 13)]
ZORI_ID_COLUMNS = ["RegionID", "SizeRank", "RegionName", "RegionType", "StateName"]


@dataclass(frozen=True)
class ZoriCsv:
    path: str
    regions: int  # distinct regions
    csv_rows: int  # data rows in the file, planted duplicates included
    expected_rows: int  # rows the ETL must write: non-null (region, month) cells


def write_zori_csv(
    path: str, seed: int, regions: int, states: int = len(STATES)
) -> ZoriCsv:
    """Write the wide CSV for ``seed`` with regions spread evenly over the
    first ``states`` states; the same seed gives the same bytes."""
    rng = np.random.default_rng([seed, 1])
    ids = 100_000 + rng.choice(900_000, size=regions, replace=False)
    states = rng.permutation(np.arange(regions) % states)
    base = rng.uniform(800.0, 4000.0, size=(regions, 1))
    growth = rng.normal(0.003, 0.01, size=(regions, len(MONTHS)))
    rents = np.round(base * np.cumprod(1.0 + growth, axis=1), 1)
    null = rng.random(size=rents.shape) < 0.05
    lines = []
    for i in range(regions):
        cells = ["" if null[i, j] else f"{rents[i, j]:.1f}" for j in range(len(MONTHS))]
        kind = "msa" if i % 4 == 0 else "city"
        head = [str(ids[i]), str(i), f"Region_{i:05d}", kind, STATES[states[i]]]
        lines.append(",".join(head + cells))
    dups = rng.choice(regions, size=max(1, round(regions * 0.01)), replace=False)
    lines.extend(lines[i] for i in dups)
    order = rng.permutation(len(lines))
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(ZORI_ID_COLUMNS + MONTHS) + "\n")
        for k in order:
            f.write(lines[k] + "\n")
    return ZoriCsv(
        path=path,
        regions=regions,
        csv_rows=len(lines),
        expected_rows=int((~null).sum()),
    )


# Row counts of the engine's sf0.01 test tables.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    ms = (np.datetime64(start, "ms") + rng.integers(0, span + 1, n) * 86_400_000)
    return pa.array(ms.astype("datetime64[ms]"), pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts = [
        " ".join(_pick(rng, _WORDS, int(rng.integers(10, 100)))) for _ in range(n)
    ]
    # ~5% near-duplicates: a copy of another document with " dup" appended
    # (chains allowed), the shape the dedup and cluster-map queries look for.
    for i in rng.choice(n, size=n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    return texts


def build_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables for ``seed`` as Arrow tables."""
    rng = np.random.default_rng([seed, 2])
    n = TABLE_ROWS
    i64 = lambda k: pa.array(np.arange(n[k]), pa.int64())  # noqa: E731
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": i64("customer"),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(
            rng,
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"],
        ),
    })
    supplier = pa.table({
        "s_suppkey": i64("supplier"),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adjectives = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    part = pa.table({
        "p_partkey": i64("part"),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                _pick(rng, adjectives, n["part"]), _pick(rng, nouns, n["part"])
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": _pick(
            rng,
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
            n["part"],
        ),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": i64("orders"),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n["orders"]),
        "o_orderpriority": _pick(
            rng,
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"],
        ),
    })
    m = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, m),
    })
    e = n["events"]
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    events = pa.table({
        "event_id": i64("events"),
        "ts": pa.array((start_us + offsets_us) * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": _pick(rng, ["click", "signup", "error", "view", "purchase"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = _documents(rng, d)
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    documents = pa.table({
        "doc_id": i64("documents"),
        "text": texts,
        "lang": _pick(rng, langs, d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": i64("embeddings"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet`` for every table; return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
