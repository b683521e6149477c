"""Driver-contract invariants for __spark_entry__.

The correctness gate checks only the FIRST 50 ``queries()`` entries, so
the ordering tuple is load-bearing: a catalog query missing from
``_CHECK_PRIORITY`` silently jumps the queue (displacing a planned
re-certification), and a stale name silently shrinks the planned set.
These assertions make either mistake a test failure at add time.
"""

from __future__ import annotations

import __spark_entry__ as entry
from rentals_data_pipeline_spark.plans import catalog


def test_every_catalog_query_is_pinned_in_gate_order():
    missing = set(catalog.QUERIES) - set(entry._CHECK_PRIORITY)
    assert not missing, (
        f"new catalog queries not pinned in _CHECK_PRIORITY (they would "
        f"displace planned re-certifications from the top-50): {sorted(missing)}"
    )


def test_no_stale_names_in_gate_order():
    stale = set(entry._CHECK_PRIORITY) - set(catalog.QUERIES)
    assert not stale, f"_CHECK_PRIORITY names without a catalog query: {sorted(stale)}"


def test_no_duplicate_priority_entries():
    names = list(entry._CHECK_PRIORITY)
    assert len(names) == len(set(names))


def test_oracle_sql_only_for_catalog_queries():
    assert set(catalog.ORACLE_SQL) <= set(catalog.QUERIES)


def test_duplicate_registration_raises():
    """r12 incident: `query()` was silently last-wins, so re-adding a
    gaps-and-islands query under an existing name left one definition
    as dead code with every gate green. Registration must be loud."""
    import pytest

    existing = next(iter(catalog.QUERIES))
    with pytest.raises(ValueError, match="already registered"):

        @catalog.query(existing)
        def _dup(spark, sf_dir):  # pragma: no cover - must not register
            raise AssertionError

    # the original registration is untouched
    assert catalog.QUERIES[existing].__name__ != "_dup"


def test_decorator_count_matches_registry():
    """Every `@query(` in the plans tree must survive into QUERIES —
    with last-wins registration a duplicate decorator silently shrank
    the registry; with the raise guard this pins the two in lockstep
    (a direct `QUERIES[name] =` assignment would also break it)."""
    import pathlib

    plans = pathlib.Path(catalog.__file__).parent
    n_decorators = sum(
        p.read_text().count("@query(") for p in plans.glob("*.py")
    )
    assert n_decorators == len(catalog.QUERIES), (
        f"{n_decorators} @query( decorators in plans/*.py but "
        f"{len(catalog.QUERIES)} registered queries"
    )


def test_queries_and_oracles_align():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # every oracle string is non-trivial SQL
    assert all("SELECT" in sql.upper() for sql in o.values())


def test_engine_session_runs_the_gate_sql_mode(spark):
    """The engine session sets no SQL mode, so it runs Spark 4's ANSI-on
    default, the mode the correctness gate certifies in."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_no_decimal_columns_in_oracle_paired_schemas(spark):
    """Driver-typing lint (round-5 red row): the driver fetches the
    DuckDB oracle through pandas, which widens DECIMAL to float64 —
    so a Spark result that emits DecimalType stringifies differently
    ('123.450000' vs '123.45') and hash-fails on EQUAL values; 38-digit
    decimals additionally lose precision through the float. Every
    oracle-paired query must round to DOUBLE (round_half_up) or
    stringify before emitting. Schema derivation is analysis-only
    (no job runs), so this sweeps all ~178 queries cheaply."""
    q = entry.queries()
    offenders = {}
    for name in entry.oracle_sql():
        df = q[name](spark, "/root/testdata/sf0.001")
        bad = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString().startswith(
                ("decimal", "array", "map", "struct")
            )
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle-paired queries emitting Decimal/array/map/struct columns "
        "(the driver's pandas oracle fetch widens decimals to float64 and "
        f"renders LISTs as numpy arrays → hash-red): {offenders}"
    )
