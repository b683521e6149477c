"""Reshape: unpivot (wide→long) and pivot (long→wide).

Unpivot is the reference's signature relational op (reference:
jobs/transform.py:59-88 — a dynamically built ``stack()`` selectExpr
over the regex-matched date columns). We use ``DataFrame.unpivot``,
which lowers to the same ``Expand`` physical node, and keep the
column-set dynamic (plan-build-time list, so a new month column in the
input needs no code change).

Scale notes: ``Expand`` multiplies rows (N value-columns → N rows per
input row) but is narrow — no shuffle. Project only the id + value
columns first so the expanded rows are as thin as possible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Op = Callable[[DataFrame], DataFrame]


def unpivot(
    ids: list[str],
    values: list[str],
    var_col: str = "variable",
    value_col: str = "value",
) -> Op:
    """Wide→long: one output row per (input row × value column)."""

    def _apply(df: DataFrame) -> DataFrame:
        return df.select(*ids, *values).unpivot(
            ids=ids, values=values, variableColumnName=var_col, valueColumnName=value_col
        )

    return _apply


def pivot(
    group_by: list[str],
    pivot_col: str,
    agg_expr: Column,
    pivot_values: list[str] | None = None,
) -> Op:
    """Long→wide. Pass explicit ``pivot_values`` at scale — otherwise
    Spark runs an extra distinct job to discover them."""

    def _apply(df: DataFrame) -> DataFrame:
        p = df.groupBy(*group_by).pivot(pivot_col, pivot_values)
        return p.agg(agg_expr)

    return _apply


def parse_period_column(
    src_col: str,
    out_col: str = "month",
    formats: tuple[str, ...] = ("yyyy-MM-dd", "yyyy-MM"),
    drop_src: bool = True,
) -> Op:
    """Multi-format date parse: ``coalesce(try_to_date(s, fmt), ...)``
    (reference: jobs/transform.py:80-87 tolerates monthly and daily
    column headers). ``try_to_date`` yields NULL for a format that does
    not match, so the next format is tried; ``to_date`` would raise
    CANNOT_PARSE_TIMESTAMP under ANSI on."""

    def _apply(df: DataFrame) -> DataFrame:
        parsed = F.coalesce(*[F.try_to_date(F.col(src_col), f) for f in formats])
        out = df.withColumn(out_col, parsed)
        return out.drop(src_col) if drop_src else out

    return _apply
