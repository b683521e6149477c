"""The tiered graph algorithms (``graph.pagerank``,
``dedup.connected_components``) checkpoint their projected input once
at entry, then probe the checkpoint to pick a tier. Pinned here:

- above the bound the upstream chain is evaluated exactly once (an
  uncheckpointed probe followed by the distributed loop evaluated it
  twice — once for the probe, again for the loop);
- below the bound the checkpoint costs at most one Spark job over the
  uncheckpointed probe, which ran 3 jobs on this input.

The upstream applies a counting Python UDF below a shuffle, so every
evaluation runs the map stage to completion and the accumulator sees
each row each time the chain is evaluated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators.dedup import connected_components
from rentals_data_pipeline_spark.operators.graph import pagerank

N_ROWS = 200


def _counted_upstream(spark, src: str, dst: str):
    """A directed cycle over N_ROWS nodes behind a shuffle, with an
    accumulator counting the rows the UDF evaluates."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        acc.add(1)
        return x

    x = (
        spark.range(0, N_ROWS, numPartitions=2)
        .select(tick("id").alias("x"))
        .repartition(3, "x")
    )
    edges = x.select(
        F.col("x").alias(src), ((F.col("x") + 1) % N_ROWS).alias(dst)
    )
    return edges, acc


ALGORITHMS = {
    "pagerank": (pagerank, "src", "dst"),
    "connected_components": (connected_components, "id_a", "id_b"),
}


@pytest.mark.parametrize("name", sorted(ALGORITHMS))
def test_input_evaluated_once_above_bound(spark, name):
    fn, src, dst = ALGORITHMS[name]
    edges, acc = _counted_upstream(spark, src, dst)
    out = fn(edges, driver_bound=5).collect()
    assert len(out) == N_ROWS  # the cycle: every node once
    assert acc.value == N_ROWS


@pytest.mark.parametrize("name", sorted(ALGORITHMS))
def test_sub_bound_tier_adds_at_most_one_job(spark, jobs_run, name):
    fn, src, dst = ALGORITHMS[name]
    edges, acc = _counted_upstream(spark, src, dst)
    assert jobs_run(lambda: fn(edges).collect()) <= 3 + 1
    assert acc.value == N_ROWS
