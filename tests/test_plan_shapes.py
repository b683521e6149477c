"""Plan-shape regression tests for the headline queries.

PLANS.md documents the physical shape each flagship must keep; these
assertions make a shape regression (lost broadcast, extra shuffle,
dropped map-side top-k, Python creeping into a codegen path) fail in
CI instead of surfacing as a 100 TB incident.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def _shape(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffles": len(
            re.findall(
                r"Exchange (?:hash|range)partitioning|Exchange SinglePartition",
                plan,
            )
        ),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "wgl": len(re.findall(r"WindowGroupLimit", plan)),
        "python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "plan": plan,
    }


def test_star_join_broadcasts_all_dims(spark):
    s = _shape(spark, "join_star_revenue")
    assert s["bhj"] == 4, s["plan"]       # all four dims broadcast
    assert s["smj"] == 0, s["plan"]       # fact side never sort-merges a dim
    assert s["shuffles"] <= 1, s["plan"]  # one fact-side shuffle at most


def test_corpus_curation_shape(spark):
    s = _shape(spark, "pipeline_corpus_curation")
    assert s["shuffles"] == 2, s["plan"]  # one per dedup key, nothing else
    assert s["wgl"] >= 2, s["plan"]       # map-side keep-first pruning alive
    assert s["python"] == 0, s["plan"]    # whole pipeline stays JVM-side


def test_cosine_topk_gemm_shape(spark):
    s = _shape(spark, "sim_cosine_topk")
    assert s["python"] == 1, s["plan"]    # exactly one Arrow stage (the GEMM)
    assert s["shuffles"] <= 1, s["plan"]  # only the final tiny ranking shuffle
    assert s["wgl"] >= 1, s["plan"]       # per-batch pre-pruning feeds WGL


def test_flagship_windows_run_on_aggregated_series(spark):
    """The windows must consume the daily aggregate, not raw events:
    the window sort's input reaches it through the aggregation."""
    s = _shape(spark, "flagship_events_daily")
    assert s["python"] == 0, s["plan"]
    assert s["shuffles"] <= 3, s["plan"]  # agg + two window sorts


def test_stratified_sample_keeps_window_group_limit(spark):
    s = _shape(spark, "sample_stratified_events")
    assert s["wgl"] >= 1, s["plan"]
    assert s["shuffles"] == 1, s["plan"]


def test_histogram_sketch_shape(spark):
    """Raw data is scanned once and never sorted: daily binning, the
    monthly merge, and the quantile windows are all aggregations over
    already-tiny bin frames."""
    s = _shape(spark, "sketch_histogram_quantiles")
    assert s["python"] == 0, s["plan"]
    assert s["shuffles"] <= 3, s["plan"]  # daily bins, monthly merge, window
    assert s["plan"].count("Scan parquet") <= 1, s["plan"]


def test_interval_overlap_join_shape(spark):
    """Pair space must come from an equi-join (hash or sort-merge on
    (keys, bucket)) — never a BroadcastNestedLoopJoin theta join."""
    s = _shape(spark, "join_interval_overlap_orders")
    assert "BroadcastNestedLoopJoin" not in s["plan"], s["plan"]
    assert s["bhj"] + s["smj"] >= 1, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_zorder_cells_shape(spark):
    """The Morton interleave must stay pure codegen: no Python stage,
    one scan, one aggregation shuffle."""
    s = _shape(spark, "layout_zorder_cells")
    assert s["python"] == 0, s["plan"]
    assert s["shuffles"] <= 1, s["plan"]


def test_profile_table_single_scan(spark):
    """The numeric/date/count stats (incl. exact distincts) must read
    the table once — the Expand-based multi-distinct plan, not six
    scans. r13: string min/max fold in ONE extra column-pruned pass
    (their immutable buffers would demote the whole expanded aggregate
    to SortAggregate), so the bound is two scans total — and the
    expensive expanded pass must stay hash-aggregated."""
    s = _shape(spark, "profile_orders_columns")
    assert s["python"] == 0, s["plan"]
    assert s["plan"].count("Scan parquet") == 2, s["plan"]
    assert "Expand" in s["plan"], s["plan"]
    # the Expand feeds HashAggregate, never SortAggregate (the string
    # split's whole point); SortAggregate may appear only in the tiny
    # string-only side
    expand_at = s["plan"].index("Expand")
    assert "SortAggregate" not in s["plan"][:expand_at], s["plan"]


def test_cdc_snapshot_diff_shape(spark):
    """One join, no Python, co-partitioned sides."""
    s = _shape(spark, "cdc_orders_snapshot_diff")
    assert s["python"] == 0, s["plan"]
    assert s["bhj"] + s["smj"] + s["plan"].count("ShuffledHashJoin") == 1, s["plan"]


def test_pii_redaction_is_map_only(spark):
    s = _shape(spark, "text_pii_redaction")
    assert s["shuffles"] == 0, s["plan"]   # pure map: fuses into the scan
    assert s["python"] == 0, s["plan"]     # regex stays in JVM codegen


def test_decontaminate_shape(spark):
    s = _shape(spark, "dedup_decontaminate_train")
    # benchmark digest set + contaminated-id set replicate as broadcasts
    assert s["bhj"] >= 2, s["plan"]        # semi + anti stay broadcast
    assert s["smj"] == 0, s["plan"]
    assert s["python"] == 0, s["plan"]     # shingling is in-row expressions
    # r6: grams build inside the token array — NO window, so no
    # token-level shuffle; the only exchanges are the digest/id
    # distincts (full-corpus token shuffle was the 100 TB leak)
    assert "Window [" not in s["plan"], s["plan"]
    assert s["shuffles"] <= 2, s["plan"]


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """At cluster scale AQE injects a bloom filter from a selective
    build side into the probe side's scan stage (rows that can't join
    die before the shuffle). The size thresholds that gate the rule are
    cluster-tuned; here they're forced down to pin the ENGINE CONTRACT:
    with a selective filtered dim and a sort-merge join, the probe side
    must carry a might_contain runtime filter."""
    from pyspark.sql import functions as F

    from rentals_data_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = load_table(spark, SF_DIR, "lineitem")
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q5_broadcasts_all_dims(spark):
    # All four dims (customer, supplier, nation, region) broadcast —
    # at this tiny SF even orders demotes to broadcast (5 BHJ); at
    # scale the floor is 4 dims + at most one fact sort-merge.
    s = _shape(spark, "tpch_q5_local_supplier_volume")
    assert s["bhj"] >= 4, s["plan"]
    assert s["smj"] <= 1, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_tpch_q3_topk_orders_on_exact_decimal(spark):
    # Top-10 must be a TakeOrdered (global heap), never a full sort,
    # and the customer dim must broadcast.
    s = _shape(spark, "tpch_q3_unshipped_revenue")
    assert "TakeOrderedAndProject" in s["plan"], s["plan"]
    assert s["bhj"] >= 1, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_copurchase_single_fact_shuffle_no_self_join(spark):
    # Pair generation happens inside the per-order part set (codegen
    # array transform), so there is NO fact self-join (no SortMergeJoin
    # anywhere) and no Python stage. r13: the per-order sets are
    # localCheckpoint-ed once, so the plan's five consumers (both
    # width-route branches, part_orders, pa/pb, totals) read the
    # materialized RDD instead of replaying the fact scan +
    # collect_set exchange (the r12 plan re-ran that subtree 5x —
    # exchange reuse could not unify it across the differing pushed
    # filters). The downstream plan must therefore contain ZERO
    # parquet scans and no fact-sized exchange beyond the pair
    # aggregation's.
    s = _shape(spark, "analytics_copurchase_pairs")
    assert s["python"] == 0, s["plan"]
    assert s["smj"] == 0, s["plan"]
    assert "Scan parquet" not in s["plan"], s["plan"]
    assert s["plan"].count("Scan ExistingRDD") >= 4, s["plan"]


def test_psi_drift_single_fact_shuffle(spark):
    # PSI: the fact contributes exactly one (group, bin) count shuffle;
    # everything downstream operates on |groups|-sized data.
    s = _shape(spark, "quality_psi_value_drift")
    assert s["python"] == 0, s["plan"]
    # one (group,bin) agg exchange + one |groups| rollup exchange + the
    # small join back; no more fact-sized exchanges than that
    assert s["shuffles"] <= 4, s["plan"]


def test_anomaly_zscore_windows_on_daily_grid(spark):
    # The rolling window must run over the pre-aggregated daily grid:
    # one fact rollup shuffle + one window partition shuffle.
    s = _shape(spark, "ts_anomaly_zscore")
    assert s["shuffles"] <= 2, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_tpch_q8_single_fact_shuffle(spark):
    """Q8's seven joins must keep exactly one fact-sized exchange: every
    dimension (part, supplier, customer, nation x2, region) broadcasts."""
    s = _shape(spark, "tpch_q8_market_share")
    assert s["bhj"] == 7, s["plan"]
    assert s["smj"] == 0, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_tpch_q21_no_fact_self_join(spark):
    """The classic double correlated self-join must stay collapsed into
    one per-order aggregate: no SortMergeJoin, and the only joins are
    the orders attach + the broadcast supplier/nation lookup."""
    s = _shape(spark, "tpch_q21_suppliers_kept_waiting")
    assert s["smj"] == 0, s["plan"]
    assert s["python"] == 0, s["plan"]
    # lineitem-orders join + waits-supplier join (+ nation inside the
    # broadcast build) — never three fact-fact joins
    assert s["bhj"] <= 3, s["plan"]


def _scans_of(plan: str, table: str) -> int:
    return len(re.findall(rf"FileScan[^\n]*/{table}\.parquet", plan))


def test_tpch_q2_one_eu_evaluation(spark):
    """Q2's correlated MIN is a window over ONE evaluation of the
    EUROPE partsupp set, derived from the already-filtered parts: no
    grouped MIN sort-merged back, and part is scanned once."""
    s = _shape(spark, "tpch_q2_min_cost_supplier")
    assert s["smj"] == 0, s["plan"]
    assert _scans_of(s["plan"], "part") == 1, s["plan"]


def test_tpch_q17_window_cut(spark):
    """Q17's per-part 0.2*avg cut is a window over the one brand-
    filtered line set: no per-part aggregate joined back, and lineitem
    is scanned once."""
    s = _shape(spark, "tpch_q17_small_quantity")
    assert s["smj"] == 0, s["plan"]
    assert _scans_of(s["plan"], "lineitem") == 1, s["plan"]


@pytest.mark.parametrize(
    "name,jobs",
    [("tpch_q2_min_cost_supplier", 7), ("tpch_q17_small_quantity", 4)],
)
def test_tpch_window_frontier_warm_jobs(spark, jobs_run, name, jobs):
    """At catalog scale factors a query's CPU is set by its job and
    AQE-stage count (driver scheduling, re-planning, broadcast builds),
    not by executor work. The aggregate-and-join-back forms ran 12 (Q2)
    and 6 (Q17) warm jobs; the window forms run 7 and 4. The first run
    warms the footer-schema memo so only the query's own jobs count."""
    fn = entry.queries()[name]
    fn(spark, SF_DIR).collect()
    assert jobs_run(lambda: fn(spark, SF_DIR).collect()) == jobs


def test_pareto_prune_before_global_window(spark):
    """The skyline's single-partition exact window must consume the
    bucket-pruned candidate set: the bucket running-max join stays a
    broadcast, and the plan carries no Python or sort-merge join."""
    s = _shape(spark, "analytics_pareto_orders")
    assert s["broadcasts"] >= 1, s["plan"]
    assert s["smj"] == 0, s["plan"]
    assert s["python"] == 0, s["plan"]


def test_quantize_stats_stays_jvm_side(spark):
    """The int8 audit is pure codegen + aggregates: no Python stage, and
    the calibration frame joins back as a broadcast."""
    s = _shape(spark, "sim_quantize_int8_stats")
    assert s["python"] == 0, s["plan"]
    assert s["broadcasts"] >= 1, s["plan"]
    assert s["smj"] == 0, s["plan"]


def test_gopher_rules_is_pure_map(spark):
    """text_gopher_quality_rules: every rule is an in-row array lambda
    — zero exchanges, zero Python (PLANS.md row)."""
    s = _shape(spark, "text_gopher_quality_rules")
    assert s["shuffles"] == 0 and s["broadcasts"] == 0
    assert s["python"] == 0


def test_char_entropy_is_pure_map(spark):
    s = _shape(spark, "text_char_entropy")
    assert s["shuffles"] == 0 and s["python"] == 0


def test_table_checksum_single_scalar_agg(spark):
    """quality_table_checksum_orders: pure map + ONE scalar aggregate
    (a single SinglePartition exchange of map-side partials)."""
    s = _shape(spark, "quality_table_checksum_orders")
    assert s["shuffles"] == 1, s["plan"]
    assert s["python"] == 0


def test_shot_boundaries_shuffle_free_before_explode(spark):
    """multimodal_shot_boundaries: codegen until the explode — no
    exchange anywhere (the output needs no aggregation)."""
    s = _shape(spark, "multimodal_shot_boundaries")
    assert s["shuffles"] == 0 and s["python"] == 0


def test_dominant_lag_single_arrow_stage(spark):
    """multimodal_audio_dominant_lag: exactly one Arrow map stage,
    zero exchanges."""
    s = _shape(spark, "multimodal_audio_dominant_lag")
    assert s["shuffles"] == 0
    assert s["python"] == 1


def test_asof_tolerance_same_shuffles_as_plain_asof(spark):
    """The staleness bound must not add an exchange over the plain
    as-of (it is a row-local predicate after the window)."""
    plain = _shape(spark, "join_asof_last_error")
    tol = _shape(spark, "join_asof_tolerance_error")
    assert tol["shuffles"] == plain["shuffles"]


def test_corpus_mixture_broadcasts_rates(spark):
    """sample_corpus_mixture: the rate table reaches the corpus as a
    broadcast, never a shuffled join."""
    s = _shape(spark, "sample_corpus_mixture")
    assert s["bhj"] >= 1 and s["smj"] == 0, s["plan"]


@pytest.mark.parametrize(
    "name", ["text_pack_chunks_by_split", "pipeline_training_data_prep"]
)
def test_packing_window_is_sharded_not_per_split(spark, name):
    """Round-5 verdict item 4: a running-sum window partitioned by
    `split` alone is one sort+scan task per split over the entire
    corpus at 100 TB. Two-level packing must partition every fact-sized
    window by (split, _pack_shard); the only window allowed to
    partition by split alone is the per-shard offset prefix-sum, whose
    input is the tiny (split x shard) totals relation (recognizable by
    its _pack_nb/_pack_tot grouping)."""
    df = entry.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    # the packing running sum (sum of the chunk token counts up to
    # currentrow) must be partitioned by both split and the shard column
    run_windows = [
        ln
        for ln in win_lines
        if "sum(n_chunk_tokens" in ln and "currentrow" in ln
    ]
    assert run_windows, plan
    for ln in run_windows:
        assert "_pack_shard" in ln, f"packing window not sharded: {ln}"
    # any window partitioned by split alone must be the shard-offset
    # prefix sum (input: the tiny split x shard totals relation)
    for ln in win_lines:
        if "windowspecdefinition(split" in ln and ln not in run_windows:
            assert "sum(_pack_nb" in ln, (
                f"fact-sized window partitioned by split alone: {ln}"
            )


def test_matryoshka_prefix_has_no_cartesian(spark):
    """Round-5 verdict item 6: the prefix stage must not materialize
    the |probes| x |corpus| pair space as rows. The GEMM kernel scores
    it as FLOPs inside mapInPandas; any cartesian or broadcast
    nested-loop node means the crossJoin crept back."""
    df = entry.queries()["sim_matryoshka_prefix_rerank"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan  # the GEMM stage


def test_minhash_gram_stage_has_no_window(spark):
    """r6: shingles build in-array (pure map) — the former lead-window
    form shuffled every raw token on the doc id. The MinHash plan must
    contain NO Window node; its only shuffles are the map-side-combined
    signature aggregate and the banding/verify joins."""
    s = _shape(spark, "dedup_minhash_lsh_pairs")
    assert "Window [" not in s["plan"], s["plan"]
    assert s["python"] == 0, s["plan"]


def test_lsh_index_probe_never_builds_or_shuffles_the_index(spark, tmp_path):
    """r11: the streaming LSH gate's probe (dedup_against_index) must
    keep the CORPUS INDEX on the streamed side of every join. Size
    estimates at a toy SF happily broadcast the index (or, past the
    threshold, sort-merge it — shuffling the whole index per trigger);
    the enforced hints are BOUNDED probe-side relations only: band
    keys, the distinct candidate-id semi-join filter (8-byte ids, not
    sets), and the per-batch probe sets. Run with auto-broadcast
    DISABLED so only the hints can produce a BroadcastHashJoin — a
    SortMergeJoin is allowed only for the final candidate-scale pair
    join, never on a relation that scans the persisted index."""
    from pyspark.sql import functions as F

    from rentals_data_pipeline_spark.operators.dedup import (
        dedup_against_index,
        minhash_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    idx_b, idx_s = minhash_index(docs)
    d = str(tmp_path)
    idx_b.write.parquet(f"{d}/bands/batch=-1")
    idx_s.write.parquet(f"{d}/sets/batch=-1")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hits = dedup_against_index(
            docs.limit(20),
            spark.read.parquet(f"{d}/bands").where(F.col("batch") < 5),
            spark.read.parquet(f"{d}/sets").where(F.col("batch") < 5),
        )
        plan = hits._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the band join builds from the hinted probe band keys (BuildLeft,
    # index bands streamed); the index sets are reduced by a left-semi
    # BHJ against the broadcast candidate ids (BuildRight, index sets
    # streamed)
    band_join = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin [band" in ln
    ]
    semi_join = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftSemi" in ln
    ]
    assert band_join and "BuildLeft" in band_join[0], plan
    assert semi_join and "BuildRight" in semi_join[0], plan
    # any sort-merge join may only touch candidate-scale relations —
    # an SMJ directly over a scan of the persisted index dirs would be
    # the whole-index shuffle this shape exists to prevent; with the
    # semi-join reduction in place the only index-scan consumers are
    # the two BHJs above, so the index never sits under an exchange
    n_smj = plan.count("SortMergeJoin")
    assert n_smj <= 2, plan
