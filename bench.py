"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (≤~500 B — sized to the round driver's
stdout tail buffer, which truncated the old full line at round 7):
``{"metric": ..., "value": N, "unit": "sec", "n_queries": K,
"queries_file": "BENCH_LOCAL.json", ...calib..., "sf": ...}``
and writes the full record (with the per-query map under "queries")
to ``BENCH_LOCAL.json`` next to this file.

Each query is timed end-to-end (plan build + execution to a collect of
the result); the reported per-query number is the MEDIAN of
``$SPARK_GRAFT_BENCH_RUNS`` (default 3) passes taken AFTER one dropped
per-query warmup pass (first execution pays one-time codegen/JIT
compile, a per-process constant ~2-4x steady state) and a session
warmup —
round 3 showed one-shot timings at sf0.1 carry a ~1.5x environment noise
band, so single-pass numbers are not comparable across rounds. Total
wall seconds (sum of medians) across the headline set is the headline
metric.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__  # noqa: E402, F401  (registers every query module)
from rentals_data_pipeline_spark.plans import catalog  # noqa: E402
from rentals_data_pipeline_spark.session import create_spark_session  # noqa: E402

HEADLINE = [
    "flagship_events_daily",
    "agg_pricing_summary",
    "join_star_revenue",
    "topk_orders_per_customer",
    "reshape_unpivot_measures",
    "dedup_first_event",
    "window_cumulative_sum",
    # extension surface
    "text_token_stats",
    "dedup_minhash_lsh_pairs",
    "sim_cosine_topk",
    "ts_tumbling_hourly",
    "join_asof_last_error",
    "pipeline_corpus_curation",
    "pipeline_embedding_curation",
    "text_tfidf_top_terms",
    "ts_gap_fill_hourly",
    "sample_stratified_events",
    "analytics_funnel_stages",
    # round-4 additions (pipeline_embedding_curation_srp deliberately
    # excluded: at this corpus's 0.4 threshold LSH cannot prune — the
    # S-curve planner predicts ~7n² join+verify vs the GEMM's 1n², and
    # measures 14s vs 3.3s at sf0.1 even with planner-sized bands —
    # which is why the flagship's "auto" default routes 0.4 to GEMM;
    # the SRP stage's scale value is at production thresholds (≥0.85,
    # where the same planner routes to SRP), certified by its own
    # oracle row, not by this benchmark)
    "sketch_histogram_quantiles",
    "join_interval_overlap_orders",
    "layout_zorder_cells",
    # round-5 additions
    "multimodal_decoded_wav_stats",
    "text_pii_redaction",
    "dedup_decontaminate_train",
    "sketch_heavy_hitters_event_types",
    "cdc_incremental_agg_orders",
    "stats_winsorized_events",
    "text_corpus_bigrams",
    "sim_label_centroids",
    "sql_above_customer_avg_orders",
    # round-5 third batch
    "analytics_copurchase_pairs",
    "quality_psi_value_drift",
    "ts_anomaly_zscore",
    "multimodal_decoded_ppm_stats",
    "sql_cte_window_topn",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "graph_pagerank_copurchase",
    "analytics_event_transitions",
    "quality_key_skew_events",
    "pipeline_training_data_prep",
    # round-5 fifth batch: the TPC-H sweep's heavier shapes (Q8's
    # 7-join star, Q13's filtered outer-join double agg, Q21's
    # per-order aggregate rewrite of the classic double self-join)
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q21_suppliers_kept_waiting",
    # int8-compressed ANN: calibrate + encode/decode (codegen) + GEMM
    "sim_quantized_cosine_topk",
    # round-5 sixth/seventh batches: span-level dedup (digest-keyed
    # explode), the two drift monitors' heavier sibling (KS walks the
    # distinct-value axis), the temperature mixer (broadcast rates),
    # gaps-and-islands, and the kNN eval loop over the GEMM kernel
    "text_duplicated_ngram_fraction",
    "stats_ks_value_drift",
    "sample_corpus_mixture",
    "analytics_activity_streaks",
    "sim_knn_label_vote",
    # the media-modality flagship (reshape_denormalize_star stays out:
    # bench collect()s results, and a 600k-row wide export measures
    # driver row serialization, not the 6-join plan — its engine-side
    # cost is ~0.5s warm; the sf0.01 oracle gate still certifies it)
    "pipeline_media_curation",
    # round-6 late addition: the header-only triage pass (2 pack
    # stages + probe, zero exchanges) — the cheap sibling the decode
    # stats queries are routed BY at scale
    "multimodal_container_probe",
    # round-7 addition: Bloom-prefiltered decontamination — identical
    # output to the exact operator; the perf story is the broadcast
    # shrinking 64x+ and the verify join seeing only the bloom-positive
    # sliver
    "dedup_decontaminate_bloom",
    # round-8 addition: the motion-triage query now decodes TWO real
    # containers per doc (animated GIF + Motion-JPEG AVI) in
    # independent Arrow stages — the per-frame decode throughput the
    # video-curation path rides on
    "multimodal_video_shot_boundaries",
    # round-8 TPC-H completion: the two heaviest new shapes over the
    # derived partsupp — Q2's min-cost frontier (a partitioned MIN
    # window) and Q11's aggregate-vs-broadcast-total threshold
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    # round-9 additions: the MP4 sample-table decode path (box walk +
    # stsc/stco/stsz flattening + per-sample JPEG — the third real
    # video container), and the exact sliding COUNT(DISTINCT) via the
    # contribution-fanout shape (7x pair fanout, no range BNLJ)
    "multimodal_decoded_mp4_stats",
    "sketch_sliding_distinct_users_exact",
    # round-10 addition: the Ogg reassembly decode path (page walk +
    # lacing-table packet reassembly + the native FLAC frame decoder)
    # — the last container goes from probe-only to value-certified
    "multimodal_decoded_ogg_stats",
    # round-10 additions: SemDeDup (cluster-partitioned semantic dedup,
    # one matmul per cluster group), C4-style corpus span dedup with
    # rewrite (span-content MIN agg + reassembly, zero Python), and the
    # incremental kept-set-index SemDeDup probe
    "dedup_semdedup_embeddings",
    "dedup_span_rewrite_documents",
    "dedup_semdedup_incremental",
    # the SemDeDup-paper release workflow composed cross-table:
    # embedding dedup -> document handoff -> quality gate -> split
    "pipeline_semantic_curation",
    # round-11 coverage extension (r10 verdict item 6): every family
    # gets at least one benched query so a regression in any plan
    # module is visible round-over-round. Selection = the measured
    # most-expensive query of each previously-unbenched family
    # (profile/scalar/scd2/setops/sort), plus the heaviest unbenched
    # query of each under-covered family (one-shot sf0.1 sweep,
    # 2026-08-16). sim_srp_near_dup_pairs (20s) and
    # pipeline_embedding_curation_srp (21s) stay excluded for bench
    # runtime — their cost is the documented S-curve regime, certified
    # by their oracle rows; reshape_denormalize_star stays excluded
    # per the driver-serialization note above.
    "profile_orders_columns",
    "scalar_variant_json",
    "scd2_apply_changes_incremental",
    "setops_customer_cohorts",
    "sort_global_top10_orders",
    "agg_mode_orders_priority",
    "window_rolling_autocorr",
    "ts_changepoint_cusum",
    "quality_referential_integrity",
    "join_range_value_bands",
    "sql_recursive_month_spine",
    "stats_equal_frequency_binning",
    "analytics_funnel_conversion_window",
    "graph_jaccard_link_prediction",
    "dedup_cluster_size_histogram",
    "multimodal_decoded_avi_stats",
    "text_bpe_merges",
    "tpch_q20_potential_promotion",
    # round-11 new queries: DSIR hashed-bigram importance weights (the
    # data-selection scoring pass — broadcast LM, two data-sized
    # shuffles) and the per-source dataset-card funnel (gates as
    # flag columns over one scan + one digest window + one agg)
    "sample_dsir_importance",
    "pipeline_curation_funnel_by_source",
    # the per-suite eval-integrity contamination table (broadcast
    # digest slivers; train never shuffles for the membership probe)
    "dedup_contamination_report",
    # round-12: the 100 TB profile mode (HLL distincts, no Expand) —
    # benched next to its exact twin so the A/B stays visible
    "profile_orders_columns_approx",
    # round-12 new operators: hard-negative mining (label-masked GEMM
    # tier) and the vocabulary coverage curve (frequency-histogram
    # cumulative walk)
    "sim_hard_negatives",
    "text_vocab_coverage",
    # round-12 wave 2: split-half embedding-drift monitor and the
    # Benford first-digit money-column audit
    "sim_centroid_drift",
    "quality_benford_first_digit",
    # round-12 wave 3: rank-based drift (Mann-Whitney U over the
    # bounded distinct-value frame), per-segment revenue Gini (fact
    # folds to the customer dim before the rank window), and the
    # Spearman monotonic-trend monitor (single-scan count cube)
    "stats_mann_whitney_value_drift",
    "stats_gini_revenue_concentration",
    "stats_spearman_value_trend",
    # round-12 wave 4: soft dedup (reweight-don't-drop over the
    # near-dup clusters) and the k-anonymity privacy audit
    "dedup_soft_dedup_weights",
    "quality_k_anonymity_customers",
    # round-12 wave 5: inter-source 5-gram redundancy matrix (one
    # digest-keyed shuffle; pairs generate in-row from each digest's
    # collected source set — no self-join)
    "dedup_cross_source_overlap",
    # round-12 wave 6: MAD robust-outlier census (two selection
    # medians over the distinct-value frame, one fact scan) and the
    # hourly ACF seasonality spectrum (one shuffle to anchored means)
    "quality_mad_anomaly_events",
    "ts_acf_hourly_lags",
    # round-13: materialized cluster map — the build pays the LSH+CC
    # chain ONCE (it always rebuilds, so its number is the honest
    # chain cost); the three probe reports then read the persisted
    # map instead of each recomputing the chain (verdict #1)
    "dedup_cluster_map_build",
    "dedup_duplicate_clusters_probe",
    "dedup_cluster_size_histogram_probe",
    "dedup_soft_dedup_weights_probe",
    # round-13 wave 2: kb-pruned point lookup on the persisted map,
    # the click->purchase lead-lag CCF (one conditional agg, hour-
    # arithmetic lags), per-source word-concentration HHI (exact
    # integer sum-of-squares fold), and the Welch A/B revenue readout
    "dedup_cluster_map_point_probe",
    "ts_ccf_click_purchase",
    "text_word_concentration",
    "stats_ab_welch_value",
    # round-13 wave 3: ingestion-freshness panel (1-row watermark
    # carrier, one conditional agg) and the dedup-weighted token
    # budget (cluster-map probe path — corpus scans once, no
    # re-shingle)
    "ts_ingestion_staleness",
    "dedup_token_budget_by_source",
]


def _calib_parallel_work(_: int) -> int:
    """Same scalar loop as the in-process probe, run in N forked
    workers to measure the sandbox's aggregate-CPU allowance (module
    level: Pool.map resolves it by name in the children)."""
    x = 0
    for k in range(3_000_000):
        x += k
    return x


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = create_spark_session(
        "bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # Warm up the JVM + parquet footers so timings measure the plans.
    catalog.QUERIES["agg_pricing_summary"](spark, sf_dir).count()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    names = [n for n in HEADLINE if n in catalog.QUERIES]
    for name in names:
        passes = []
        # runs+1 passes, first dropped: the first execution of a query
        # shape pays its codegen/JIT compile (measured 2-4x the steady
        # state), which is a per-process constant, not a property of
        # the plan — the median of the remaining passes measures the
        # plan.  (Round-5 change; round-4 medians included the compile
        # pass, which inflated medians whenever the host was slow.)
        for i in range(runs + 1):
            t0 = time.perf_counter()
            df = catalog.QUERIES[name](spark, sf_dir)
            df.collect()
            if i > 0:
                passes.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(passes), 3)

    total = round(sum(timings.values()), 3)

    # Host-speed calibration: a fixed CPU-bound probe, measured the
    # same way as the queries (median of `runs` after one warmup).
    # The sandbox's CPU allocation varies across sessions (round-6
    # calibration measured queries untouched since round 1 at ~2x
    # their round-5 times, uniformly) — this field lets cross-round
    # BENCH comparisons normalize out ambient host speed without
    # touching the frozen query-measurement rules. A SCALAR
    # interpreter loop, deliberately: a parallel BLAS GEMM probe
    # measured a 10x spread across back-to-back passes (thread
    # ramp-up + contention) while this loop holds ~±30%.
    def _calib_work() -> int:
        x = 0
        for k in range(3_000_000):
            x += k
        return x

    calib_passes = []
    for i in range(runs + 1):
        t0 = time.perf_counter()
        _calib_work()
        if i > 0:
            calib_passes.append(time.perf_counter() - t0)
    calib = round(statistics.median(calib_passes), 4)

    # Parallel-scaling calibration: the scalar probe cannot see the
    # sandbox's AGGREGATE cpu quota. Round-6 late measurement: scalar
    # probe at full speed while 16 worker processes achieved only ~6x
    # scaling — queries under local[32] ran ~1.5x slower than a round
    # with the same scalar speed. Fork-based pool, compute-only
    # children (they never touch the JVM/py4j). Both the 1-worker
    # baseline and the 16-worker run go through the same pool.map
    # path, so fork/teardown overhead cancels in the ratio; .get with
    # a timeout guards against a fork-while-threaded child deadlock
    # hanging the whole bench.
    import multiprocessing as _mp

    try:
        ctx = _mp.get_context("fork")
        t0 = time.perf_counter()
        with ctx.Pool(1) as pool:
            pool.map_async(_calib_parallel_work, range(1)).get(timeout=120)
        one_wall = time.perf_counter() - t0
        t0 = time.perf_counter()
        with ctx.Pool(16) as pool:
            pool.map_async(_calib_parallel_work, range(16)).get(timeout=120)
        par_wall = time.perf_counter() - t0
        calib_scaling = (
            round(16 * one_wall / par_wall, 2) if par_wall > 0 else None
        )
    except Exception:
        calib_scaling = None

    # Spark-job calibration: round-7 measured a session where BOTH
    # prior probes were flat (scalar 1.01x, fork-pool ~0.9x) while
    # every query ran a uniform ~1.35x slower — ambient throttling
    # that only shows up under the JVM's own thread pools. A fixed
    # shuffle-free Spark aggregation, measured under the frozen
    # warm-median rules, is the probe that lives in the same regime
    # as the queries; bench_compare uses it to normalize when both
    # files carry it.
    try:
        spark_calib_passes = []
        for i in range(runs + 1):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "sum(id * 2) AS s"
            ).collect()
            if i > 0:
                spark_calib_passes.append(time.perf_counter() - t0)
        calib_spark = round(statistics.median(spark_calib_passes), 4)
    except Exception:
        calib_spark = None

    record = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "calib_pyloop_3m_sec": calib,
        # 16x the scalar probe in forked workers / wall time:
        # ~16 on an unthrottled 32-core host, ~6 when the
        # sandbox caps aggregate cpu (observed round 6).
        "calib_parallel_scaling_16w": calib_scaling,
        # fixed shuffle-free Spark agg (round 7): the probe in
        # the same JVM-thread regime as the queries themselves
        "calib_spark_agg_sec": calib_spark,
        "sf": float(sf),
        # Measurement rules are FROZEN as of round 5 (the
        # round-5 verdict flagged three rounds of methodology
        # churn): runs+1 passes per query, first pass dropped
        # (codegen/JIT), median of the rest. Any future change
        # must bump this version string so rounds stay
        # longitudinally comparable.
        "harness": "warm-median-of-3_v1",
    }

    # Round-8 output contract: the single full JSON line grew past the
    # round driver's stdout tail buffer (~2.2 KB observed — BENCH_r07
    # recorded ``parsed: null`` with the line's HEAD truncated), so the
    # full record now goes to BENCH_LOCAL.json and stdout carries ONLY
    # a compact record (~350 B) guaranteed to fit the tail buffer
    # whether the driver parses the last line or the whole tail. The
    # compact line carries everything bench_compare needs for the
    # totals + calibration normalizations, plus a pointer to the full
    # per-query map; tools/bench_compare.py resolves "queries_file"
    # (cross-checked against "value") and reconstructs truncated tails.
    full_line = json.dumps(record)
    # deliberately NOT gitignored: the round driver auto-commits
    # leftover files, so the BENCH_LOCAL.json written by ITS bench run
    # lands in the repo alongside BENCH_r{N}.json — bench_compare
    # cross-checks the "value" field before trusting it, so a stale
    # copy from some other run can only degrade to totals-only, never
    # masquerade as the round's per-query data
    (Path(__file__).resolve().parent / "BENCH_LOCAL.json").write_text(
        full_line + "\n"
    )
    compact = {
        k: record[k]
        for k in (
            "metric",
            "value",
            "unit",
            "calib_pyloop_3m_sec",
            "calib_parallel_scaling_16w",
            "calib_spark_agg_sec",
            "sf",
            "harness",
        )
    }
    compact["n_queries"] = len(timings)
    compact["queries_file"] = "BENCH_LOCAL.json"
    # Round-14 addition (r13 verdict item 3, additions-only — the
    # timing loop and harness string above are untouched): the driver's
    # PERF comparison needs the per-query map IN the printed line
    # (BENCH_LOCAL.json is overwritten by every run, so the sidecar
    # alone cannot serve two rounds). The r7 truncation that forced the
    # compact line was a ~2.2 KB stdout tail buffer; the r13 driver
    # record captured >3 KB tails, and the current driver contract
    # explicitly carries "queries" in the one-line JSON.
    compact["queries"] = timings
    print(json.dumps(compact), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
