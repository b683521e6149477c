"""Catalog-wide physical-plan audit.

Builds (does not execute) every catalog query at a small SF and counts
the plan markers that matter at 100 TB: exchanges, scans, broadcast
joins, sort-merge joins, CartesianProduct, BroadcastNestedLoopJoin,
Python stages, WindowGroupLimit. This is the reusable form of the
round-6 multi-consumer audit that found five plans re-evaluating
expensive subtrees (COVERAGE.md), hardened into a GATE: the run exits
nonzero if any query's plan contains a CartesianProduct, or a
BroadcastNestedLoopJoin outside the whitelist below. Run it after any
plan-affecting change (the verify recipe lists it); ~3 min at sf0.001.

Counts come from the pre-execution physical plan (AQE final-plan
strings re-print ReusedExchange subtrees, so executed-plan counts
overcount — see PLANS.md). Queries whose CONSTRUCTION runs bounded
driver jobs (centroid/codebook training, bounds probes) still execute
those; at sf0.001 the whole audit is a few minutes.

Usage: python tools/plan_audit.py [sf_dir] [query ...]   # JSON lines
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from rentals_data_pipeline_spark.session import create_spark_session  # noqa: E402

# Queries allowed to carry BroadcastNestedLoopJoin, with the MAXIMUM
# count each may have. Every entry is a deliberate small-side
# replicate, audited by hand (round 6): a 1-row scalar aggregate
# (grand total / global bound / corpus size N / min-class limit /
# max-week) cross-joined back, a <=10-row edge-array or centroid
# frame, or the value-band dim of the range join — shapes whose build
# side is O(groups) or O(1) at ANY fact scale. A NEW BNLJ anywhere
# else is presumed an accidental pair blowup and fails the audit.
BNLJ_WHITELIST = {
    "tpch_q22_global_sales_opportunity": 1,  # 1-row exact-decimal AVG
    "stats_chi_square_events": 2,  # grand total + dense |types|x24 grid
    "stats_equal_frequency_binning": 2,  # 1-row total + <=9-row edges
    "analytics_rfm_segmentation": 6,  # three <=4-row quantile edge arrays
    "analytics_user_lifecycle": 1,  # 1-row max-week bound
    "sample_corpus_mixture": 1,  # 1-row corpus total for rates
    "sample_balanced_labels": 1,  # 1-row min-class limit
    "ts_interpolate_linear": 1,  # 1-row time-bounds spine seed
    "ts_gap_fill_hourly": 1,  # same spine shape
    "join_range_value_bands": 1,  # the range/theta join: band dim replicates
    "analytics_copurchase_pairs": 1,  # 1-row pair-count total
    "text_tfidf_top_terms": 1,  # 1-row corpus size N
    "dedup_ngram_jaccard_topk": 1,  # 1-row doc-count bound
    "text_unigram_logprob": 1,  # 1-row token-total for log-probs
    "sample_dsir_importance": 1,  # 1-row (N_target, N_raw) LM totals
    "ts_ingestion_staleness": 1,  # 1-row (watermark, min-ts) carrier
    # dedup_contamination_report needs no entry since r12: the
    # single-scan rewrite carries counts via stack + equi-join on
    # suite (no 1-row cross joins remain)
    "text_vocab_coverage": 1,  # 1-row token-total for the thresholds
    "quality_benford_first_digit": 1,  # 1-row digit-count total
    "sim_srp_lsh_recall": 2,  # recall harness: exact-baseline 1-row totals
    "sim_pq_adc_topk_recall": 2,  # same harness shape
    "sim_ivf_pq_residual_recall": 3,  # A/B harness: three 1-row totals
    # round 8 — the derived partsupp relation crossJoins the 1-row
    # supplier COUNT (stride/modulus input). The pre-execution plan
    # re-prints that carrier once per CONSUMER of the shared subtree.
    # Q2's EUROPE set has one consumer (its correlated MIN is a
    # partitioned window, not a grouped MIN joined back), so it carries
    # one; Q11's per-part aggregate feeds both the output filter and
    # the 1-row total fold, which is itself a third carrier — at
    # runtime AQE's ReusedExchange dedups the duplicated groupBy
    # exchange.
    "tpch_q2_min_cost_supplier": 1,
    "tpch_q11_important_stock": 3,
    "tpch_q16_supplier_part_counts": 1,
    "tpch_q20_potential_promotion": 1,
    # r13 — the column profiler's string min/max fold in a second
    # column-pruned pass whose ONE-row result cross-joins back
    # (keeping immutable string buffers out of the expanded main
    # aggregate, which they demoted to SortAggregate)
    "profile_orders_columns": 1,
    "profile_orders_columns_approx": 1,
}

MARKERS = {
    "exchanges": r"Exchange (?:hash|range)partitioning|Exchange SinglePartition",
    "scans": r"FileScan|Scan ExistingRDD",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "cartesian": r"CartesianProduct",
    "bnlj": r"BroadcastNestedLoopJoin",
    "python": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas",
    "wgl": r"WindowGroupLimit",
}


def _count_global_windows(jplan) -> int:
    """Window/WindowGroupLimit nodes with an EMPTY partition spec —
    Spark moves ALL rows to one task for these (the WindowExec
    single-partition warning); at 100 TB that is a straggler by
    construction. Counted by a JVM tree walk (the plan STRING does not
    distinguish a missing partition list reliably). The catalog hit
    zero in round 10 (the sliding-sketch rewrite removed the last
    one), so any reappearance fails the audit: partition the window,
    use the contribution-fanout shape, or range-partitioned top-n."""
    n = 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowGroupLimitExec",
                   "WindowInPandasExec"):
            try:
                if node.partitionSpec().isEmpty():
                    n += 1
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return n


def audit_query(spark, name: str, fn, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    row = {"query": name}
    for key, pat in MARKERS.items():
        row[key] = len(re.findall(pat, plan))
    row["gwin"] = _count_global_windows(jplan)
    return row


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = create_spark_session("plan-audit", shuffle_partitions=8)
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            row = audit_query(spark, name, fn, sf_dir)
        except Exception as exc:  # surface, keep auditing
            row = {"query": name, "error": str(exc)[:200]}
            failures.append(f"{name}: failed to build ({str(exc)[:120]})")
            print(json.dumps(row), flush=True)
            continue
        if row["cartesian"]:
            failures.append(f"{name}: CartesianProduct x{row['cartesian']}")
        allowed = BNLJ_WHITELIST.get(name, 0)
        if row["bnlj"] > allowed:
            failures.append(
                f"{name}: BroadcastNestedLoopJoin x{row['bnlj']} "
                f"(whitelist allows {allowed})"
            )
        if row["gwin"]:
            failures.append(
                f"{name}: partition-less Window x{row['gwin']} "
                "(single-partition straggler; partition it or use the "
                "contribution-fanout shape)"
            )
        print(json.dumps(row), flush=True)
    for f in failures:
        print(f"AUDIT FAIL {f}", file=sys.stderr)
    if not failures:
        print("plan audit clean", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
