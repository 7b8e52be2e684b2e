"""Registry-wide physical-plan anti-pattern audit.

The hand-written gates in tests/test_plan_quality.py pin the plans we
*designed*; this tool sweeps EVERY registry query's executed plan for the
anti-pattern classes that silently kill 100 TB jobs, so a new query can't
ship with one unnoticed:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an equi-key was
  lost (or a BETWEEN-only join planned as nested-loop).
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan (the repo
  standard is Arrow-batched mapInPandas / pandas_udf; those appear as
  ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``).
- ``Exchange SinglePartition`` — everything funneled to one reducer
  (global unpartitioned window/sort/limit mid-plan).

Known-bounded occurrences are whitelisted BY QUERY with the reason the
code's docstring gives (a 1-row aggregate broadcast, a ≤
shuffle.partitions offsets fold, a dimension-sized single sort). Anything
new fails the audit — add the code fix or an entry with its boundedness
argument.

Usage:  python tools/plan_audit.py [--sf-dir DIR] [--json OUT]
Exit 0 = no unexplained anti-patterns.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time

# query -> {pattern: reason-it-is-bounded}
# BNLJ = BroadcastNestedLoopJoin with a PROVABLY bounded build side (a
# 1-row scalar aggregate or a capacity-bounded table like k centroids) —
# the designed way to put a scalar/argmin table onto a stream without an
# equi key. The two-tier broadcast-policy gate and the per-query plan
# gates in tests/test_plan_quality.py pin the bounded side.
_BNLJ = "BroadcastNestedLoopJoin"
_SP = "SinglePartition"
WHITELIST: dict[str, dict[str, str]] = {
    # 1-row/capacity-bounded aggregates deliberately cross-joined onto the
    # stream (the two-tier broadcast policy gates these in tests):
    "q06_forecast_revenue": {
        _SP: "scalar forecast: 1-row aggregate broadcast"
    },
    "q14_promo_ratio": {_SP: "1-row ratio aggregate"},
    "q14_promo_revenue": {_SP: "1-row ratio aggregate"},
    "q11_important_parts": {
        _SP: "scalar threshold subquery (1 row)",
        _BNLJ: "1-row threshold crossjoined onto the group aggregate",
    },
    "q_ann_bruteforce": {
        _BNLJ: "single query vector (1 row) against the corpus — "
        "brute-force baseline by definition"
    },
    "q_dsir_weights": {
        _BNLJ: "1024-row hashed-bucket ratio table broadcast",
        _SP: "the bucket table's own bounded aggregate",
    },
    "q_dsir_resample": {
        _BNLJ: "same 1024-row ratio broadcast feeding the Gumbel top-k",
        _SP: "same bounded aggregate",
    },
    "q_kmeans_step": {
        _BNLJ: "k-row centroid build, nearest-centroid argmin has no equi key"
    },
    "q_ann_recall": {
        _BNLJ: "8-row query / 8-row centroid builds (recall audit arms; "
        "the plan gate pins the broadcasts and rank-limited windows)"
    },
    "q_unigram_logprob": {
        _BNLJ: "1-row corpus-total builds (vocab itself joins by shuffle)",
        _SP: "the same 1-row total aggregates",
    },
    "q_hard_negatives": {
        _BNLJ: "8-row anchor-panel broadcast (vec_id <> q_id has no equi "
        "key); corpus side streams once, top-k windows rank-limited",
    },
    "q_modern_curation_pipeline": {
        _BNLJ: "inherits q_perplexity_buckets' 1-row LM-total builds "
        "(instantiated per reuse of the scored subquery); every "
        "corpus-sized join is doc_id/md5-keyed hash",
        _SP: "the same 1-row total aggregates",
    },
    "q_bigram_logprob": {
        _BNLJ: "1-row (N,V) totals broadcast onto the bigram-LP, backoff, "
        "and scoring branches (the LMs themselves join by shuffle)",
        _SP: "the same 1-row total aggregates",
    },
    "q_perplexity_buckets": {
        _BNLJ: "the q_unigram_logprob 1-row LM-total builds, instantiated "
        "once per reuse of the scored subquery (vocab joins by shuffle; "
        "thresholds join broadcast-HASH on lang)",
        _SP: "the same 1-row total aggregates; tercile selection windows "
        "partition by lang over the bounded centinat histogram",
    },
    "q_token_budget_mix": {
        _SP: "totals window over the ≤|sources|-row recipe aggregate "
        "(the q_lang_temperature_mix shape; corpus side joins broadcast)"
    },
    "q_heavy_hitters": {
        _BNLJ: "1-row total-count build onto ≤k recounted candidates",
        _SP: "1-row total aggregate",
    },
    "q22_idle_rich_customers": {
        _BNLJ: "1-row average-balance scalar",
        _SP: "the scalar's aggregate",
    },
    "q_ivf_assign": {_BNLJ: "k-row centroid table, argmin has no equi key"},
    "q_prototype_prune": {
        _BNLJ: "k-row centroid table, argmin has no equi key "
        "(the q_ivf_assign front)"
    },
    "q_ivf_topk": {
        _BNLJ: "k-row centroid/probe tables (3 bounded builds)"
    },
    "q_ivf_kmeans_topk": {_BNLJ: "same trained-centroid bounded builds"},
    "q_semdedup": {_BNLJ: "k-row cluster-centroid builds"},
    "q_profile": {_SP: "profiler output is ONE row per table"},
    "q_lang_temperature_mix": {
        _SP: "totals window over the ≤|langs|-row aggregate (plan-gated "
        "that the corpus side never shuffles)"
    },
    "q_funnel": {_SP: "final 3-counter scalar aggregate"},
    "q15_top_supplier": {_SP: "max(total_revenue) scalar subquery"},
    "q17_small_quantity": {_SP: "1-row output aggregate"},
    "q19_disjunctive_revenue": {_SP: "1-row revenue aggregate"},
    "q_dedup_triangles": {
        _BNLJ: "1-row triangle-count fold",
        _SP: "same scalar count",
    },
    "q_bm25": {
        _BNLJ: "|query|-row idf table + 1-row corpus stats (plan-gated)",
        _SP: "the 1-row corpus-stats aggregate",
    },
    "q_stratified_sample": {
        _BNLJ: "1-row total + ≤|strata|-row rate table",
        _SP: "the 1-row total",
    },
    "q_revenue_gini": {
        "SinglePartition": "range-boundary offsets fold over ≤32 partial rows"
    },
    "q_ols_trend": {
        _SP: "≤|years| sufficient-statistic rows",
        _BNLJ: "1-row sufficient-statistics build side",
    },
    "q_corr_price_qty": {"SinglePartition": "3 sufficient-statistic rows"},
    "q_source_entropy": {"SinglePartition": "|sources| aggregate rows"},
    "q_yearly_growth": {"SinglePartition": "|years| aggregate rows (lag)"},
    "q_skyline": {
        "SinglePartition": "dimension-sized part table; docstring records "
        "the bucketed 100 TB variant"
    },
    "q_cumulative_value": {
        "SinglePartition": "running total over |months| aggregate rows"
    },
    "q_orders_per_month": {
        "SinglePartition": "|months| aggregate rows (ordered output)"
    },
    "q_rollup_cascade": {
        "SinglePartition": "coarsest rollup levels are ≤|months| rows"
    },
    "q_price_histogram": {"SinglePartition": "|bins| aggregate rows"},
    "q_daily_type_matrix": {"SinglePartition": "|days|×|types| pivot rows"},
    "q_bloom_probe": {
        "SinglePartition": "2^23-bit bitmap OR-fold: bounded partials, "
        "same collect pattern as heavy hitters"
    },
    "q_status_breakdown": {"SinglePartition": "|statuses| aggregate rows"},
    "q_mix_concat": {"SinglePartition": "deterministic interleave of "
        "two bounded samples (operator demo at fixture size)"},
    "q_random_mix": {"SinglePartition": "same bounded-mix demo"},
    # global_index plans its single-partition window only when the input's
    # size estimate is at most AQE's coalescing floor, where AQE would merge
    # the range buckets into one partition anyway
    # (operators/batching.py::_below_aqe_floor)
    "q_detshuffle": {_SP: "global_index window under AQE's coalescing floor"},
    "q_batched": {_SP: "global_index window under AQE's coalescing floor"},
    "q_chunk_fixed": {_SP: "global_index window under AQE's coalescing floor"},
    "q_unbatched": {"SinglePartition": "inverse of q_batched (same slice)"},
    "q_slice": {"SinglePartition": "explicit global offset slice (limit)"},
    "q_uniform_sample": {"SinglePartition": "global systematic sample over "
        "the bounded demo slice"},
}


def audit_plan(plan: str) -> dict[str, int]:
    found: dict[str, int] = {}
    for pat in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "Exchange SinglePartition",
    ):
        n = plan.count(pat)
        if n:
            found[pat.replace("Exchange ", "")] = n
    return found


def audit_registry(spark, sf_dir: str, log=print) -> tuple[dict[str, dict], int]:
    """Analyze every registry query's executed plan against the whitelist.

    Returns (per-query results, count of queries with UNEXPLAINED
    anti-patterns or analysis errors). Shared by the CLI artifact run and
    the ``planaudit``-marked pytest gate (tests/test_plan_audit_gate.py),
    so CI failure and artifact regen can't drift apart."""
    from video_data_pipeline_spark.queries.registry import load_all

    results: dict[str, dict] = {}
    bad = 0
    for name, q in load_all().items():
        try:
            df = q.spark_fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # analysis breakage is the smoke gate's job
            results[name] = {"error": str(e)[:200]}
            bad += 1
            log(f"ERROR     {name}: {e}")
            continue
        found = audit_plan(plan)
        wl = WHITELIST.get(name, {})
        unexplained = {k: v for k, v in found.items() if k not in wl}
        entry: dict = {}
        if found:
            entry["found"] = found
        if wl:
            entry["whitelisted"] = wl
        if unexplained:
            entry["UNEXPLAINED"] = unexplained
            bad += 1
            log(f"FLAG      {name}: {unexplained}")
        if entry:
            results[name] = entry
    return results, bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.session import get_spark

    spark = get_spark("plan_audit")
    t0 = time.time()
    results, bad = audit_registry(spark, args.sf_dir)
    n = len(load_all())
    summary = {
        "n_queries": n,
        "n_flagged": bad,
        "sf_dir": args.sf_dir,
        "elapsed_s": round(time.time() - t0, 1),
    }
    print(
        f"\nPLAN AUDIT: {n} plans, {bad} unexplained anti-patterns "
        f"in {summary['elapsed_s']}s"
    )
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"summary": summary, "queries": results}, f, indent=1)
        print(f"wrote {args.json}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
