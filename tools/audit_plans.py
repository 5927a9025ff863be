"""Physical-plan linter: sweep every registered query and flag
scale-killer shapes the plan-quality canaries don't cover query-by-query.

Flags raised:
- cartesian           CartesianProduct anywhere (unblocked pairwise op)
- python-udf          BatchEvalPython anywhere (row-at-a-time Python UDF;
                      Arrow-vectorized crossings plan as ArrowEvalPython /
                      MapInPandas / FlatMapGroupsInPandas and are fine)
- big-single-part     Exchange SinglePartition whose child is NOT a
                      partial aggregate / limit — i.e. real data funneling
                      through one task (global sort/window), not a scalar
                      merge of per-partition rows
- unpartitioned-win   window spec with no partitioning keys

Known-and-documented global-order queries (reference-mandated Polars
whole-column semantics, see NOTES.md) are allowlisted; everything else
must come back clean.  Exits 1 on unexplained flags.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

# Whole-column rank/diff/sort semantics from the reference (Polars parity):
# a global order is the CONTRACT, not an accident.  Documented in NOTES.md.
# These windows genuinely see data-sized input; they are kept out of
# headline queries and are NOT subject to the bounded-rows machine check.
POLARS_PARITY_GLOBAL = {
    "rank_window", "rank_methods", "diff_lag", "sort_slice", "head_tail",
    "is_unique_flag", "unique_keep_first", "pack_sequences",
}

# Bounded-by-construction global windows: the single partition receives an
# AGGREGATE of fixed cardinality, not data-sized rows.  Each entry maps to
# the claimed upper bound on rows entering the unpartitioned window; the
# claim is MACHINE-CHECKED by tests/test_plan_quality.py::
# test_allowlisted_global_windows_are_bounded, which executes each query
# and reads the actual row count flowing into every unpartitioned
# WindowExec from the executed plan's metrics.
BOUNDED_WINDOW_ROWS = {
    # token_budget_select's cumulative sum runs over the <=bins-row quality
    # histogram (llm/corpus.py token_budget_select)
    "token_budget_select_docs": 10_000,
    # growth_curve's cumulative sum runs over the <=calendar-days daily
    # table (extensions.py growth_curve)
    "growth_curve_events": 10_000,
    # hits_exact small mode: the L1-normalization total is a global
    # window over the |V|-sized SCORE VECTOR (node, score) — an
    # aggregate of the edge list, never edge-sized rows; cluster mode
    # (score_partitions=None) uses agg + 1-row broadcast instead
    # (graph.py hits_exact)
    "hits_customer_supplier": 10_000,
    # classifier-eval cumulative windows run over AGGREGATED tables
    # bounded by construction, never rows: roc_auc's window sees the
    # distinct-SCORE table (token-count cardinality; quantize heavy
    # scores upstream — documented in stats.roc_auc), pr_curve's sees
    # the <= 10-row threshold-bin table
    "auc_doclen_en": 10_000,
    "pr_curve_docs": 10_000,
    # logrank_test's risk-set window runs over the aggregated TIME
    # table (censored-at-60 day grid, <= 61 rows), never raw rows
    "logrank_orders": 61,
    # ks_test's ECDF scan runs over the caller-BUCKETED statistic
    # table (whole-unit value buckets, <= value-range rows), the same
    # bounded contract as roc_auc (stats.ks_test docstring)
    "ks_test_events": 10_000,
    # rolling_correlation's cumulative windows run over the aggregated
    # DAILY grid (<= calendar-days rows), the growth_curve contract
    "rolling_corr_events": 10_000,
    # spearman's rank windows run over each column's DISTINCT-VALUE
    # table (value cardinality, the roc_auc contract — quantize heavy
    # continuous columns upstream; stats.spearman_correlation docstring)
    "spearman_daily_events": 10_000,
    # heaps_law's cumulative window runs over the <= `buckets`-row
    # (32) bucket grid, the growth_curve contract (corpus.heaps_law)
    "heaps_law_docs": 32,
    # cusum's prefix-sum/running-min windows run over the aggregated
    # DAILY grid (<= calendar-days rows), the growth_curve contract
    # (extensions.cusum docstring)
    "cusum_daily_events": 10_000,
    # mase_backtest's lag windows run over the aggregated DAILY grid
    # (extensions.mase_backtest docstring)
    "mase_backtest_events": 10_000,
    # runs_test's lag windows run over the aggregated DAILY grid
    "runs_test_events": 10_000,
    # sequential_ztest's cumulative windows run over the WEEK grid
    "sequential_obf_events": 10_000,
    # tenure_hazard's reverse-cumulative window runs over the bounded
    # TENURE-WEEK grid
    "tenure_hazard_events": 10_000,
    # lorenz_curve's cumulative window runs over the <= 20-bucket grid
    "lorenz_curve_customers": 20,
    # negative_sampling's cumulative window runs AFTER the top-500
    # TakeOrderedAndProject cut (<= 500 rows)
    "negative_sampling_tokens": 500,
    # skyline2d's running-min window runs over the caller-BUCKETED
    # (x) grid (whole-hundreds price buckets, <= value-range rows) —
    # the roc_auc quantize-upstream contract (extensions.skyline2d)
    "skyline_orders": 10_000,
}

GLOBAL_ORDER_OK = POLARS_PARITY_GLOBAL | set(BOUNDED_WINDOW_ROWS)


def _single_partition_is_scalar_merge(lines: list[str], i: int) -> bool:
    """True if the Exchange SinglePartition at line i feeds a scalar
    aggregate merge (child is a partial agg or a local limit) — the
    correct, per-partition-row pattern — rather than funneling real rows."""
    for below in lines[i + 1:i + 3]:
        s = below.strip()
        if "partial_" in s or "LocalLimit" in s or "CollectLimit" in s:
            return True
        if s.startswith("+-") or s.startswith(":-"):
            break
    return False


def audit(plan: str) -> list[str]:
    hits = []
    lines = plan.splitlines()
    if "CartesianProduct" in plan:
        hits.append("cartesian")
    # Row-at-a-time Python UDF (BatchEvalPython) — the slow path; every
    # Python crossing must be Arrow-vectorized (ArrowEvalPython /
    # mapInPandas / applyInPandas plan nodes are fine)
    if "BatchEvalPython" in plan:
        hits.append("python-udf")
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line \
                and not _single_partition_is_scalar_merge(lines, i):
            hits.append("big-single-part")
            break
    for line in lines:
        if "windowspecdefinition(" in line.replace(" ", "") \
                and "windowspecdefinition(," in line.replace(" ", ""):
            hits.append("unpartitioned-win")
            break
    return hits


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import tabsdata_spark as td
    from tabsdata_spark.queries import queries
    from tabsdata_spark.scale import invocation

    spark = td.get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    unexplained = {}
    for name, fn in queries().items():
        try:
            with invocation():
                plan = (fn(spark, sf_dir)._jdf.queryExecution()
                        .executedPlan().toString())
        except Exception as e:  # noqa: BLE001
            unexplained[name] = [f"PLAN-ERROR {type(e).__name__}"]
            continue
        hits = audit(plan)
        if hits and name not in GLOBAL_ORDER_OK:
            unexplained[name] = hits

    for n, h in sorted(unexplained.items()):
        print(f"FLAG  {n}: {h}")
    print(f"{len(unexplained)} unexplained flags over {len(queries())} queries")
    sys.exit(1 if unexplained else 0)


if __name__ == "__main__":
    main()
