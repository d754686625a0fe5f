"""Physical-plan lint over the whole registry (sf0.01, plans only —
nothing executes): flags the two scale smells a green correctness row
can hide.

1. UNPRUNED SCAN — a FileScan whose ReadSchema carries every column
   of a wide table (>= MIN_WIDTH cols). Catalyst prunes columns for
   free when the plan is declarative, so a full-width scan means some
   operator blocks pruning (an opaque UDF over the whole row, a
   star-select before a Python surface, ...). At 100 TB that is the
   difference between scanning 2 columns and scanning 10.
2. CARTESIAN PRODUCT — a CartesianProduct node. Deliberate 1-row
   broadcast crossJoins plan as BroadcastNestedLoopJoin, so anything
   that still plans as CartesianProduct is an unbroadcast cross —
   quadratic at scale.
3. UNPARTITIONED WINDOW — a physical Window node with an EMPTY
   partition spec moves its whole input to ONE partition. Fine over a
   provably bounded frame (a post-aggregation calendar/domain/top-k
   frame, or the #buckets offsets frame of the bucketed-prefix-sum
   helpers); a scale killer over a data- or entity-sized frame — the
   round-5 verdict found six of those hiding behind green rows.
   Every query that legitimately plans one must be allowlisted in
   WINDOW_ALLOW with the boundedness argument inline; anything else
   is flagged.

Exit code 1 if anything is flagged. Complements
tests/test_plans.py::test_every_registered_query_plans_jvm_only
(which guards the JVM-only property, not scan shape).

Known-full-width reads are allowlisted with the reason inline.
"""
import json
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elastic_freight_spark.session import get_spark, load_tables

SF_DIR = "/root/testdata/sf0.01"
MIN_WIDTH = 5  # narrow dims (region: 3 cols) legitimately read whole

# query -> {table: reason} for legitimate full-width scans
ALLOW = {
    # profiling/DQ queries exist to look at every column
    "profile_documents_table": {"documents": "whole-table profiler"},
    "dq_documents_constraints": {"documents": "whole-table DQ gate"},
    "dq_orders_constraints": {"orders": "whole-table DQ gate"},
    "dq_embeddings_constraints": {"embeddings": "whole-table DQ gate"},
    "source_dataset_card": {"documents": "dataset-card profiler"},
}

TABLE_WIDTHS = {}

BUCKET_OFFSETS = (
    "windows.bucketed_cum offsets frame: one row per value-domain "
    "bucket (#buckets is a domain constant, not data-sized)"
)
CALENDAR = "post-aggregation calendar-day series (span-bounded)"
# query -> (max allowed unpartitioned-Window NODES, boundedness
# argument). The count is load-bearing: an allowlisted query that
# grows MORE unpartitioned windows than its audited plan (e.g. a
# data-sized global ntile sneaking back in) is flagged, not excused.
WINDOW_ALLOW = {
    # bucketed-prefix-sum offsets frames (the conversion target itself)
    "agg_equidepth_histogram": (1, BUCKET_OFFSETS),
    "customer_value_gini": (1, BUCKET_OFFSETS),
    "part_abc_classification": (2, BUCKET_OFFSETS),
    "customer_rfm_segments": (3, BUCKET_OFFSETS + " (one per dist_rank)"),
    "skew_key_profile": (1, BUCKET_OFFSETS + "; relative-width count buckets"),
    "batch_padding_plan": (2, BUCKET_OFFSETS + "; + dist_rank_unique bucket-of-buckets"),
    "layout_zonemap_effectiveness": (4, BUCKET_OFFSETS + "; calendar buckets + dist_rank_unique"),
    "customer_pareto_threshold": (1, "revenue-band offsets frame (one row per 100k-wide band)"),
    "stats_spearman_rank": (2, BUCKET_OFFSETS),
    "stats_ks_two_sample": (1, BUCKET_OFFSETS + " (pooled_price_cum)"),
    "stats_mann_whitney_u": (1, BUCKET_OFFSETS + " (pooled_price_cum)"),
    "stats_chi_square_independence": (2, "event-type x value-band contingency frame (domain-bounded)"),
    # calendar-bounded daily series
    "orders_backlog_over_time": (1, CALENDAR),
    "events_changepoint_cusum": (2, CALENDAR),
    "events_survival_km": (1, CALENDAR + " (duration-day frame)"),
    "t_autocorrelation_daily": (7, CALENDAR + " (one window per lag)"),
    "t_theil_sen_trend": (3, "pairwise-slope frame is (span_days choose 2) — calendar-bounded"),
    "t_seasonal_decompose_daily": (1, CALENDAR),
    "t_anomaly_seasonal_adjusted": (2, CALENDAR),
    "t_cross_correlation_click_purchase": (6, CALENDAR + " (one window per lag)"),
    # other provably small frames
    "bpe_merge_pairs": (1, "adjacent-character-pair frame (alphabet^2-bounded vocabulary stage)"),
    "compaction_bin_packing": (1, "per-ship-month partition manifest (metadata-sized)"),
    "range_partition_boundaries": (2, "deterministic md5-fraction sample (sample-size-bounded)"),
    "sketch_kmv_distinct": (2, "k=32-row KMV synopsis frame"),
    "orders_basket_size_distribution": (1, "basket-size histogram frame (size-domain-bounded)"),
}


def _toplevel_groups(seg: str) -> list:
    """Split `[...], [...], [...]` into top-level bracket groups."""
    groups, depth, cur = [], 0, ""
    for ch in seg:
        if ch == "[":
            depth += 1
        if depth > 0:
            cur += ch
        if ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                cur = ""
    return groups


def unpartitioned_windows(plan: str) -> int:
    """Count physical Window nodes whose partition spec is empty.
    Node text is `Window [exprs], [partSpec], [orderSpec]`; with no
    partition it prints `Window [exprs], [orderSpec]` (order specs
    carry ASC/DESC) or `Window [exprs]` when unordered too."""
    hits = 0
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx == -1:
            continue
        # require a node boundary (tree-drawing prefix only), so
        # WindowGroupLimit / windowspecdefinition text never matches
        if not re.match(r"^[\s:+\-*()0-9]*$", line[:idx]):
            continue
        groups = _toplevel_groups(line[idx + len("Window ") :])
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2 and not re.search(r" (ASC|DESC)", groups[1]):
            continue  # partitioned, unordered
        hits += 1
    return hits


def main() -> None:
    spark = get_spark(
        app_name="plan_audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t = load_tables(spark, SF_DIR)
    for name, df in t.items():
        TABLE_WIDTHS[name] = len(df.columns)

    import __spark_entry__ as e

    findings = []
    for name, fn in e.queries().items():
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # plan-time failure is its own finding
            findings.append({"query": name, "kind": "plan_error", "detail": str(exc)[:200]})
            continue
        if "CartesianProduct" in plan:
            findings.append({"query": name, "kind": "cartesian_product"})
        nwin = unpartitioned_windows(plan)
        allowed = WINDOW_ALLOW.get(name, (0,))[0]
        if nwin > allowed:
            findings.append(
                {
                    "query": name,
                    "kind": "unpartitioned_window",
                    "n": nwin,
                    "allowed": allowed,
                }
            )
        for m in re.finditer(
            r"FileScan parquet \[([^\]]*)\].*?/([a-z]+)\.parquet", plan
        ):
            cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
            table = m.group(2)
            width = TABLE_WIDTHS.get(table)
            if (
                width is not None
                and width >= MIN_WIDTH
                and len(cols) >= width
                and table not in ALLOW.get(name, {})
            ):
                findings.append(
                    {
                        "query": name,
                        "kind": "unpruned_scan",
                        "table": table,
                        "cols": len(cols),
                    }
                )
    print(json.dumps({"flagged": findings, "n": len(findings)}))
    spark.stop()
    sys.exit(1 if findings else 0)


if __name__ == "__main__":
    main()
