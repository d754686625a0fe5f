"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query materializes via the noop sink (full execution, no output
I/O), timed after a warm-up of the session + catalog. The flagship
sharded-index build runs against a temp dir (real Parquet write —
that IS the workload being measured).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time


# headline set: write pipeline + scan-agg + joins + windows +
# dedup/text + vectors + streaming-shaped agg. Module-level so
# tests/test_bench_tools.py can pin every name against the registry —
# a renamed query must fail a unit test, not the driver's bench run
# (the BENCH_r02 rc=1 crash class).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "shard_distribution",
    "agg_multi_measure",
    "w_running_revenue",
    "t2_tumbling_window_events",
    "t3_session_windows",
    "join_asof_click_before_purchase",
    "join_salted_skew_supplier_volume",
    "sq4_exists_returned_orders",
    "sq18_in_having_subquery",
    "dedup_exact",
    "text_token_counts",
    "f_array_token_profile",
    "mm_binary_stats",
    "neardup_ngram_jaccard",
    "neardup_minhash_lsh",
    "dedup_corpus_lsh",
    "search_tfidf_topk",
    "search_bm25_topk",
    "knn_bruteforce_cosine",
    "ann_lsh_cosine",
    "ann_ivf_cosine",
    "w_running_revenue_skewed",
    "apply_in_pandas_group_rank",
    "join_bloom_semi_orders",
    "q10_returned_items",
    "quality_filter_chain",
    "q9_product_profit",
    "q4_order_priority",
    "q12_shipping_lanes",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_waiting_suppliers",
    "mm_phash_neardup",
    "pretrain_pipeline_report",
    "dedup_paragraph_spans",
    "join_interval_binned",
    "udtf_text_segments",
    "dedup_incremental_gate",
    "t_mad_outliers",
    "sample_quality_weighted",
    "neardup_ngram_jaccard_uncapped_audit",
    # round-4 additions
    "supplier_triangle_count",
    "graph_degree_histogram",
    "part_market_basket",
    "w_sliding_distinct_users",
    "events_funnel_conversion",
    "agg_weighted_median",
    "skew_heavy_hitters",
    "compaction_bin_packing",
    "er_part_name_match",
    "text_bigram_lm_score",
    "neardup_minhash_portable",
    "neardup_containment",
    "dsir_importance_weights",
    "orders_churn_labels",
    # round-5 additions
    "pq_error_portable",
    "ann_pq_portable",
    "sketch_countmin_portable",
    "range_partition_boundaries",
    "sketch_countmin_merge",
    "layout_zonemap_effectiveness",
    "minhash_estimate_calibration",
    "dq_embeddings_constraints",
    "decontaminate_semantic",
    "ann_ivf_portable",
    "sketch_kmv_distinct",
    "epoch_shuffle_plan",
    "pagerank_portable",
    "power_iteration_portable",
    "bloom_fpr_calibration",
    "skew_key_profile",
    # round-6 scale conversions (bucketed distributed prefix sums)
    "agg_boxplot",
    "agg_equidepth_histogram",
    "customer_rfm_segments",
    "customer_value_gini",
    "part_abc_classification",
    "batch_padding_plan",
    "bpe_merge_pairs",
    "sample_temperature_sweep",
    "apply_in_arrow_group_rank",
    "ann_ivfpq_portable",
    "embedding_int8_quantize",
    "embedding_dim_truncation_recall",
    "search_scorer_agreement",
    "t_interval_coverage",
    "graph_kcore_peel",
    "sample_weighted_reservoir",
    "dq_referential_integrity",
    "events_audience_overlap",
    "search_fuzzy_suggest",
    "search_more_like_this",
    "search_bool_query",
    "agg_composite_pagination",
    "embedding_variance_profile",
    "index_scd2_history",
    "graph_assortativity",
    "er_blocking_efficiency",
    "t_time_weighted_average",
    "sketch_kmv_intersection",
    "join_asof_nearest",
    "supplier_herfindahl",
    "part_substitution_candidates",
    "events_survival_km",
    "events_ab_test_report",
    "graph_modularity",
    # round-11 addition: the bucketed-bounded embedding near-dup twin
    "neardup_embedding_lsh_portable",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from elastic_freight_spark.session import get_spark, load_tables, warm_per_corpus

    # console-progress bars interleave with stdout and tail-truncated
    # the round-3 JSON line (BENCH_r03 recorded "parsed": null) — keep
    # the bench session's stdout strictly ours
    spark = get_spark(
        app_name="efs_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    # warm up JVM + file listing once (excluded from timings)
    load_tables(spark, sf_dir)["lineitem"].count()

    timings: dict[str, float] = {}

    # Deterministic cache warm-up (round 8): the shared per-session
    # caches (co-supply edges, search postings, shingle sets, IVF
    # layout, PQ codebooks) used to be built by whichever headline
    # query touched them first, so per-query times depended on list
    # order (graph_assortativity: 12.3 s cold-first vs 1.7 s warm —
    # the round-7 prev_ratio noise). Build them in a FIXED pre-pass
    # timed as its own line item: the build cost stays in the total
    # (it is real work a deployment pays once per corpus), and every
    # query then measures its steady-state plan, so prev_ratio
    # compares like against like run-over-run.
    t0 = time.perf_counter()
    warm_per_corpus(spark, sf_dir)
    timings["cache_warm_pre_pass"] = round(time.perf_counter() - t0, 3)

    # Machine-speed canary (round 8): a FIXED pure-CPU job — no I/O,
    # no data dependence — whose time moves only with host conditions
    # (this guest is a VM; five back-to-back idle-guest bench runs
    # measured totals 160-193 s with UNIFORM per-query drift, geomean
    # pair ratios 0.92-1.12 — host co-tenancy, not plan changes).
    # Min-of-3 to shed scheduler blips; wrapped so a canary failure
    # can never turn the round's bench record into an rc=1 crash.
    # prev_ratio consumers divide by the canary ratio before calling
    # a drift a regression.
    from pyspark.sql import functions as _F

    try:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(0, 200_000_000, 1, 32)
                # pmod-bounded terms: a raw sum of full-range xxhash64
                # values overflows BIGINT under ANSI mode
                .select(
                    _F.pmod(_F.xxhash64("id"), _F.lit(1_000_000)).alias("h")
                )
                .agg(_F.sum("h"))
                .write.format("noop").mode("overwrite").save()
            )
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings["machine_canary"] = round(best, 3)
    except Exception as ex:  # diagnostic only — never fail the bench
        print(f"[bench] machine_canary failed: {ex}", file=sys.stderr)

    # Second canary, round 11: machine_canary is pure codegen (range →
    # hash → agg, no I/O, no exchange), and r11 measured a broad
    # ~1.14x query-mix drift at a FLAT machine_canary — the drift
    # lived in the scan/shuffle path the canary never touches. This
    # one is plan-frozen scan + exchange + hash agg on the real
    # lineitem parquet, so the pair (cpu canary, shuffle canary)
    # brackets both drift classes.
    try:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            (
                load_tables(spark, sf_dir)["lineitem"]
                .groupBy(_F.pmod(_F.xxhash64("l_orderkey"), _F.lit(997)))
                .agg(
                    _F.sum("l_quantity"),
                    _F.sum("l_extendedprice"),
                    _F.count(_F.lit(1)),
                )
                .write.format("noop").mode("overwrite").save()
            )
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings["shuffle_canary"] = round(best, 3)
    except Exception as ex:  # diagnostic only — never fail the bench
        print(f"[bench] shuffle_canary failed: {ex}", file=sys.stderr)

    for name in HEADLINE:
        fn = queries[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    # flagship: full sharded index build (scan → shuffle → partitioned
    # parquet write + manifest) on events
    from elastic_freight_spark.indexer import IndexConfig, build_index

    events = load_tables(spark, sf_dir)["events"]
    out = tempfile.mkdtemp(prefix="efs_bench_idx_")
    try:
        t0 = time.perf_counter()
        build_index(
            events,
            IndexConfig(
                index_name="events_bench",
                doc_id_col="user_id",
                num_shards=8,
                output_path=out,
            ),
        )
        timings["index_build_events"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    total = round(sum(timings.values()), 3)

    # round-over-round guard: diff against the latest BENCH_r{N}.json
    # so regressions are visible in the next round's own record
    prev_name, prev = _prev_bench(os.path.dirname(os.path.abspath(__file__)))
    prev_ratio: dict[str, float] = {}
    canary_ratio = None
    if prev and isinstance(prev.get("queries"), dict):
        for qname, t in timings.items():
            p = prev["queries"].get(qname)
            if p:
                prev_ratio[qname] = round(t / p, 3)
        # host-speed normalizer: if the previous record carries the
        # canary, its ratio isolates machine drift from plan drift
        p_canary = prev["queries"].get("machine_canary")
        if p_canary and timings.get("machine_canary"):
            canary_ratio = round(timings["machine_canary"] / p_canary, 3)
            print(
                f"[bench] machine_canary ratio vs {prev_name}: "
                f"{canary_ratio}x (a pure-CPU host-speed probe: when "
                f"it moves with prev_ratio_geomean the shift is "
                f"host-wide, not a plan regression)",
                file=sys.stderr,
            )
        p_c2 = prev["queries"].get("shuffle_canary")
        if p_c2 and timings.get("shuffle_canary"):
            print(
                f"[bench] shuffle_canary ratio vs {prev_name}: "
                f"{round(timings['shuffle_canary'] / p_c2, 3)}x "
                f"(scan+exchange probe — the drift class the CPU "
                f"canary missed in r11)",
                file=sys.stderr,
            )
        comparable = [q for q in prev_ratio]
        now_sub = round(sum(timings[q] for q in comparable), 3)
        prev_sub = round(sum(prev["queries"][q] for q in comparable), 3)
        print(
            f"[bench] vs {prev_name}: comparable subtotal "
            f"{now_sub}s / {prev_sub}s "
            f"({round(now_sub / prev_sub, 3) if prev_sub else 'n/a'}x)",
            file=sys.stderr,
        )
        for qname, r in sorted(prev_ratio.items(), key=lambda kv: -kv[1]):
            if r >= 1.3:
                print(
                    f"[bench] REGRESSION {qname}: {timings[qname]}s vs "
                    f"{prev['queries'][qname]}s ({r}x)",
                    file=sys.stderr,
                )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    full = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
    }
    if prev_ratio:
        full["prev"] = prev_name
        full["prev_ratio"] = prev_ratio
        if canary_ratio:
            full["canary_ratio"] = canary_ratio
    # in-repo copy first: even if the driver's stdout capture garbles
    # the console, the structured record survives. Per-round archives
    # (BENCH_FULL_r{N}.json, copied from this file at round start)
    # keep the full per-query history for _prev_bench.
    #
    # Round 12 (r11 verdict item 5): the driver ALSO benches at a low
    # core count after the 32-core run, and in r11 that second run
    # OVERWROTE BENCH_LOCAL.json, destroying the 32-core per-query
    # record. Every run now writes its full record to a per-cpu file,
    # and BENCH_LOCAL.json (the round-start archive source) is only
    # overwritten by a run at >= the recorded core count — a low-core
    # rerun can no longer clobber the canonical record.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, f"BENCH_LOCAL_c{cpus}.json"), "w") as f:
        f.write(json.dumps(full) + "\n")
    local_path = os.path.join(repo_dir, "BENCH_LOCAL.json")
    prev_cpus = -1
    try:
        with open(local_path) as f:
            prev_cpus = int(json.load(f).get("cpus", -1))
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        pass
    if cpus >= prev_cpus:
        with open(local_path, "w") as f:
            f.write(json.dumps(full) + "\n")
    # The driver's stdout tail capture is ~2 KB; the full per-query
    # dict (~4.7 KB at 109 queries) outlived it every round since r4
    # ("parsed": null). Print a COMPACT summary as the last line —
    # total, count, sf, prev-geomean, slowest 5 — and keep the full
    # detail only in BENCH_LOCAL.json / BENCH_FULL_r{N}.json.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "sf": sf,
        "detail": "BENCH_LOCAL.json",
    }
    compact["canary_sec"] = timings.get("machine_canary")
    compact["canary2_sec"] = timings.get("shuffle_canary")
    if prev_ratio:
        import math

        compact["prev"] = prev_name
        compact["prev_ratio_geomean"] = round(
            math.exp(sum(math.log(r) for r in prev_ratio.values()) / len(prev_ratio)),
            3,
        )
        if canary_ratio:
            compact["canary_ratio"] = canary_ratio
    line = json.dumps(compact)
    # Degrade, never abort: an oversized line must not turn the round's
    # bench record into the rc=1 crash class this summary exists to
    # eliminate (full detail is already in BENCH_LOCAL.json). Shrink by
    # trimming the slowest-N dict, then drop it entirely if needed.
    for fallback in (dict(list(slowest.items())[:3]), {}):
        if len(line) <= 1500:
            break
        compact["queries"] = fallback
        line = json.dumps(compact)
    # stop the session BEFORE printing so no executor/JVM output can
    # land after (or interleave with) the JSON line; then emit it as
    # the very last thing on stdout
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)


def _prev_bench(repo_dir: str):
    """Latest *usable* per-query bench record, or (None, None).

    Prefers the BENCH_FULL_r{N}.json archives (full per-query detail,
    copied from BENCH_LOCAL.json at each round start — the driver's
    own BENCH_r{N}.json carries only the compact summary line since
    round 7). Falls back to parsing BENCH_r{N}.json, walking
    backwards past crash records (a failed round stores
    ``{"rc": 1, "parsed": null}`` — BENCH_r02 is one) so a regression
    diff always compares against real timings.
    """
    import glob
    import re

    # Sort by round NUMBER, not lexicographically — "_r9" would sort
    # after "_r10" as a string and silently pin the diff to a stale
    # archive once rounds pass r9/r99.
    def _round_num(path):
        m = re.search(r"_r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else -1

    fulls = sorted(glob.glob(os.path.join(repo_dir, "BENCH_FULL_r*.json")), key=_round_num)
    for last in reversed(fulls):
        try:
            with open(last) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(data.get("queries"), dict) and len(data["queries"]) >= 10:
            return os.path.basename(last), data

    files = sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json")), key=_round_num)
    for last in reversed(files):
        try:
            with open(last) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the round driver wraps the bench JSON line under "parsed"
        if "queries" not in data and isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        if isinstance(data.get("queries"), dict):
            return os.path.basename(last), data
    return None, None


if __name__ == "__main__":
    sys.exit(main())
