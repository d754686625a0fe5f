"""The benchmark's three workloads, driven through the engine's public API.

Each workload has the same shape: generate inputs from the seed (not
timed), set up (timed as ``setup_s``: session start, table load, index
or cache builds, and one untimed-by-the-loop warm-up of the workload's
own operation), run the operation in a closed loop with one client for
the given number of seconds, then check every output outside the timed
region. Every timed operation starts from the same engine state, so a
faster engine does more of the same work, never different work. Every engine call is wrapped in a named span (``Recorder``);
with tracing on, the span also becomes the Spark job group, so the
event log can be folded per span.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import datagen

NUM_SHARDS = 8
#: LDJSON lines of the ingest corpus and of the serve_mixed index.
INGEST_LINES = 300_000
SERVE_LINES = 200_000
#: Untimed esIndex runs before the loop: in a fresh JVM the run time
#: keeps falling for about ten runs (by ~25 % after the third).
INGEST_WARMUP_RUNS = 8
#: Ops of one serve_mixed window: one cycle (a delta batch, then its
#: lookups) per batch kind, so lookups observe upserts and tombstones.
#: Every window starts from the post-set-up index and op stream; set-up
#: runs one untimed window (lookups keep speeding up for their first ~50
#: calls in a fresh JVM).
SERVE_WINDOW_OPS = datagen.DELETE_EVERY * (datagen.LOOKUPS_PER_WRITE + 1)
#: Timed windows of a run at least: 225 lookups leave ten beyond p95.
SERVE_MIN_WINDOWS = 3

#: The analytics mix: bench.HEADLINE queries covering all 14 operator
#: modules, chosen to include the measured hot spots.
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "agg_boxplot",
    "customer_rfm_segments",
    "q9_product_profit",
    "q18_large_volume_customers",
    "part_market_basket",
    "shard_distribution",
    "apply_in_pandas_group_rank",
    "t3_session_windows",
    "w_running_revenue_skewed",
    "join_asof_click_before_purchase",
    "events_funnel_conversion",
    "sq18_in_having_subquery",
    "f_array_token_profile",
    "text_bigram_lm_score",
    "dedup_corpus_lsh",
    "search_bm25_topk",
    "ann_ivf_cosine",
    "knn_bruteforce_cosine",
    "pagerank_portable",
    "graph_assortativity",
    "mm_phash_neardup",
    "sample_quality_weighted",
    "sketch_countmin_merge",
)
OPERATOR_MODULES = (
    "arrays",
    "graph",
    "indexing",
    "multimodal",
    "relational",
    "sampling",
    "scale",
    "search",
    "subqueries",
    "temporal",
    "text",
    "tpch_deep",
    "vectors",
    "windows",
)
#: Spans folded from the event log in a traced run.
TRACED_SPANS = (
    "json_source.parse_quarantine",
    "indexer.build_index",
    "indexer.read_shard",
    "indexer.lookup_collect",
    "indexer.upsert_index",
    "operators.build",
    "operators.exec",
)
_COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "deserialize_ms": "ms",
    "gc_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
}

#: (name, unit, better) of every end-to-end metric, reported with tracing off.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_ms", "ms", "lower"),
    ("write_ms", "ms", "lower"),
    ("work_per_s", "1/s", "higher"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, reported traced."""
    out = [
        ("session.get_spark_s", "s", "lower"),
        ("session.load_tables_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("json_source.parse_quarantine_s", "s", "lower"),
        ("json_source.lines_corrupt", "count", "lower"),
        ("json_source.lines_blank", "count", "lower"),
        ("sharding.shard_skew", "ratio", "lower"),
        ("indexer.build_index_s", "s", "lower"),
        ("indexer.index_job_ms", "ms", "lower"),
        ("indexer.shard_counts_ms", "ms", "lower"),
        ("indexer.fill_ms", "ms", "lower"),
        ("indexer.files_written", "count", "lower"),
        ("indexer.index_bytes", "bytes", "lower"),
        ("indexer.read_shard_ms", "ms", "lower"),
        ("indexer.lookup_collect_ms", "ms", "lower"),
        ("indexer.upsert_index_ms", "ms", "lower"),
        ("indexer.files_per_shard_end", "count", "lower"),
    ]
    for module in OPERATOR_MODULES:
        out.append((f"operators.{module}.build_s", "s", "lower"))
        out.append((f"operators.{module}.exec_s", "s", "lower"))
    out.append(("operators.cache_warm_s", "s", "lower"))
    for span in TRACED_SPANS:
        for counter, unit in _COUNTER_UNITS.items():
            out.append((f"{span}.{counter}", unit, "lower"))
    out.append(("trace.span_coverage", "ratio", "higher"))
    return out


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    phase: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Wall-clock spans around engine calls, kept in memory.

    With ``trace`` on, entering a span sets the Spark job group to the
    span name (prefixed ``setup.`` outside the timed phase), so every
    job the call starts is attributed to it in the event log; leaving
    it resets the group to ``(between spans)``.
    """

    def __init__(self, spark, trace: bool):
        self._sc = spark.sparkContext if trace else None
        self.phase = "setup"
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, detail: str | None = None):
        if self._sc is not None:
            group = name if self.phase == "timed" else f"setup.{name}"
            if detail:
                group = f"{group}:{detail}"
            self._sc.setJobGroup(group, group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self._sc is not None:
                self._sc.setJobGroup("(between spans)", "")
            self.spans.append(Span(name, self.phase, start, end))

    def timed(self, name: str) -> list[float]:
        """Durations (s) of the timed-phase spans called ``name``."""
        return [s.seconds for s in self.spans if s.phase == "timed" and s.name == name]


def p95(values: list[float]) -> float:
    """95th percentile by linear interpolation; 0.0 when empty."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=20, method="inclusive")[18]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _geomean(values: list[float]) -> float:
    return math.exp(sum(map(math.log, values)) / len(values)) if values else 0.0


# --- results -----------------------------------------------------------------


@dataclass
class Result:
    """One workload run: the timed samples, the checks, and the metrics.

    ``op_ms``, ``write_ms`` and ``work_per_s`` are the end-to-end figures;
    each workload says which statistic of its samples they are.
    """

    workload: str
    setup_s: float = 0.0
    timed_s: float = 0.0
    op_samples_ms: list[float] = field(default_factory=list)
    write_samples_ms: list[float] = field(default_factory=list)
    op_ms: float = 0.0
    write_ms: float = 0.0
    work_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)  # failed check messages
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def fail(self, message: str, ops: int = 1) -> None:
        self.checks.append(message)
        self.failed += ops

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "op_ms": self.op_ms,
            "write_ms": self.write_ms,
            "work_per_s": self.work_per_s,
        }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _dir_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def _shard_skew(shards: dict[str, int]) -> float:
    counts = list(shards.values())
    mean = sum(counts) / len(counts) if counts else 0.0
    return max(counts) / mean if mean else 0.0


# --- shared steps ---------------------------------------------------------------


@dataclass
class Env:
    """What every workload gets: where to write, and how to start Spark."""

    work_dir: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    spark_conf: dict[str, str]


def start_spark(env: Env, result: Result):
    from elastic_freight_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{result.workload}",
        master=f"local[{env.cores}]",
        shuffle_partitions=env.cores,
        extra_conf=env.spark_conf,
    )
    result.layer["session.get_spark_s"] = time.perf_counter() - t0
    return spark


def es_index(rec: Recorder, spark, inputs: str, out_dir: str, quarantine: str) -> dict:
    """The ``esIndex`` CLI sequence through public calls: parse, cache,
    quarantine the malformed lines, build the sharded index, release."""
    from elastic_freight_spark.indexer import IndexConfig, build_index
    from elastic_freight_spark.sources.json_source import read_json_lines, split_corrupt

    with rec.span("json_source.parse_quarantine"):
        raw = read_json_lines(spark, inputs, datagen.CORPUS_SCHEMA_DDL).persist()
        good, bad = split_corrupt(raw)
        bad.write.mode("overwrite").parquet(quarantine)
    with rec.span("indexer.build_index"):
        manifest = build_index(
            good,
            IndexConfig(
                index_name="docs",
                doc_id_col="doc_id",
                num_shards=NUM_SHARDS,
                output_path=out_dir,
                routing="spark",
            ),
        )
    raw.unpersist()
    return manifest


def _check_manifest(result: Result, manifest: dict, counts: datagen.CorpusCounts) -> None:
    c = manifest["counters"]
    shard_sum = sum(manifest["shards"].values())
    if (c["index_doc_created"], c["indexing_doc_fail"], shard_sum, len(manifest["shards"])) != (
        counts.indexed,
        counts.null_id,
        counts.indexed,
        NUM_SHARDS,
    ):
        result.fail(
            f"manifest created={c['index_doc_created']} failed={c['indexing_doc_fail']} "
            f"shard_sum={shard_sum} shards={len(manifest['shards'])}; expected "
            f"{counts.indexed}/{counts.null_id}/{counts.indexed}/{NUM_SHARDS}"
        )


# --- ingest_ldjson ----------------------------------------------------------------


def ingest_ldjson(env: Env, result: Result):
    from elastic_freight_spark.sources.json_source import ingest_stats, read_json_lines

    corpus_dir = os.path.join(env.work_dir, "corpus")
    counts = datagen.write_corpus(corpus_dir, env.seed, INGEST_LINES)
    inputs = corpus_dir
    out_dir = os.path.join(env.work_dir, "index")
    quarantine = os.path.join(env.work_dir, "quarantine")

    t0 = time.perf_counter()
    spark = start_spark(env, result)
    rec = Recorder(spark, env.trace)
    for _ in range(INGEST_WARMUP_RUNS):
        es_index(rec, spark, inputs, out_dir, quarantine)
    result.setup_s = time.perf_counter() - t0

    rec.phase = "timed"
    manifests = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < env.seconds:
        op0 = time.perf_counter()
        result.attempted += 1
        try:
            manifests.append(es_index(rec, spark, inputs, out_dir, quarantine))
        except Exception as ex:  # a failed operation is counted, not fatal
            result.fail(f"esIndex raised {type(ex).__name__}: {ex}"[:300])
            continue
        result.op_samples_ms.append((time.perf_counter() - op0) * 1000)
    result.timed_s = time.perf_counter() - t0
    result.layer["session.peak_rss_mb"] = peak_rss_mb(spark)
    result.write_samples_ms = [s * 1000 for s in rec.timed("indexer.build_index")]
    result.op_ms = _median(result.op_samples_ms)
    result.write_ms = _median(result.write_samples_ms)
    result.work_per_s = counts.indexed * len(manifests) / result.timed_s

    rec.phase = "check"
    for manifest in manifests:
        _check_manifest(result, manifest, counts)
    stats = ingest_stats(read_json_lines(spark, inputs, datagen.CORPUS_SCHEMA_DDL))
    expected = {
        "total": counts.lines,
        "good": counts.good,
        "corrupt": counts.malformed,
        "blank": counts.blank,
    }
    if stats != expected:
        result.fail(f"ingest_stats {stats} != generator {expected}")
    quarantined = spark.read.parquet(quarantine).count()
    if quarantined != counts.malformed:
        result.fail(f"quarantine holds {quarantined} lines, generator wrote {counts.malformed}")

    files = _dir_files(os.path.join(out_dir, "docs"))
    last = manifests[-1] if manifests else {"counters": {}, "shards": {}}
    index_bytes = sum(os.path.getsize(f) for f in files)
    result.layer.update(
        {
            "json_source.parse_quarantine_s": _median(rec.timed("json_source.parse_quarantine")),
            "json_source.lines_corrupt": stats["corrupt"],
            "json_source.lines_blank": stats["blank"],
            "sharding.shard_skew": _shard_skew(last["shards"]),
            "indexer.build_index_s": _median(rec.timed("indexer.build_index")),
            "indexer.index_job_ms": _median(
                [m["counters"]["time_spent_indexing_ms"] for m in manifests]
            ),
            "indexer.shard_counts_ms": _median(
                [m["counters"]["time_spent_manifesting_ms"] for m in manifests]
            ),
            "indexer.fill_ms": _median([m["counters"]["time_spent_filling_ms"] for m in manifests]),
            "indexer.files_written": len(files),
            "indexer.index_bytes": index_bytes,
        }
    )
    result.detail.update(
        {
            "ingest_docs_per_s": result.work_per_s,
            "index_bytes_per_input_byte": index_bytes / counts.bytes,
            "corpus_lines": counts.lines,
            "corpus_bytes": counts.bytes,
            "es_index_runs": len(manifests),
        }
    )
    return spark, rec


# --- serve_mixed ------------------------------------------------------------------


def serve_mixed(env: Env, result: Result):
    from elastic_freight_spark.indexer import read_manifest, read_shard, upsert_index

    corpus_dir = os.path.join(env.work_dir, "corpus")
    counts = datagen.write_corpus(corpus_dir, env.seed, SERVE_LINES)

    t0 = time.perf_counter()
    spark = start_spark(env, result)
    rec = Recorder(spark, env.trace)
    manifest = es_index(
        rec,
        spark,
        corpus_dir,
        env.work_dir,
        os.path.join(env.work_dir, "quarantine"),
    )
    index_path = manifest["path"]
    base_copy = index_path + ".base"
    shutil.copytree(index_path, base_copy)
    schema = spark.read.parquet(index_path).drop("shard").schema
    lookups: list[tuple[int, int]] = []  # (expected, returned)

    def run(op: datagen.Op) -> None:
        if op.kind == "lookup":
            with rec.span("indexer.read_shard"):
                df = read_shard(spark, index_path, op.doc_id)
            with rec.span("indexer.lookup_collect"):
                rows = df.collect()
            lookups.append((op.expected, len(rows)))
        else:
            delta = spark.createDataFrame(op.rows, schema)
            with rec.span("indexer.upsert_index"):
                upsert_index(delta, index_path, delete=op.kind == "delete")

    def window(timed: bool) -> float:
        """One window of the op stream from the post-set-up state; returns
        the seconds it took, without the restore and the checks."""
        shutil.rmtree(index_path)
        shutil.copytree(base_copy, index_path)
        model = datagen.ServeModel(env.seed, counts.doc_ids)
        w0 = time.perf_counter()
        for _ in range(SERVE_WINDOW_OPS):
            op = model.next_op()
            if not timed:
                run(op)
                continue
            op0 = time.perf_counter()
            result.attempted += 1
            try:
                run(op)
            except Exception as ex:  # a failed operation is counted, not fatal
                result.fail(f"{op.kind} raised {type(ex).__name__}: {ex}"[:300])
                continue
            ms = (time.perf_counter() - op0) * 1000
            (result.op_samples_ms if op.kind == "lookup" else result.write_samples_ms).append(ms)
        seconds = time.perf_counter() - w0
        rows = sum(read_manifest(index_path)["shards"].values())
        if rows != sum(model.rows_written.values()):
            result.fail(f"index holds {rows} rows, expected {sum(model.rows_written.values())}")
        return seconds

    window(timed=False)
    result.setup_s = time.perf_counter() - t0

    rec.phase = "timed"
    lookups.clear()
    n_windows = 0
    while n_windows < SERVE_MIN_WINDOWS or result.timed_s < env.seconds:
        result.timed_s += window(timed=True)
        n_windows += 1
    result.layer["session.peak_rss_mb"] = peak_rss_mb(spark)
    result.op_ms = _median(result.op_samples_ms)
    # A mean, not a median: the batches of a window cost differently as
    # the index grows, and a median of a few samples sits on that seam.
    if result.write_samples_ms:
        result.write_ms = statistics.mean(result.write_samples_ms)
    if result.op_samples_ms:
        result.work_per_s = len(result.op_samples_ms) / (sum(result.op_samples_ms) / 1000)

    rec.phase = "check"
    _check_manifest(result, manifest, counts)
    wrong = [(e, got) for e, got in lookups if e != got]
    if wrong:
        result.fail(f"{len(wrong)} lookups returned the wrong row count, e.g. {wrong[:3]}", len(wrong))

    files = _dir_files(index_path)
    result.layer.update(
        {
            "sharding.shard_skew": _shard_skew(read_manifest(index_path)["shards"]),
            "indexer.read_shard_ms": _median(rec.timed("indexer.read_shard")) * 1000,
            "indexer.lookup_collect_ms": _median(rec.timed("indexer.lookup_collect")) * 1000,
            "indexer.upsert_index_ms": _median(rec.timed("indexer.upsert_index")) * 1000,
            "indexer.files_per_shard_end": len(files) / NUM_SHARDS,
        }
    )
    lookup_p95 = p95(result.op_samples_ms)
    result.detail.update(
        {
            "windows": n_windows,
            "lookups": len(result.op_samples_ms),
            "lookups_beyond_p95": sum(1 for v in result.op_samples_ms if v > lookup_p95),
            "delta_batches": len(result.write_samples_ms),
            "lookup_p50_ms": result.op_ms,
            "lookup_p95_ms": lookup_p95,
            "upsert_p50_ms": _median(result.write_samples_ms),
            "absent_lookups": sum(1 for e, _ in lookups if e == 0),
        }
    )
    return spark, rec


# --- analytics_mix ----------------------------------------------------------------


def _norm(df):
    """Order-insensitive normal form of a result frame (the contract
    check's: sorted columns, timestamps as microsecond strings)."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _vhash(df) -> str:
    import hashlib

    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def warm_caches(spark, data_dir: str) -> None:
    """Build the serve-many caches the analytics queries read."""
    from elastic_freight_spark.operators import graph, search, text, vectors

    graph.cosupply_edges(spark, data_dir).count()
    text.shingle_sets(spark, data_dir).count()
    text.minhash_signatures(spark, data_dir).count()
    text.lsh_verified_pairs(spark, data_dir).count()
    for df in search.indexed_postings(spark, data_dir):
        df.count()
    search.token_df(spark, data_dir).count()
    vectors.ivf_index(spark, data_dir)[1].count()


def analytics_mix(env: Env, result: Result):
    import numpy as np

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    data_dir = os.path.join(env.work_dir, "tables")
    datagen.write_tables(data_dir, env.seed)
    registry.load_all()
    queries = {name: registry.QUERIES[name] for name in ANALYTICS_QUERIES}
    rng = np.random.default_rng([env.seed, 3])

    t0 = time.perf_counter()
    spark = start_spark(env, result)
    rec = Recorder(spark, env.trace)
    t1 = time.perf_counter()
    load_tables(spark, data_dir)
    result.layer["session.load_tables_s"] = time.perf_counter() - t1
    t1 = time.perf_counter()
    with rec.span("operators.cache_warm"):
        warm_caches(spark, data_dir)
    result.layer["operators.cache_warm_s"] = time.perf_counter() - t1
    warm_out = {}
    for name in map(str, rng.permutation(ANALYTICS_QUERIES)):  # warm-up, kept for the oracle check
        with rec.span("operators.build", name):
            df = queries[name](spark, data_dir)
        with rec.span("operators.exec", name):
            warm_out[name] = df.toPandas()
    result.setup_s = time.perf_counter() - t0

    rec.phase = "timed"
    build_s: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    exec_s: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    runs: dict[str, int] = dict.fromkeys(ANALYTICS_QUERIES, 0)
    passes = 0
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < env.seconds:
        for name in map(str, rng.permutation(ANALYTICS_QUERIES)):
            if passes and time.perf_counter() - t0 >= env.seconds:
                break
            result.attempted += 1
            runs[name] += 1
            try:
                b0 = time.perf_counter()
                with rec.span("operators.build", name):
                    df = queries[name](spark, data_dir)
                b1 = time.perf_counter()
                with rec.span("operators.exec", name):
                    df.write.format("noop").mode("overwrite").save()
                b2 = time.perf_counter()
            except Exception as ex:  # a failed operation is counted, not fatal
                result.fail(f"{name} raised {type(ex).__name__}: {ex}"[:300])
                continue
            build_s[name].append(b1 - b0)
            exec_s[name].append(b2 - b1)
        passes += 1
    result.timed_s = time.perf_counter() - t0
    result.layer["session.peak_rss_mb"] = peak_rss_mb(spark)

    rec.phase = "check"
    verdicts = oracle_check(warm_out, data_dir, registry.ORACLE, env.cores, env.work_dir)
    for name, verdict in verdicts.items():
        if verdict not in ("hash-ok", "rows-ok"):
            result.fail(f"{name}: {verdict}", runs[name])

    # Metrics weigh every query once, by its median: the last pass is
    # cut short by the clock, and which queries it reached depends on
    # the seed's permutation, not on the engine. The geometric means
    # move with every query, whatever its rank.
    per_query = {
        n: _median(build_s[n]) + _median(exec_s[n]) for n in ANALYTICS_QUERIES if build_s[n]
    }
    result.op_samples_ms = [v * 1000 for v in per_query.values()]
    result.write_samples_ms = [_median(exec_s[n]) * 1000 for n in per_query]
    result.op_ms = _geomean(result.op_samples_ms)
    result.write_ms = _geomean(result.write_samples_ms)
    result.work_per_s = len(per_query) / sum(per_query.values()) if per_query else 0.0
    for module in OPERATOR_MODULES:
        names = [n for n in ANALYTICS_QUERIES if queries[n].__module__.rsplit(".", 1)[1] == module]
        result.layer[f"operators.{module}.build_s"] = sum(_median(build_s[n]) for n in names)
        result.layer[f"operators.{module}.exec_s"] = sum(_median(exec_s[n]) for n in names)
    result.detail.update(
        {
            "passes_started": passes,
            "query_total_s": sum(per_query.values()),
            "query_geomean_s": result.op_ms / 1000,
            "per_query_s": per_query,
            "oracle": verdicts,
        }
    )
    return spark, rec


def oracle_check(outputs: dict, data_dir: str, oracles: dict, cores: int, work_dir: str) -> dict:
    """Compare each query's rows with its DuckDB oracle by value hash;
    queries without an oracle must return rows."""
    import duckdb

    from elastic_freight_spark.session import TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cores}")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        verdicts = {}
        for name, pdf in outputs.items():
            spark_side = _norm(pdf)
            if name not in oracles:
                verdicts[name] = "rows-ok" if len(spark_side) else "EMPTY"
                continue
            oracle_side = _norm(con.execute(oracles[name]).df())
            same = (
                list(spark_side.columns) == list(oracle_side.columns)
                and len(spark_side) == len(oracle_side)
                and _vhash(spark_side) == _vhash(oracle_side)
            )
            verdicts[name] = "hash-ok" if same else "MISMATCH"
        return verdicts
    finally:
        con.close()


WORKLOADS = {
    "ingest_ldjson": ingest_ldjson,
    "serve_mixed": serve_mixed,
    "analytics_mix": analytics_mix,
}
