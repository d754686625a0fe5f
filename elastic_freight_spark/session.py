"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes its Hadoop job (map-output compression,
speculative execution off, io.sort.mb — /root/reference
src/main/resources/hadoop_config.json) because MapReduce optimizes
nothing for you. On Spark the equivalents are either defaults or one
AQE flag, so this module is intentionally tiny: one builder with the
settings that matter at 100 TB and in local test mode alike.
"""

from __future__ import annotations

import functools
import inspect
import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "elastic_freight_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults chosen for scale:

    * AQE on (coalesce small partitions, split skewed ones, runtime
      re-plan of join strategies) — replaces the reference's static
      ``numReducers == numShards`` sizing.
    * ``spark.sql.shuffle.partitions`` sized to cores locally; on a
      real cluster callers pass ~2-3x total executor cores.
    * UTC session timezone (the reference pins the JVM default TZ to
      UTC in its Driver — we need it both for parity and for the
      DuckDB oracle).
    * Arrow enabled for any pandas-UDF path.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Parquet writer batching is the Spark analogue of the
        # reference's BulkProcessor doc/byte/time flush triggers.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns
        # timestamp — read as long and truncate to µs in load_tables
        # (DuckDB's ns→µs cast truncates identically).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quiet_benign_window_warnings(spark)
    return spark


def quiet_benign_window_warnings(spark: SparkSession) -> None:
    """Raise ``o.a.s.sql.execution.window``'s log level to ERROR for
    this JVM.

    Every unpartitioned Window the engine still plans is an
    allowlisted DOMAIN-BOUNDED frame (tools/plan_audit.py
    ``WINDOW_ALLOW`` — bucket-offset frames, calendar series, k-sized
    synopses), yet each prints WindowExec's "No Partition Defined"
    WARN — ~19 per full contract run, burying any real warning.
    ``plan_audit`` is the real guard (it FLAGS new unpartitioned
    windows); this only de-noises the log. Called from ``get_spark``
    (tuned sessions) and opt-in by our own harnesses
    (tools/drive_contract.py) — NEVER from ``load_tables``, so an
    external driver's vanilla session keeps its own logging intact.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        # alternate logging backend / no py4j gateway: cosmetic only
        pass


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# One memo for every per-(session, corpus) artifact: the table loads
# below and the serve-many frames the operator modules persist
# (postings, shingle sets, signatures, IVF/PQ/LSH indexes, co-supply
# edges). An entry is keyed on what produced it — (builder, session,
# corpus, bound params) — so a new SparkSession (new applicationId)
# never sees another session's plans, and ``f(spark, d)`` shares its
# entry with ``f(spark, d, <the defaults spelled out>)``.
_MEMO: dict[tuple, object] = {}


def _unpersist(hit) -> None:
    for v in hit if isinstance(hit, tuple) else (hit,):
        if isinstance(v, DataFrame):
            v.unpersist()


def per_corpus(builder):
    """Memoize ``builder(spark, sf_dir, *params)`` per (session,
    corpus, params); build once, serve many.

    The builder keeps its own ``.persist()``/eager ``count()``; the
    memo only stores what it returns. ``builder.release(spark, sf_dir,
    *params)`` unpersists and forgets one entry — for a frame whose
    only consumer has materialized its own result. A rebuilt entry is
    re-persisted by the builder, so a release or an eviction never
    changes a result, only its cost."""
    sig = inspect.signature(builder)
    name = f"{builder.__module__}.{builder.__qualname__}"

    def key(spark, sf_dir, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[2:]
        return (name, spark.sparkContext.applicationId, os.path.abspath(sf_dir), params)

    @functools.wraps(builder)
    def memoized(spark, sf_dir, *args, **kwargs):
        k = key(spark, sf_dir, *args, **kwargs)
        hit = _MEMO.get(k)
        if hit is None:
            # one SparkContext per JVM: an entry of another applicationId
            # belongs to a stopped session and can never hit. Forget it
            # (unpersist on a stopped context can raise); misses only, so
            # the hit path stays one dict lookup.
            for stale in [m for m in list(_MEMO) if m[1] != k[1]]:
                _MEMO.pop(stale, None)
            built = builder(spark, sf_dir, *args, **kwargs)
            # two threads racing on one key both build; the first
            # store wins and the loser's frames are dropped
            hit = _MEMO.setdefault(k, built)
            if hit is not built:
                _unpersist(built)
        return hit

    def release(spark, sf_dir, *args, **kwargs):
        _unpersist(_MEMO.pop(key(spark, sf_dir, *args, **kwargs), None))

    memoized.release = release
    return memoized


def clear_per_corpus() -> None:
    """Unpersist every memoized DataFrame (also those inside tuples)
    and forget every entry; the next call of each builder rebuilds."""
    while _MEMO:
        _unpersist(_MEMO.popitem()[1])


@per_corpus
def _read_tables(spark: SparkSession, sf_dir: str) -> dict:
    """``{name: DataFrame}`` for every table present under sf_dir.
    Memoized: without it each registered query re-lists the directory
    and re-reads ~10 parquet footers, which dominates per-query setup
    when a harness runs all ~100 queries back-to-back. The frames are
    lazy plans bound to the session, so reusing them is safe."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dfs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
                # ns→µs truncation, matching DuckDB CAST(ts AS TIMESTAMP)
                # integer DIV — float division would lose precision on
                # ~1.7e18 ns epochs (> 2^53)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
            # Naive parquet timestamps (timestamp[us], isAdjustedToUTC
            # =false) read as TIMESTAMP_NTZ under Spark 4's default
            # inferTimestampNTZ — but NTZ supports neither
            # cast-to-bigint nor unix_micros, which the temporal/
            # sessionization operators need. Normalize to TIMESTAMP_LTZ:
            # with the session tz pinned to UTC in load_tables, the
            # rendered values (and thus the DuckDB-oracle comparison,
            # whose timestamps are naive) are bit-identical, and epoch
            # arithmetic becomes legal again.
            for field in df.schema.fields:
                if isinstance(field.dataType, TimestampNTZType):
                    df = df.withColumn(
                        field.name, F.col(field.name).cast("timestamp")
                    )
            dfs[name] = df
    return dfs


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the standard test tables from a scale-factor directory.

    Returns ``{name: DataFrame}`` and registers each as a temp view so
    operators can be expressed in either the DataFrame or SQL API.
    The reads are memoized per (session, sf_dir); the views are
    re-pinned on every call (catalog-only, no I/O) in case a caller
    replaced one of the names between queries.
    """
    # The caller may hand us a session we didn't build (the driver
    # harness does) — pin the runtime-settable confs the engine
    # depends on: ns-timestamp parquet readability and UTC rendering
    # (the reference pins UTC in its Driver, driver/Driver.java:28-29).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    tables = _read_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return dict(tables)


def warm_per_corpus(spark: SparkSession, sf_dir: str) -> None:
    """Build every serve-many artifact the bench HEADLINE queries read.

    The builds run overlapped from a small thread pool (Spark's
    scheduler runs several jobs at once; the tail of one build
    back-fills cores the next build's early stages leave idle).
    Dependent builds run as a chain in one thread, and the shingle
    dependents fan out on their own pool the moment shingles are
    cached, so nothing double-builds and no chain waits on a global
    barrier. The learned-PQ chain (``vectors._pq_coded``) is left out:
    no HEADLINE query reads it, and its registry consumers build it on
    first touch.
    """
    from concurrent.futures import ThreadPoolExecutor

    from elastic_freight_spark.operators import graph, search, text, vectors

    def run_all(fns, workers):
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for _ in pool.map(lambda fn: fn(), fns):
                pass

    def text_chain():
        text.shingle_sets(spark, sf_dir).count()

        def lsh_chain():
            # materializing the verified pairs also materializes the
            # banded candidates they read (which release the signatures)
            text.minhash_signatures(spark, sf_dir).count()
            text.lsh_verified_pairs(spark, sf_dir).count()

        run_all(
            [
                lambda: text.capped_pair_intersections(spark, sf_dir).count(),
                lsh_chain,
                lambda: text.portable_minhash_signatures(spark, sf_dir).count(),
            ],
            3,
        )

    def search_chain():
        for df in search.indexed_postings(spark, sf_dir):
            df.count()
        search.token_df(spark, sf_dir).count()

    run_all(
        [
            lambda: graph.cosupply_edges(spark, sf_dir).count(),
            text_chain,
            search_chain,
            lambda: vectors._pqp_coded(spark, sf_dir).count(),
            lambda: vectors.ivf_index(spark, sf_dir)[1].count(),
            lambda: vectors.lsh_index(spark, sf_dir).count(),
        ],
        4,
    )


def cluster_conf(
    executors: int,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Recommended conf for a real cluster run (the 100 TB story,
    documented as code — pass to ``get_spark(extra_conf=...)``).

    * shuffle partitions ≈ 3× total cores (enough waves that AQE can
      coalesce down, never a single mega-partition)
    * ~128 MB scan partitions (row-group friendly; small enough that
      a partition's rows + hash tables fit executor memory)
    * RocksDB state store for streaming state beyond heap
    * broadcast threshold stays default (10 MB) — AQE upgrades joins
      at runtime when the built side turns out small
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }
