"""Streaming tier (SURVEY.md §2.10 T1-T5): Structured Streaming over
the ``events`` stream, reusing the batch engine per micro-batch.

The scope is T1-T5 and no more: T1 micro-batch ingest into the
sharded index (:func:`stream_index` + :func:`finalize_stream_index`,
and the upsert twin :func:`stream_upsert_index`), T2 tumbling/sliding
windows (:func:`tumbling_agg`), T3 session windows
(:func:`session_agg`), T4 watermarks (the ``watermark`` argument of
each) and T5 stateful dedup (:func:`dedup_stream`). Around them sit
stream-static enrichment, the gated Kafka source, and
:func:`user_running_state`, kept as the one ``applyInPandasWithState``
(custom stateful operator) example COVERAGE §2.11 lists.

The reference is a batch rebuild job — the entire index is rebuilt per
run (snapshot repo names "unique across rebuilds",
job/BaseESReducer.java:70-71); its only "incremental" machinery is the
BulkProcessor's three flush triggers (doc count / bytes / seconds,
BaseESReducer.java:219-267). Structured Streaming gives the real
incremental story: a file/Kafka source micro-batched through the SAME
sharded write (`foreachBatch` → :func:`build_index` append), plus the
stateful operators a live event feed needs (windowed aggregation,
session windows, watermarked late-data policy, stateful dedup).

Scale notes (the parts that matter at 1000 executors):

* **State lives in the state store**, partitioned by
  ``spark.sql.shuffle.partitions`` *at first checkpoint* — it cannot
  be changed later without a new checkpoint. Size it like a shuffle
  (2-3× cores). For 100s of GB of state, switch the provider to
  RocksDB (``spark.sql.streaming.stateStore.providerClass`` →
  ``RocksDBStateStoreProvider``) so state spills off-heap.
* **Watermarks bound state.** Without one, windowed/session/dedup
  state grows forever; with ``withWatermark(ts, delay)`` Spark drops
  window state older than ``max(ts) - delay`` and late rows beyond it
  — the streaming analogue of the reference counting failed docs
  instead of failing the job (P4).
* **foreachBatch writes are idempotent-by-shard**: each micro-batch
  appends Parquet files under ``shard=<i>`` directories; a replayed
  batch after failure re-appends (at-least-once). Exactly-once needs
  a transactional sink (Delta/Iceberg) — out of scope here but the
  write path is format-agnostic.
* ``maxFilesPerTrigger`` is the back-pressure knob for file sources —
  the analogue of the reference's bulk batch-size trigger.
"""

from __future__ import annotations

import os
import sys
from typing import Iterable

import pandas as pd
import pyspark.cloudpickle
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from elastic_freight_spark.indexer import IndexConfig, shard_expr

# Ship this module's functions (the applyInPandasWithState handler) to
# Python workers by VALUE — executors must not need the package
# importable (the driver may run from any cwd).
pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (T1 ingest side).

    Streaming file sources require an explicit schema — at 100 TB you
    want that anyway (schema inference is a full extra pass, see
    sources/json_source.py).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_index(
    stream_df: DataFrame,
    cfg: IndexConfig,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """T1 — incremental micro-batch ingest → sharded index.

    ``writeStream.foreachBatch``: every micro-batch goes through the
    SAME plan as the batch indexer (shard column → repartition(N,
    shard) → append partitionBy(shard) parquet). The reference's
    count/bytes/time bulk-flush triggers (S5) map to the trigger +
    ``maxFilesPerTrigger`` source option; its backoff-retry maps to
    Spark task retries + checkpointed batch replay.

    Returns the StreamingQuery. Caller owns ``awaitTermination``.
    """
    dest = os.path.join(cfg.output_path, cfg.index_name)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        obs_in = Observation(f"stream_{cfg.index_name}_{batch_id}_in")
        obs_out = Observation(f"stream_{cfg.index_name}_{batch_id}_out")
        base = batch_df.observe(obs_in, F.count(F.lit(1)).alias("total"))
        good = base.filter(F.col(cfg.doc_id_col).isNotNull())
        sharded = good.withColumn("shard", shard_expr(cfg)).repartition(
            cfg.num_shards, F.col("shard")
        )
        observed = sharded.observe(obs_out, F.count(F.lit(1)).alias("created"))
        (
            observed.write.mode("append")
            .option("maxRecordsPerFile", cfg.max_records_per_file)
            .partitionBy("shard")
            .parquet(dest)
        )
        # null-id docs are dropped, not fatal — record the per-batch
        # count so finalize can report an honest fail counter. Keyed
        # by batch_id: a replayed batch overwrites its own entry
        # instead of double counting.
        dropped = int(obs_in.get["total"]) - int(obs_out.get["created"])
        _record_batch_drop(dest, batch_id, dropped)

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


STREAM_COUNTERS_NAME = "_stream_counters.json"


def _record_batch_drop(dest: str, batch_id: int, dropped: int) -> None:
    """Accumulate per-batch dropped-doc counts in a sidecar JSON next
    to the index data (driver-side; foreachBatch runs on the driver).
    Idempotent per batch_id so checkpointed batch replay after a
    failure can't double count."""
    import json

    os.makedirs(dest, exist_ok=True)
    path = os.path.join(dest, STREAM_COUNTERS_NAME)
    counts: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            counts = json.load(f)
    counts[str(batch_id)] = dropped
    with open(path, "w") as f:
        json.dump(counts, f, indent=2, sort_keys=True)


def finalize_stream_index(spark: SparkSession, cfg: IndexConfig) -> dict:
    """Seal a streamed index: fill missing shards and write the
    manifest from the appended table's actual state (the batch
    indexer's post-phase, run once after the stream stops — the
    analogue of the reference's driver-side post-process,
    job/IndexingPostProcessor.java:144-246). The fail counter sums
    the per-batch dropped-doc sidecar ``write_batch`` maintains; a
    stream that committed zero rows finalizes to an all-empty (but
    well-formed) manifest instead of raising."""
    import json

    from pyspark.errors import AnalysisException

    from elastic_freight_spark.indexer import (
        COUNTER_DOC_CREATED,
        COUNTER_DOC_FAILED,
        _fill_missing_shards,
        _shard_counts,
        _write_manifest,
    )

    dest = os.path.join(cfg.output_path, cfg.index_name)
    shard_counts = _shard_counts(spark, dest)
    created = sum(shard_counts.values())

    failed = 0
    sidecar = os.path.join(dest, STREAM_COUNTERS_NAME)
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            failed = sum(json.load(f).values())

    schema = None
    try:
        written = spark.read.parquet(dest)
        filled = _fill_missing_shards(spark, written.drop("shard").schema, dest, cfg, shard_counts)
        schema = written.schema.jsonValue()
    except AnalysisException:
        # zero rows committed → no parquet files to infer a schema
        # from, so placeholder shards can't be typed; still emit a
        # well-formed manifest (same fallback as _shard_counts)
        filled = []

    manifest = {
        "index": cfg.index_name,
        "num_shards": cfg.num_shards,
        "doc_id_col": cfg.doc_id_col,
        "routing": cfg.routing,
        "path": dest,
        "counters": {COUNTER_DOC_CREATED: created, COUNTER_DOC_FAILED: failed},
        "shards": shard_counts,
        "missing_shards_filled": filled,
        "streamed": True,
    }
    if schema is not None:
        manifest["schema"] = schema
    os.makedirs(dest, exist_ok=True)
    _write_manifest(dest, manifest)
    return manifest


def tumbling_agg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """T2 — tumbling/sliding window aggregation; T4 — watermark.

    Works identically on a batch or streaming DataFrame (the batch
    twin is the oracle-checked ``t2_tumbling_window_events`` query).
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return df.groupBy(win.alias("win"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """T3 — session windows: per-user activity sessions closed after
    ``gap`` of inactivity. Batch twin: ``t3_session_windows``."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str | None = None,
    ts_col: str = "ts",
    within_watermark: bool = False,
) -> DataFrame:
    """T5 — stateful streaming dedup.

    ``dropDuplicates(keys)`` keeps first-seen per key; with a
    watermark the key state is dropped once older than the watermark
    (bounded state — mandatory at scale).
    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    duplicates are only suppressed while inside the watermark delay —
    the right semantics when event ids can legitimately recur later.
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    if within_watermark:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


# --- custom stateful operator (§2.11 applyInPandasWithState surface) ------

_STATE_SCHEMA = "n_events long, sum_value double"
_OUT_SCHEMA = "user_id long, n_events long, sum_value double"


def _running_user_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-user running totals, Arrow-batched. The reducer-body
    analogue of the reference's per-shard bulk loop
    (BaseESReducer.java:269-296) — except state is checkpointed and
    the loop is vectorized."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
    )


def user_running_state(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: running per-user event count + value
    sum, emitted every micro-batch (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_user_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(stream_df: DataFrame, dim_df: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static enrichment: join a stream against a batch
    dimension table. The static side is explicitly broadcast — each
    micro-batch joins map-side against the (re-read per batch, so
    dimension updates are picked up) broadcast dim, with no stateful
    shuffle and no watermark requirement. This is the streaming twin
    of the batch dimension joins in operators/relational.py and the
    standard way to attach org/tenant metadata to an event stream
    before indexing (the reference resolves index metadata per batch
    in its job setup; ConfigurationLoader usage in
    /root/reference/src/main/java/com/simondata/elasticfreight/job/
    ESIndexShardSnapshotJob.java — here it's a first-class join)."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source (gated: the spark-sql-kafka external module isn't
    deployed in every environment — fail with the deploy hint, not a
    ClassNotFound). Returns the raw (key, value, timestamp, ...)
    frame; parse `value` with sources/json_source.parse_json_column.
    """
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception as exc:
        raise RuntimeError(
            "Kafka support requires the external spark-sql-kafka module "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
            "<spark-version>); it is not deployed in this session"
        ) from exc
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def stream_upsert_index(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """CDC-style continuous indexing: every micro-batch lands as an
    upsert DELTA on an existing index (``indexer.upsert_index`` —
    shard-routed, versioned, latest-wins), and readers resolve via
    ``read_index_latest`` merge-on-read, so a query never sees a
    half-applied batch and the base is never rewritten on the hot
    path. ``compact_index_upserts`` folds the deltas down out-of-band.

    This is the streaming twin of the reference's rebuild-the-index
    batch model: same routing, same manifest, but documents can
    arrive, change, and die while the index serves. Checkpointed
    foreachBatch gives effectively-once application (a replayed batch
    re-applies the same rows at a new version — idempotent under
    latest-wins resolution).

    Returns the StreamingQuery. Caller owns ``awaitTermination``.
    """
    from elastic_freight_spark.indexer import upsert_index

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_index(batch_df, index_path)

    writer = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
