"""Sharded index build: the reference's entire MapReduce job as one
declarative Spark write.

elastic-freight's pipeline (reference ``example/IndexingJob.java``,
``job/BaseESReducer.java``, ``job/IndexingPostProcessor.java``):

1. map: parse JSON line, extract doc-id field, murmur3 routing hash
2. shuffle: hash-partition so reducer *i* gets shard *i*'s docs
3. reduce: boot embedded ES, bulk-index batches, force-merge, snapshot
4. transport: upload each shard snapshot to S3/HDFS/local FS
5. post-process: merge + dedupe manifests, fill missing empty shards,
   stitch one restorable snapshot

On Spark this collapses to::

    df.withColumn("shard", shard_col(doc_id, N))
      .repartition(N, "shard")
      .write.partitionBy("shard").parquet(dest)

plus a tiny JSON manifest. There is no embedded ES (Parquet is the
index), no snapshot surgery (the partitioned table IS the snapshot;
"restore" is ``spark.read.parquet``), and no S3 eventual-consistency
manifest dance.

Every whole index tree — a build, a compaction, a reshard — is
published the same way (``_publish``): written to ``<path>.compacting``,
completed there (shard counts, empty placeholder shards, schema,
manifest), and only then swapped in for the live tree, which survives
at ``<path>.old`` until the new one is in place. A failed write leaves
the previous index and manifest untouched; a crash between the two
renames is undone by ``recover_compact``.

Scale notes (100 TB):

* The shuffle is the single full-data network pass, same as the
  reference's map→reduce shuffle. ``repartition(N, shard)`` gives
  1 write task per shard like the reference's 1-reducer-per-shard;
  for huge shards pass ``tasks_per_shard > 1`` (``compact_index``:
  ``target_files_per_shard``) to write each shard directory from
  several tasks (still correctly partitioned — the partitionBy column,
  not task layout, defines placement).
* ``maxRecordsPerFile`` bounds file sizes (the analogue of the
  reference's 256 MB max merged segment,
  example/IndexingReducerImpl.java:34-36).
* Failed/null-id docs are counted, not fatal, matching the
  reference's failure counters (BaseESReducer.java:232-251) — done
  via ``df.observe`` so the counts ride the write job instead of a
  second scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from elastic_freight_spark.sharding import es_shard, lcg_shard_col, shard_col, spark_shard

MANIFEST_NAME = "_manifest.json"
CATALOG_NAME = "_catalog.json"

#: Counter names, mirroring the reference's job counters
#: (BaseESReducer.java:60-62).
COUNTER_DOC_CREATED = "index_doc_created"
COUNTER_DOC_FAILED = "indexing_doc_fail"

#: Per-phase wall-clock counters, the analogue of the reference's
#: TIME_SPENT_INDEXING/FLUSHING/MERGING/SNAPSHOTTING/TRANSPORTING_MS
#: (BaseESReducer.java:60-62). Spark folds map+shuffle+write into one
#: job, so the phases are: the indexing job itself, the manifest
#: (shard-count) scan, the missing-shard fill, and — in
#: ``compact_index`` — the force-merge analogue.
COUNTER_T_INDEXING = "time_spent_indexing_ms"
COUNTER_T_MANIFESTING = "time_spent_manifesting_ms"
COUNTER_T_FILLING = "time_spent_filling_ms"
COUNTER_T_MERGING = "time_spent_merging_ms"


@dataclass
class ShardConfig:
    """Per-index shard counts with a default — the reference's
    ShardConfig (ShardConfig.java:13-38: index-name → shard-count map,
    ``getShardsForIndex`` falling back to the default). Lets one
    multi-index job give its big indexes more shards than its small
    ones."""

    shards_per_index: dict[str, int] = field(default_factory=dict)
    default_shards: int = 1

    def shards_for(self, index_name: str) -> int:
        return self.shards_per_index.get(index_name, self.default_shards)


@dataclass
class IndexConfig:
    """Equivalent of the reference's 13 ConfigParams strings
    (ConfigParams.java:10-24) minus the ES/snapshot-specific ones.

    ``num_shards`` may be None when a ``shard_config`` is given — it
    then resolves per index name, reference-style."""

    index_name: str
    doc_id_col: str
    num_shards: int | None
    output_path: str
    #: 'spark' (murmur3 seed 42, JVM fast path), 'lcg'
    #: (oracle-portable arithmetic), or 'es' (bit-exact ES 5.x parity
    #: via pandas UDF)
    routing: str = "spark"
    #: bound output file size — analogue of ES max merged segment
    max_records_per_file: int = 5_000_000
    #: >1 splits each shard across several write tasks (huge shards)
    tasks_per_shard: int = 1
    #: extra columns to sort within each shard file (improves scan
    #: locality / compression, like ES's force-merge producing ordered
    #: segments)
    sort_within_shard: list[str] = field(default_factory=list)
    #: per-index shard-count policy; consulted when num_shards is None
    shard_config: ShardConfig | None = None

    def __post_init__(self):
        if self.num_shards is None:
            if self.shard_config is None:
                raise ValueError(
                    "num_shards=None requires a shard_config to resolve "
                    "the per-index shard count"
                )
            self.num_shards = self.shard_config.shards_for(self.index_name)


def shard_expr(cfg: IndexConfig):
    if cfg.routing == "lcg":
        return lcg_shard_col(cfg.doc_id_col, cfg.num_shards)
    if cfg.routing == "es":
        from elastic_freight_spark.sharding import es_murmur3_shard_udf

        return es_murmur3_shard_udf(cfg.num_shards)(F.col(cfg.doc_id_col).cast("string"))
    return shard_col(cfg.doc_id_col, cfg.num_shards)


def build_index(df: DataFrame, cfg: IndexConfig) -> dict:
    """Shard-route, shuffle, write, manifest. Returns the manifest.

    One full-data pass: scan → shard column → repartition(shard) →
    partitioned Parquet write, with doc counters observed on the same
    job. Null doc ids are routed out (counted as failures), matching
    the reference's skip-don't-fail policy (BaseESReducer.java:270).
    The tree is published through ``_publish``: a rebuild whose write
    fails leaves the previous index and manifest as they were.
    """
    if cfg.routing == "lcg":
        from pyspark.sql.types import NumericType

        if not isinstance(df.schema[cfg.doc_id_col].dataType, NumericType):
            raise ValueError(
                f"routing='lcg' needs a numeric doc-id column; "
                f"{cfg.doc_id_col!r} is {df.schema[cfg.doc_id_col].dataType} "
                "(a string id would cast to NULL and rows would land in "
                "the default partition) — use routing='spark' or 'es'"
            )
    obs_in = Observation(f"index_{cfg.index_name}_in")
    obs = Observation(f"index_{cfg.index_name}")

    # observe the input count on the same job as the write — no
    # second scan of the (100 TB) input just for counters
    base = df.observe(obs_in, F.count(F.lit(1)).alias("total"))
    good = base.filter(F.col(cfg.doc_id_col).isNotNull())
    sharded = _layout(
        good.withColumn("shard", shard_expr(cfg)),
        cfg.num_shards,
        cfg.doc_id_col,
        cfg.tasks_per_shard,
        cfg.sort_within_shard,
    )
    observed = sharded.observe(obs, F.count(F.lit(1)).alias(COUNTER_DOC_CREATED))

    def doc_counters() -> dict:
        created = int(obs.get[COUNTER_DOC_CREATED])
        return {
            COUNTER_DOC_CREATED: created,
            COUNTER_DOC_FAILED: int(obs_in.get["total"]) - created,
        }

    manifest = _new_manifest(cfg)
    return _publish(
        observed,
        manifest["path"],
        manifest,
        cfg.num_shards,
        max_records_per_file=cfg.max_records_per_file,
        counters=doc_counters,
    )


def _new_manifest(cfg: IndexConfig) -> dict:
    """The manifest fields every index records from its config."""
    return {
        "index": cfg.index_name,
        "num_shards": cfg.num_shards,
        "doc_id_col": cfg.doc_id_col,
        "routing": cfg.routing,
        "path": os.path.join(cfg.output_path, cfg.index_name),
    }


def _layout(
    frame: DataFrame,
    num_shards: int,
    doc_id_col: str,
    tasks_per_shard: int = 1,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Lay a frame with a ``shard`` column out for a partitioned write:
    one write task per shard, or ``tasks_per_shard`` tasks per shard.
    Repartitioning on the shard alone cannot split a shard (equal keys
    hash to one partition), so a split co-keys on a deterministic
    doc-id salt; placement still comes from partitionBy."""
    if tasks_per_shard > 1:
        salt = F.pmod(F.hash(F.col(doc_id_col)), F.lit(tasks_per_shard))
        frame = frame.repartition(num_shards * tasks_per_shard, F.col("shard"), salt)
    else:
        frame = frame.repartition(num_shards, F.col("shard"))
    if sort_cols:
        frame = frame.sortWithinPartitions("shard", *sort_cols)
    return frame


def _ms_since(t0: float) -> float:
    return (time.monotonic() - t0) * 1000.0


def _publish(
    frame: DataFrame,
    dest: str,
    manifest: dict,
    num_shards: int,
    *,
    max_records_per_file: int = 0,
    counters: Callable[[], dict] = dict,
) -> dict:
    """Write a whole index tree and swap it in at ``dest``; returns the
    manifest. The one writer of whole trees.

    The laid-out ``frame`` is written with ``partitionBy("shard")`` to
    ``<dest>.compacting`` and completed there by ``_seal`` (shard
    counts, placeholder shards, schema, phase times) plus the counters
    ``counters()`` returns once the write has run (its observations,
    a caller's own phase time). The manifest is written into the new
    tree, and only then is the live tree renamed to ``<dest>.old``, the
    new one to ``<dest>``, and ``.old`` removed. A failed write leaves
    the live index untouched; a crash between the renames is undone by
    ``recover_compact``, which also runs first here, so a publish
    starts from a clean slate."""
    dest = dest.rstrip("/")
    staging, old = dest + ".compacting", dest + ".old"
    recover_compact(dest)
    t0 = time.monotonic()
    (
        frame.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(staging)
    )
    manifest["counters"] = {
        **manifest.get("counters", {}),
        COUNTER_T_INDEXING: _ms_since(t0),
        **counters(),
    }
    _seal(frame.sparkSession, staging, manifest, num_shards, frame.schema)
    _write_manifest(staging, manifest)

    live = os.path.exists(dest)
    if live:
        os.rename(dest, old)
    os.rename(staging, dest)
    if live:
        shutil.rmtree(old)
    return manifest


def _seal(
    spark: SparkSession,
    tree: str,
    manifest: dict,
    num_shards: int,
    schema: StructType | None,
) -> None:
    """Complete a written tree's manifest, the reference's post-process
    (IndexingPostProcessor.java:144-246): per-shard counts read back
    from the files, an empty directory for every shard that got no
    rows, the schema, and the time each took. ``schema`` (the tree's,
    ``shard`` included) types the placeholders; without one (nothing
    was ever written) no shard is filled. The caller writes the
    manifest."""
    t0 = time.monotonic()
    shards = _shard_counts(spark, tree)
    t_counted = _ms_since(t0)
    manifest["missing_shards_filled"] = (
        [] if schema is None else _fill_missing_shards(spark, schema, tree, num_shards, shards)
    )
    manifest["shards"] = shards
    if schema is not None:
        manifest["schema"] = schema.jsonValue()
    manifest.setdefault("counters", {}).update(
        {
            COUNTER_T_MANIFESTING: t_counted,
            COUNTER_T_FILLING: _ms_since(t0) - t_counted,
        }
    )


def _shard_counts(spark: SparkSession, dest: str) -> dict[str, int]:
    """Per-shard doc counts from the written table — a
    metadata-driven scan of just the partition column (Parquet row
    counts come from footers, no data pages read)."""
    from pyspark.errors import AnalysisException

    try:
        rows = (
            spark.read.parquet(dest)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("docs"))
            .collect()
        )
    except AnalysisException:
        # zero rows written → no shard directories yet (the
        # missing-shard fill creates them all)
        return {}
    return {str(r["shard"]): int(r["docs"]) for r in rows}


def _recount_shards(spark: SparkSession, index_path: str, manifest: dict) -> dict[str, int]:
    """Per-shard counts read back from the index's files; a shard the
    manifest lists that now holds no rows stays, at 0."""
    return {**dict.fromkeys(manifest["shards"], 0), **_shard_counts(spark, index_path)}


def _fill_missing_shards(spark, schema, dest, num_shards, shard_counts) -> list[int]:
    """The reference's ``placeMissingShards`` (BaseTransport.java:
    144-167): an index restore requires all N shards to exist even if
    some got zero documents. Here: write an empty parquet directory
    for each absent shard id (expected-minus-produced — the anti-join
    the reference does over its manifest). The only writer of
    placeholder shards."""
    missing = sorted(set(range(num_shards)) - {int(s) for s in shard_counts})
    if missing:
        data = StructType([f for f in schema if f.name != "shard"])
        empty = spark.createDataFrame([], data)
        for shard_id in missing:
            empty.write.mode("overwrite").parquet(os.path.join(dest, f"shard={shard_id}"))
            shard_counts[str(shard_id)] = 0
    return missing


def _write_json(path: str, obj) -> None:
    """Write to a temp name, fsync it, then ``os.replace`` it over
    ``path``: a crash mid-write leaves the previous file whole, and
    every reader reads either it or the new one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_manifest(dest: str, manifest: dict) -> None:
    _write_json(os.path.join(dest, MANIFEST_NAME), manifest)


def _manifest_schema(spark: SparkSession, index_path: str, manifest: dict) -> StructType:
    """The index's schema (``shard`` included) as its manifest records
    it; a manifest written before schemas were recorded infers it from
    the files."""
    if "schema" in manifest:
        return StructType.fromJson(manifest["schema"])
    return spark.read.parquet(index_path).schema


def read_manifest(index_path: str) -> dict:
    with open(os.path.join(index_path, MANIFEST_NAME)) as f:
        return json.load(f)


def read_index(
    spark: SparkSession, index_path: str, merge_schema: bool = False
) -> DataFrame:
    """'Restore': just read the partitioned table.

    ``merge_schema=True`` reconciles shards written at different
    schema versions (an incrementally-upserted index whose later
    batches added columns — the ES analogue is dynamic mapping): the
    union schema is read, old shards surface nulls for new columns.
    Off by default because schema merging footer-scans every file at
    planning time — at 100 TB turn it on only after an evolution."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(index_path)


def read_shard(spark: SparkSession, index_path: str, doc_id) -> DataFrame:
    """Shard-pruned point lookup (reference query-side routing,
    ElasticsearchRoutingStrategyV5.java:97-113): compute the only
    shard that can hold ``doc_id`` and read that one shard directory,
    keeping the partition and doc-id filters in the plan.

    No Spark job runs before the caller's collect. The shard is
    arithmetic in the driver, as in the reference: ``spark_shard`` for
    spark routing, which covers tinyint, smallint, int, bigint and
    string doc ids; only other doc-id types (or a key whose Python
    type is not the column's) route through a one-row Spark job. The
    schema comes from the manifest, so no other shard is listed and no
    schema is inferred; an index whose manifest has no ``schema``
    (built before manifests recorded it) infers it from the files.
    """
    manifest = read_manifest(index_path)
    n = manifest["num_shards"]
    idc = manifest["doc_id_col"]
    schema = _manifest_schema(spark, index_path, manifest)
    routing = manifest["routing"]
    if routing == "lcg":
        shard_id = ((int(doc_id) % 2147483647) * 48271) % 2147483647 % n
    elif routing == "es":
        shard_id = es_shard(str(doc_id), n)
    else:
        dtype = schema[idc].dataType
        shard_id = spark_shard(doc_id, dtype, n)
        if shard_id is None:
            # The literal MUST carry the stored column's exact type:
            # murmur3 hashes int and long differently, so an untyped
            # python literal would route to the wrong shard.
            one = spark.range(1).select(shard_col(F.lit(doc_id).cast(dtype), n).alias("s"))
            shard_id = one.collect()[0]["s"]
    shard_dir = os.path.join(index_path, f"shard={shard_id}")
    # a shard that holds no rows has no directory in a tree written
    # before every publish filled its empty shards: read the index instead
    df = (
        spark.read.schema(schema)
        .option("basePath", index_path)
        .parquet(shard_dir if os.path.isdir(shard_dir) else index_path)
    )
    return df.filter((F.col("shard") == shard_id) & (F.col(idc) == doc_id))


# --- incremental upsert: merge-on-read versions + tombstones --------------
#
# BEYOND the reference (its artifact is an immutable ES snapshot; any
# change means a full re-index, example/IndexingJob.java). A training
# -data index gets re-crawled and re-scored continuously, so the Spark
# engine adds the standard log-structured answer: upserts append
# sharded rows stamped with a monotone ``_version`` (and ``_op`` =
# 'u'/'d' for tombstones); readers resolve latest-per-doc with one
# window (merge-on-read); compaction folds the log back to one row per
# doc (copy-on-write) through the same staged publish as every build.

UPSERT_VERSION_COL = "_version"
UPSERT_OP_COL = "_op"

def upsert_index(df: DataFrame, index_path: str, delete: bool = False) -> dict:
    """Append an upsert (or tombstone) batch to a built index.

    ``df`` must carry the index's doc-id column and, for upserts, the
    full row schema; one row per doc id per batch (latest-batch-wins
    resolution is by ``_version``, ties within one batch are a caller
    contract). Returns the updated manifest; ``manifest['version']``
    is the batch's version stamp. The write is the same
    shard-route → repartition → partitioned append as the base build
    — a delta never rewrites the base. Its new columns (``_version``,
    ``_op`` and any evolved column) are added to the manifest's schema.
    It reads nothing of the index: the batch's per-shard row counts
    are observed on its own write job and added to
    ``manifest['shards']``."""
    manifest = read_manifest(index_path)
    version = int(manifest.get("version", 0)) + 1
    cfg = IndexConfig(
        index_name=manifest["index"],
        doc_id_col=manifest["doc_id_col"],
        num_shards=manifest["num_shards"],
        output_path=os.path.dirname(index_path.rstrip("/")),
        routing=manifest["routing"],
    )
    good = df.filter(F.col(cfg.doc_id_col).isNotNull())
    stamped = _layout(
        good.withColumn(UPSERT_VERSION_COL, F.lit(version).cast("long"))
        .withColumn(UPSERT_OP_COL, F.lit("d" if delete else "u"))
        .withColumn("shard", shard_expr(cfg)),
        cfg.num_shards,
        cfg.doc_id_col,
    )
    obs = Observation(f"upsert_{cfg.index_name}")
    stamped = stamped.observe(
        obs, *[F.count_if(F.col("shard") == i).alias(str(i)) for i in range(cfg.num_shards)]
    )
    (
        stamped.write.mode("append")
        .option("maxRecordsPerFile", cfg.max_records_per_file)
        .partitionBy("shard")
        .parquet(index_path)
    )
    manifest["version"] = version
    shards = manifest["shards"]
    for shard, docs in obs.get.items():
        shards[shard] = shards.get(shard, 0) + int(docs)
    if "schema" in manifest:
        known = StructType.fromJson(manifest["schema"])
        new = [f for f in stamped.schema if f.name not in known.fieldNames()]
        manifest["schema"] = StructType(known.fields + new).jsonValue()
    _write_manifest(index_path, manifest)
    return manifest


def read_index_latest(spark: SparkSession, index_path: str) -> DataFrame:
    """Merge-on-read: resolve each doc id to its newest version and
    drop tombstoned docs. Base rows written before any upsert have no
    version columns (mergeSchema fills null → version 0, op 'u').

    Cost shape: ONE window shuffle on the doc id over base+delta —
    the read-side price of merge-on-read; run
    ``compact_index_upserts`` to pay it once instead of per query."""
    return _merge_on_read(spark, index_path)


def read_index_asof(
    spark: SparkSession, index_path: str, version: int
) -> DataFrame:
    """Time travel over the upsert log: the index exactly as it stood
    after batch ``version`` committed (0 = the base build). Same
    merge-on-read plan as ``read_index_latest`` with the delta log
    truncated at the version fence — deltas newer than ``version``
    are dropped by a pushed-down predicate BEFORE the resolve
    shuffle, so reading an old snapshot costs no more than reading
    the newest (often less: fewer delta rows survive the scan).

    This is the Spark face of the reference's restorable-snapshot
    catalog (every build is a named, immutable, re-servable snapshot
    — IndexingPostProcessor.java:225-238 writes the manifest of
    restorable indexes); the upsert log generalizes it from
    whole-index granularity to per-batch granularity."""
    return _merge_on_read(spark, index_path, version)


def _merge_on_read(
    spark: SparkSession, index_path: str, version: int | None = None
) -> DataFrame:
    """The one resolver behind ``read_index_latest`` and
    ``read_index_asof``: newest row per doc id (at or below
    ``version`` when given), tombstones dropped. An index that was
    never upserted is returned as read."""
    manifest = read_manifest(index_path)
    df = read_index(spark, index_path, merge_schema=True)
    if UPSERT_VERSION_COL not in df.columns:
        return df
    from pyspark.sql import Window as W

    vc = F.col(UPSERT_VERSION_COL)
    if version is not None:
        # NULL version = base rows (version 0), always in scope. Filter
        # on the raw column (IsNull OR <=) rather than coalesce() so the
        # predicate stays parquet-pushable and whole delta files newer
        # than the fence are skipped by row-group stats.
        df = df.filter(vc.isNull() | (vc <= F.lit(int(version))))
    newest = W.partitionBy(manifest["doc_id_col"]).orderBy(F.col("_v").desc())
    return (
        df.withColumn("_v", F.coalesce(vc, F.lit(0)))
        .withColumn("_rn", F.row_number().over(newest))
        .filter(F.col("_rn") == 1)
        .filter(F.coalesce(F.col(UPSERT_OP_COL), F.lit("u")) != "d")
        .drop("_v", "_rn")
    )


def compact_index_upserts(spark: SparkSession, index_path: str) -> dict:
    """Copy-on-write compaction of the upsert log: materialize the
    latest-version view (tombstones dropped) and publish it as one
    clean tree (``_publish``, the staged swap every build uses). After
    this, plain ``read_index`` equals the merge-on-read view and the
    per-query window cost is gone."""
    manifest = read_manifest(index_path)
    latest = read_index_latest(spark, index_path).drop(
        UPSERT_VERSION_COL, UPSERT_OP_COL
    )
    manifest["compacted_upserts_through"] = manifest.get("version", 0)
    n = manifest["num_shards"]
    return _publish(
        _layout(latest, n, manifest["doc_id_col"]), index_path, manifest, n
    )


# --- multi-index catalog (the reference's post-processor surface) ---------


def merge_manifests(
    index_paths: list[str],
    catalog_path: str,
    spark: SparkSession | None = None,
    shard_config: ShardConfig | None = None,
) -> dict:
    """Merge N built indexes' manifests into ONE restorable catalog —
    the reference's IndexingPostProcessor.execute
    (IndexingPostProcessor.java:144-246): each reducer emits its own
    tiny manifest (because listing eventually-consistent job output
    lies), the post-processor merges them, de-dupes entries per index,
    places empty shards for any shard that got no data, and writes a
    single root manifest naming every restorable index.

    Here each ``build_index`` already wrote a per-index manifest; this
    merges those. De-dupe: the same index path listed twice collapses
    to one entry; the same index *name* at two different paths is a
    conflict (the reference would silently union reducer lines — with
    whole-index manifests that can only be a caller bug) → ValueError.
    Missing-shard fill needs a SparkSession to write empty parquet
    shards; pass ``shard_config`` to *widen* the expected shard count
    beyond what an index's own manifest says (reference semantics:
    the transport fills up to ShardConfig's count). An index with
    missing shards is completed in place by the same ``_seal`` every
    publish runs (recount, fill typed by the manifest's schema,
    manifest rewrite).

    Driver-side (reads N small JSON files, writes one) — unless a
    shard is missing, nothing scans data. The catalog replaces the
    previous one atomically.
    """
    indices: dict[str, dict] = {}
    for p in index_paths:
        m = read_manifest(p)
        name = m["index"]
        if name in indices:
            if indices[name]["path"] != m["path"]:
                raise ValueError(
                    f"index {name!r} appears at two paths: "
                    f"{indices[name]['path']} vs {m['path']}"
                )
            continue  # duplicate listing of the same build — de-dupe
        indices[name] = m

    filled: dict[str, list[int]] = {}
    for name, m in sorted(indices.items()):
        if shard_config is not None:
            m["num_shards"] = max(m["num_shards"], shard_config.shards_for(name))
        missing = sorted(set(range(m["num_shards"])) - {int(s) for s in m["shards"]})
        if missing:
            if spark is None:
                raise ValueError(
                    f"index {name!r} is missing shards {missing}; pass "
                    "spark= so empty placeholder shards can be written"
                )
            schema = _manifest_schema(spark, m["path"], m)
            _seal(spark, m["path"], m, m["num_shards"], schema)
            _write_manifest(m["path"], m)
            filled[name] = m["missing_shards_filled"]

    catalog = {
        "indices": {
            name: {
                "path": m["path"],
                "num_shards": m["num_shards"],
                "doc_id_col": m["doc_id_col"],
                "routing": m.get("routing"),
                "shards": m["shards"],
                "counters": m.get("counters", {}),
            }
            for name, m in sorted(indices.items())
        },
        "counters": {
            COUNTER_DOC_CREATED: sum(
                m.get("counters", {}).get(COUNTER_DOC_CREATED, 0)
                for m in indices.values()
            ),
            COUNTER_DOC_FAILED: sum(
                m.get("counters", {}).get(COUNTER_DOC_FAILED, 0)
                for m in indices.values()
            ),
        },
        "missing_shards_filled": filled,
    }
    os.makedirs(catalog_path, exist_ok=True)
    _write_json(os.path.join(catalog_path, CATALOG_NAME), catalog)
    return catalog


def read_catalog(catalog_path: str) -> dict:
    with open(os.path.join(catalog_path, CATALOG_NAME)) as f:
        return json.load(f)


def restore_catalog_index(spark: SparkSession, catalog_path: str, index_name: str) -> DataFrame:
    """'Restore' one index through the merged catalog (the reference
    restores from the root manifest's snapshot; here: read the path
    the catalog records)."""
    cat = read_catalog(catalog_path)
    return read_index(spark, cat["indices"][index_name]["path"])


def build_indexes(
    dfs: dict[str, DataFrame],
    doc_id_col: str,
    output_path: str,
    shard_config: ShardConfig,
    routing: str = "spark",
    **config_kwargs,
) -> dict:
    """Build several indexes in one job output and post-process them
    into one catalog — the reference's whole-job surface (a single
    MapReduce run emits many indexes, then IndexingPostProcessor
    stitches the root manifest). Shard counts come per-index from
    ``shard_config``."""
    manifests = []
    for name, df in sorted(dfs.items()):
        cfg = IndexConfig(
            index_name=name,
            doc_id_col=doc_id_col,
            num_shards=None,
            output_path=output_path,
            routing=routing,
            shard_config=shard_config,
            **config_kwargs,
        )
        manifests.append(build_index(df, cfg))
    spark = next(iter(dfs.values())).sparkSession
    return merge_manifests(
        [m["path"] for m in manifests],
        output_path,
        spark=spark,
        shard_config=shard_config,
    )


def compact_index(
    spark: SparkSession,
    index_path: str,
    target_files_per_shard: int = 1,
    sort_cols: list[str] | None = None,
) -> dict:
    """Force-merge analogue: rewrite each shard directory down to
    ``target_files_per_shard`` files (optionally re-sorted).

    The reference force-merges Lucene segments before snapshotting
    (ESEmbededContainer.java:71-77; max merged segment 256 MB,
    segments_per_tier 4 — example/IndexingReducerImpl.java:34-36)
    because many small segments slow every later search. The Parquet
    equivalent: a streamed index accumulates one file per shard per
    micro-batch; compaction folds them so later scans pay one file
    open per shard instead of hundreds. Data is byte-identical —
    only file layout changes. Run it like the reference runs
    force-merge: once, after load, before serving.

    The index is read with ``mergeSchema``, so the ``_version``/``_op``
    columns of pending upserts survive and the merge-on-read view is
    unchanged. Crash safety is ``_publish``'s: the compacted tree is
    complete, manifest included, before it replaces the live one.
    """
    t0 = time.monotonic()
    manifest = read_manifest(index_path)
    n = manifest["num_shards"]
    compacted = _layout(
        read_index(spark, index_path, merge_schema=True),
        n,
        manifest["doc_id_col"],
        target_files_per_shard,
        sort_cols,
    )
    manifest["compacted"] = True
    return _publish(
        compacted,
        index_path,
        manifest,
        n,
        counters=lambda: {COUNTER_T_MERGING: _ms_since(t0)},
    )


def recover_compact(index_path: str) -> str:
    """Recover from a crash mid-publish: a build, compaction or
    reshard (``_publish``). Returns what was done: 'ok' (live index
    present, leftovers cleared — a crash before the swap, mid-build
    included, leaves the previous index live and only a partial
    ``.compacting`` tree), 'restored' (a crash between the two renames
    left the live path missing — ``.old`` renamed back), or 'missing'
    (nothing recoverable at this path: a first build that never
    finished; the next publish overwrites its ``.compacting`` tree)."""
    old = index_path.rstrip("/") + ".old"
    tmp = index_path.rstrip("/") + ".compacting"
    if os.path.exists(index_path):
        for leftover in (old, tmp):
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
        return "ok"
    if os.path.exists(old):
        os.rename(old, index_path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        return "restored"
    return "missing"


# ---------------------------------------------------------------------------
# Aliases — the ES blue/green go-live surface: readers address an alias,
# publishes atomically repoint it at a freshly built index (the artifact
# the reference uploads is served through exactly this indirection once
# restored into a cluster; here the pointer IS the serving switch).
# ---------------------------------------------------------------------------


def set_alias(base_path: str, alias: str, index_path: str) -> str:
    """Atomically (re)point ``alias`` at ``index_path``.

    The pointer is a JSON file written to a temp name then
    ``os.replace``-d over the alias file — readers see either the old
    or the new target, never a partial write. Flipping an alias is
    O(1) regardless of index size, which is what makes rebuild-then-
    swap (blue/green) the zero-downtime publish: build the new index
    under a versioned directory, validate it, then flip."""
    os.makedirs(base_path, exist_ok=True)
    target = os.path.join(base_path, f"_alias_{alias}.json")
    _write_json(target, {"alias": alias, "index_path": index_path})
    return target


def resolve_alias(base_path: str, alias: str) -> str:
    with open(os.path.join(base_path, f"_alias_{alias}.json")) as f:
        return json.load(f)["index_path"]


def read_alias(spark: SparkSession, base_path: str, alias: str) -> DataFrame:
    """Read whichever index the alias currently serves."""
    return read_index(spark, resolve_alias(base_path, alias))


def reshard_index(
    spark: SparkSession, index_path: str, new_num_shards: int
) -> dict:
    """Rewrite a built index to a different shard count — the
    operation behind a ``ShardConfig`` change (the reference's only
    answer is a full rebuild: shard count is fixed at job submission,
    ConfigParams NUM_SHARDS, and the ES index is created with it
    before any reducer runs). Here it is one repartition job published
    like every build (``_publish``: .compacting tree + .old swap +
    ``recover_compact``).

    Scale note: with modulo hash routing a shard-count change moves
    ~(1 - 1/max(N,M)) of all rows — nearly everything — which is why
    the manifest records ``moved_fraction``: the operator can see
    that going 8→16 is a full shuffle and schedule it like one.
    (Consistent/jump hashing would move only ~1/2 the rows on a
    doubling, but then shard→file pruning would need ring metadata;
    modulo + honest accounting is the simpler trade at Parquet-file
    granularity.)"""
    t0 = time.monotonic()
    manifest = read_manifest(index_path)
    cfg = IndexConfig(
        index_name=manifest["index"],
        doc_id_col=manifest["doc_id_col"],
        num_shards=new_num_shards,
        output_path=os.path.dirname(index_path.rstrip("/")),
        routing=manifest.get("routing", "spark"),
    )
    # mergeSchema: upsert deltas (upsert_index) are appended files whose
    # _version/_op columns only surface under schema merge — a plain read
    # would silently strip the version stamps and the rewrite would
    # resurrect tombstones / duplicate superseded rows on the next
    # read_index_latest. Base rows read back with null _version, which
    # the merge-on-read resolvers already treat as version 0.
    df = read_index(spark, index_path, merge_schema=True)
    resharded = df.withColumn("old_shard", F.col("shard")).withColumn(
        "shard", shard_expr(cfg)
    )
    moved = resharded.filter(F.col("shard") != F.col("old_shard")).count()
    total = max(sum(manifest["shards"].values()), 1)
    manifest["resharded_from"] = manifest["num_shards"]
    manifest["num_shards"] = new_num_shards
    manifest["moved_fraction"] = round(moved / total, 6)
    return _publish(
        _layout(resharded.drop("old_shard"), new_num_shards, cfg.doc_id_col),
        index_path,
        manifest,
        new_num_shards,
        counters=lambda: {"TIME_SPENT_RESHARDING_MS": _ms_since(t0)},
    )


def diff_indexes(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    compare_cols: list[str] | None = None,
) -> dict:
    """Doc-level diff of two built indexes (snapshot comparison): ids
    added in B, removed from B, and — when ``compare_cols`` is given —
    changed in place. The operational answer to "what did this
    rebuild actually change", which the reference cannot ask of its
    opaque Lucene snapshots at all.

    Plan shape: two shard-partitioned scans, one full-outer join on
    the doc id (both sides hash-partition on the same key), column
    comparison inside the join row — no collect, counts via one
    aggregate. Returns counts plus up-to-20 sample ids per class.

    Each side is read through ``read_index_latest`` (merge-on-read
    resolution), not raw parquet: on an index with pending upserts a
    raw scan yields one row per version — including tombstones — so
    the full-outer join would multiply rows and inflate every count.
    For a never-upserted index the resolved view IS the raw view
    (no _version column → passthrough), so this costs nothing."""
    man_a = read_manifest(path_a)
    idc = man_a["doc_id_col"]

    def _resolved(path: str) -> DataFrame:
        d = read_index_latest(spark, path)
        return d.drop(
            *[c for c in ("shard", UPSERT_VERSION_COL, UPSERT_OP_COL) if c in d.columns]
        )

    a = _resolved(path_a).alias("a")
    b = _resolved(path_b).alias("b")
    joined = a.join(b, F.col(f"a.{idc}") == F.col(f"b.{idc}"), "full")
    added = F.col(f"a.{idc}").isNull()
    removed = F.col(f"b.{idc}").isNull()
    if compare_cols:
        changed = ~added & ~removed & ~F.struct(
            *[F.col(f"a.{c}") for c in compare_cols]
        ).eqNullSafe(F.struct(*[F.col(f"b.{c}") for c in compare_cols]))
    else:
        changed = F.lit(False)
    counts = joined.agg(
        F.sum(added.cast("long")).alias("n_added"),
        F.sum(removed.cast("long")).alias("n_removed"),
        F.sum(changed.cast("long")).alias("n_changed"),
        F.sum((~added & ~removed & ~changed).cast("long")).alias("n_unchanged"),
    ).first()

    def _sample(cond, side):
        return [
            r[0]
            for r in joined.filter(cond)
            .select(F.col(f"{side}.{idc}"))
            .orderBy(F.col(f"{side}.{idc}"))
            .limit(20)
            .collect()
        ]

    return {
        "doc_id_col": idc,
        "n_added": int(counts["n_added"] or 0),
        "n_removed": int(counts["n_removed"] or 0),
        "n_changed": int(counts["n_changed"] or 0),
        "n_unchanged": int(counts["n_unchanged"] or 0),
        "sample_added": _sample(added, "b"),
        "sample_removed": _sample(removed, "a"),
        "sample_changed": _sample(changed, "a") if compare_cols else [],
    }


def vacuum_plan(
    spark: SparkSession, index_path: str, keep_versions: int = 1
) -> DataFrame:
    """Retention-aware VACUUM plan over the upsert log (the Delta/
    Iceberg lifecycle piece between upsert and copy-on-write
    compaction): a physical parquet file is removable iff EVERY row
    in it has a SUCCESSOR version at or below the retention fence
    (current_version − ``keep_versions``) — the precise condition
    under which no as-of read at any version >= fence can ever
    resolve to the row again ("shadowed AND old" is NOT sufficient: a
    v=1 row shadowed only by the newest version is still the as-of
    answer for every in-window version in between) — so time travel
    inside the retention window stays bit-exact while
    fully-superseded delta files stop costing scan and storage. Live tombstones are NOT removable (they still mask
    base rows until compaction). Returns one row per file:
    (file, n_rows, n_dead_under_fence, removable) — the report is the
    plan; ``apply_vacuum`` executes it. The per-file verdict is one
    groupBy over the resolved log — no driver-side row pulls."""
    manifest = read_manifest(index_path)
    df = read_index(spark, index_path, merge_schema=True)
    if UPSERT_VERSION_COL not in df.columns:
        return spark.createDataFrame(
            [],
            "file string, n_rows long, n_dead_under_fence long,"
            " removable boolean",
        )
    from pyspark.sql import Window as W

    idc = manifest["doc_id_col"]
    fence = int(manifest.get("version", 0)) - int(keep_versions)
    rows = df.select(
        F.input_file_name().alias("file"),
        F.col(idc).alias("_id"),
        F.coalesce(F.col(UPSERT_VERSION_COL), F.lit(0)).alias("_v"),
    )
    # one doc-keyed window; doc partitions are version-count-sized
    wv = W.partitionBy("_id").orderBy("_v")
    dead = rows.withColumn("_next_v", F.lead("_v").over(wv)).withColumn(
        "_dead",
        F.col("_next_v").isNotNull() & (F.col("_next_v") <= F.lit(fence)),
    )
    return (
        dead.groupBy("file")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("_dead").cast("int"))
            .cast("long")
            .alias("n_dead_under_fence"),
        )
        .withColumn(
            "removable", F.col("n_rows") == F.col("n_dead_under_fence")
        )
        .orderBy("file")
    )


def apply_vacuum(
    spark: SparkSession, index_path: str, keep_versions: int = 1
) -> dict:
    """Execute ``vacuum_plan``: delete fully-superseded delta files
    past the retention fence, record the action in the manifest
    (vacuumed_through + files_removed), and return the manifest.
    Reading `latest` (or any version within retention) is unchanged
    by construction; time travel BEYOND the fence is explicitly
    given up — the same contract as Delta's VACUUM."""
    import urllib.parse

    manifest = read_manifest(index_path)
    plan = vacuum_plan(spark, index_path, keep_versions=keep_versions)
    removable = [
        r["file"] for r in plan.filter(F.col("removable")).collect()
    ]
    n_bytes = 0
    for uri in removable:
        path = urllib.parse.urlparse(uri).path
        if os.path.exists(path):
            n_bytes += os.path.getsize(path)
            os.remove(path)
    if removable:
        # upserts keep the shard counts as a running total of written
        # rows: recount once, for the rows the deleted files took along
        manifest["shards"] = _recount_shards(spark, index_path, manifest)
    manifest["vacuumed_through"] = int(manifest.get("version", 0)) - int(
        keep_versions
    )
    manifest["vacuum_files_removed"] = len(removable)
    manifest["vacuum_bytes_reclaimed"] = n_bytes
    _write_manifest(index_path, manifest)
    return manifest


def read_index_changes(
    spark: SparkSession, index_path: str, from_version: int, to_version: int
) -> DataFrame:
    """CDC read over the upsert log (Delta's ``table_changes``): every
    upsert/delete row with ``from_version < _version <= to_version``,
    exposing the op column — the incremental-consumer API that lets a
    downstream index sync WITHOUT
    rescanning the base. The version fence filters on the raw column
    so parquet row-group stats skip out-of-range delta files
    entirely; base rows (NULL version) are never change rows."""
    df = read_index(spark, index_path, merge_schema=True)
    if UPSERT_VERSION_COL not in df.columns:
        return df.filter(F.lit(False))
    vc = F.col(UPSERT_VERSION_COL)
    return df.filter(
        vc.isNotNull()
        & (vc > F.lit(int(from_version)))
        & (vc <= F.lit(int(to_version)))
    )
