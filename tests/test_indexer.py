"""End-to-end index build → manifest → shard-pruned read-back
(reference pipeline §3.1-3.3 of SURVEY.md, on real sf0.001 data)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from elastic_freight_spark.indexer import (
    IndexConfig,
    build_index,
    read_index,
    read_manifest,
    read_shard,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))


def test_build_index_roundtrip(spark, events, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    cfg = IndexConfig(
        index_name="events_idx", doc_id_col="user_id", num_shards=8, output_path=out
    )
    manifest = build_index(events, cfg)

    total = events.count()
    assert manifest["counters"]["index_doc_created"] == total
    assert manifest["counters"]["indexing_doc_fail"] == 0
    assert sum(manifest["shards"].values()) == total
    assert set(manifest["shards"]) == {str(i) for i in range(8)}

    # restore == plain read; row parity
    restored = read_index(spark, manifest["path"])
    assert restored.count() == total
    assert read_manifest(manifest["path"])["index"] == "events_idx"

    # every doc of one user in exactly one shard
    multi = (
        restored.groupBy("user_id")
        .agg(F.countDistinct("shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi == 0


def test_shard_pruned_lookup(spark, events, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx2"))
    cfg = IndexConfig(
        index_name="ev", doc_id_col="user_id", num_shards=8, output_path=out, routing="lcg"
    )
    manifest = build_index(events, cfg)
    some_id = events.select("user_id").first()["user_id"]

    hits = read_shard(spark, manifest["path"], some_id)
    expected = events.filter(F.col("user_id") == some_id).count()
    assert hits.count() == expected > 0
    # the physical plan must contain a partition filter on `shard`
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan


def test_missing_shards_filled(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx3"))
    # 2 distinct ids into 16 shards -> most shards empty
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "payload"])
    cfg = IndexConfig(
        index_name="sparse", doc_id_col="doc_id", num_shards=16, output_path=out
    )
    manifest = build_index(df, cfg)
    assert len(manifest["missing_shards_filled"]) >= 14
    assert set(manifest["shards"]) == {str(i) for i in range(16)}
    assert read_index(spark, manifest["path"]).count() == 2


def test_null_ids_counted_not_fatal(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx4"))
    df = spark.createDataFrame(
        [(None, "x"), (1, "a"), (None, "y"), (2, "b")], ["doc_id", "payload"]
    )
    cfg = IndexConfig(index_name="nulls", doc_id_col="doc_id", num_shards=4, output_path=out)
    manifest = build_index(df, cfg)
    assert manifest["counters"]["index_doc_created"] == 2
    assert manifest["counters"]["indexing_doc_fail"] == 2


# --- engine facade --------------------------------------------------------


def test_engine_facade_end_to_end(spark, tmp_path_factory):
    from elastic_freight_spark.engine import EFSEngine

    eng = EFSEngine("/root/testdata/sf0.001", spark=spark)
    assert eng.sql("SELECT count(*) AS n FROM lineitem").first()["n"] > 0

    out = str(tmp_path_factory.mktemp("eng_idx"))
    man = eng.index(
        eng.table("events"),
        index_name="ev_eng",
        doc_id_col="user_id",
        num_shards=4,
        output_path=out,
    )
    assert man["counters"]["index_doc_created"] == eng.table("events").count()
    restored = eng.restore(man["path"])
    assert restored.count() == man["counters"]["index_doc_created"]

    uid = eng.table("events").select("user_id").first()["user_id"]
    hit = eng.lookup(man["path"], uid)
    assert hit.count() >= 1
    assert set(eng.manifest(man["path"])["shards"]) == {"0", "1", "2", "3"}

    assert "q1_pricing_summary" in eng.query_names
    assert eng.query("q6_revenue_change", "/root/testdata/sf0.001").count() == 1


def test_index_empty_input_fills_all_shards(spark, tmp_path_factory):
    from pyspark.sql.types import StructType

    from elastic_freight_spark.indexer import IndexConfig, build_index

    schema = "user_id long, value double"
    empty = spark.createDataFrame([], schema)
    out = str(tmp_path_factory.mktemp("empty_idx"))
    man = build_index(
        empty,
        IndexConfig(index_name="e", doc_id_col="user_id", num_shards=4, output_path=out),
    )
    assert man["counters"]["index_doc_created"] == 0
    assert man["missing_shards_filled"] == [0, 1, 2, 3]
    assert spark.read.parquet(man["path"]).count() == 0


def test_index_all_null_ids_counted_failed(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from elastic_freight_spark.indexer import IndexConfig, build_index

    df = spark.range(50).select(F.lit(None).cast("long").alias("user_id"), "id")
    out = str(tmp_path_factory.mktemp("null_idx"))
    man = build_index(
        df,
        IndexConfig(index_name="n", doc_id_col="user_id", num_shards=4, output_path=out),
    )
    assert man["counters"]["index_doc_created"] == 0
    assert man["counters"]["indexing_doc_fail"] == 50


def test_index_unicode_doc_ids_roundtrip(spark, tmp_path_factory):
    from elastic_freight_spark.indexer import IndexConfig, build_index, read_shard

    ids = ["日本語", "ключ", "clé-ñ", "🙂🙃", "a|b|c", ""]
    df = spark.createDataFrame([(i, n) for n, i in enumerate(ids)], "doc string, n long")
    out = str(tmp_path_factory.mktemp("uni_idx"))
    man = build_index(
        df,
        IndexConfig(index_name="u", doc_id_col="doc", num_shards=3, output_path=out),
    )
    assert man["counters"]["index_doc_created"] == len(ids)
    for i in ids:
        hit = read_shard(spark, man["path"], i)
        assert hit.count() == 1, f"lookup failed for {i!r}"


def test_sort_within_shard_orders_files(spark, tmp_path_factory):
    import pyarrow.parquet as pq
    import glob

    from elastic_freight_spark.indexer import IndexConfig, build_index
    from elastic_freight_spark.session import load_tables

    events = load_tables(spark, "/root/testdata/sf0.001")["events"]
    out = str(tmp_path_factory.mktemp("sorted_idx"))
    man = build_index(
        events,
        IndexConfig(
            index_name="s",
            doc_id_col="user_id",
            num_shards=4,
            output_path=out,
            sort_within_shard=["user_id", "ts"],
        ),
    )
    files = glob.glob(f"{man['path']}/shard=*/*.parquet")
    assert files
    for f in files[:4]:
        col = pq.read_table(f, columns=["user_id"])["user_id"].to_pylist()
        assert col == sorted(col)


def test_compact_index_folds_files_preserves_data(spark, tmp_path_factory):
    import glob

    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_index,
        compact_index,
        read_index,
    )
    from elastic_freight_spark.session import load_tables

    events = load_tables(spark, "/root/testdata/sf0.001")["events"]
    out = str(tmp_path_factory.mktemp("compact_idx"))
    cfg = IndexConfig(
        index_name="c", doc_id_col="user_id", num_shards=4, output_path=out,
        max_records_per_file=50,  # deliberately fragment into many files
    )
    man = build_index(events, cfg)
    before = read_index(spark, man["path"]).orderBy("event_id").collect()
    n_files_before = len(glob.glob(f"{man['path']}/shard=*/*.parquet"))

    man2 = compact_index(spark, man["path"], target_files_per_shard=1)
    n_files_after = len(glob.glob(f"{man['path']}/shard=*/*.parquet"))
    assert n_files_after < n_files_before
    assert n_files_after <= 4 * 2  # ~1 file per shard (hash collisions allow 2)
    after = read_index(spark, man["path"]).orderBy("event_id").collect()
    assert after == before
    assert man2["compacted"] is True
    assert {int(k) for k in man2["shards"]} == {0, 1, 2, 3}


def test_range_index_prunes_shards_for_range_scan(spark, tmp_path_factory):
    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_range_index,
        read_doc_range,
        read_index,
    )
    from elastic_freight_spark.plans import (
        assert_partition_pruned,
        execution_metrics,
        summarize,
    )
    from elastic_freight_spark.session import load_tables

    events = load_tables(spark, "/root/testdata/sf0.01")["events"]
    out = str(tmp_path_factory.mktemp("range_idx"))
    man = build_range_index(
        events,
        IndexConfig(
            index_name="r", doc_id_col="event_id", num_shards=8, output_path=out
        ),
    )
    assert len(man["range_bounds"]) == 7
    # shards hold non-overlapping contiguous ranges
    from pyspark.sql import functions as F

    stats = (
        read_index(spark, man["path"])
        .groupBy("shard")
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .orderBy("shard")
        .collect()
    )
    for prev, cur in zip(stats, stats[1:]):
        assert prev["hi"] < cur["lo"]

    # a narrow range scan reads a strict subset of shard files
    total_files = summarize(
        execution_metrics(read_index(spark, man["path"]))
    )["scan_files"]
    narrow = read_doc_range(spark, man["path"], 100, 200)
    assert_partition_pruned(narrow, "shard")
    s = summarize(execution_metrics(narrow))
    assert 0 < s["scan_files"] < total_files
    # correctness: same rows as a full-scan filter
    want = events.filter((F.col("event_id") >= 100) & (F.col("event_id") <= 200)).count()
    assert narrow.count() == want


def test_lcg_routing_rejects_string_ids(spark, tmp_path_factory):
    import pytest as _pytest

    from elastic_freight_spark.indexer import IndexConfig, build_index

    df = spark.createDataFrame([("a", 1), ("b", 2)], "doc string, n long")
    with _pytest.raises(ValueError) as exc:
        build_index(
            df,
            IndexConfig(
                index_name="x", doc_id_col="doc", num_shards=2,
                output_path=str(tmp_path_factory.mktemp("lcg_bad")), routing="lcg",
            ),
        )
    assert "numeric" in str(exc.value)


def test_cluster_conf_shapes(spark):
    from elastic_freight_spark.session import cluster_conf

    conf = cluster_conf(executors=250, cores_per_executor=4)
    assert conf["spark.sql.shuffle.partitions"] == "3000"
    assert conf["spark.executor.memory"] == "16g"
    assert "RocksDB" in conf["spark.sql.streaming.stateStore.providerClass"]


def test_compact_index_multi_file_target(spark, tmp_path_factory):
    import glob

    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_index,
        compact_index,
        read_index,
    )
    from elastic_freight_spark.session import load_tables

    events = load_tables(spark, "/root/testdata/sf0.01")["events"]
    out = str(tmp_path_factory.mktemp("compact_multi"))
    man = build_index(
        events,
        IndexConfig(
            index_name="cm", doc_id_col="user_id", num_shards=2, output_path=out,
            max_records_per_file=500,
        ),
    )
    before = read_index(spark, man["path"]).count()
    compact_index(spark, man["path"], target_files_per_shard=3)
    per_shard = {}
    for f in glob.glob(f"{man['path']}/shard=*/*.parquet"):
        shard = f.split("shard=")[1].split("/")[0]
        per_shard[shard] = per_shard.get(shard, 0) + 1
    # each shard actually split across >1 file (salting worked)
    assert all(1 < n <= 4 for n in per_shard.values()), per_shard
    assert read_index(spark, man["path"]).count() == before


def test_shard_config_per_index_counts():
    from elastic_freight_spark.indexer import ShardConfig

    sc = ShardConfig({"big": 32, "mid": 8}, default_shards=4)
    assert sc.shards_for("big") == 32
    assert sc.shards_for("mid") == 8
    assert sc.shards_for("anything_else") == 4
    assert ShardConfig().shards_for("x") == 1  # reference default


def test_index_config_resolves_shards_from_shard_config():
    from elastic_freight_spark.indexer import ShardConfig

    sc = ShardConfig({"orders_idx": 8}, default_shards=4)
    cfg = IndexConfig("orders_idx", "id", None, "/tmp/x", shard_config=sc)
    assert cfg.num_shards == 8
    cfg2 = IndexConfig("other_idx", "id", None, "/tmp/x", shard_config=sc)
    assert cfg2.num_shards == 4
    with pytest.raises(ValueError):
        IndexConfig("no_config", "id", None, "/tmp/x")


def test_build_indexes_merged_catalog_roundtrip(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import (
        ShardConfig,
        build_indexes,
        read_catalog,
        restore_catalog_index,
    )

    out = str(tmp_path_factory.mktemp("cat"))
    evens = events.filter(F.col("user_id") % 2 == 0)
    odds = events.filter(F.col("user_id") % 2 == 1)
    cat = build_indexes(
        {"ev_idx": evens, "od_idx": odds},
        doc_id_col="user_id",
        output_path=out,
        shard_config=ShardConfig({"ev_idx": 8}, default_shards=4),
    )
    assert set(cat["indices"]) == {"ev_idx", "od_idx"}
    assert cat["indices"]["ev_idx"]["num_shards"] == 8
    assert cat["indices"]["od_idx"]["num_shards"] == 4
    total = events.count()
    assert cat["counters"]["index_doc_created"] == total
    # the catalog on disk equals the returned one
    assert read_catalog(out) == cat
    # restore each index through the catalog; union re-covers the input
    n_ev = restore_catalog_index(spark, out, "ev_idx").count()
    n_od = restore_catalog_index(spark, out, "od_idx").count()
    assert n_ev + n_od == total
    # every shard dir exists (restorability — the post-processor's
    # whole reason: ES refuses a restore with absent shards)
    for name, entry in cat["indices"].items():
        assert set(entry["shards"]) == {str(i) for i in range(entry["num_shards"])}


def test_merge_manifests_dedupes_and_widens_shards(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import (
        ShardConfig,
        merge_manifests,
        read_index,
    )

    out = str(tmp_path_factory.mktemp("widen"))
    cfg = IndexConfig("small_idx", "user_id", 2, out)
    m = build_index(events.limit(50), cfg)
    # duplicate listing de-dupes; shard_config widens 2 → 6 and the
    # merge fills the 4 new empty shards
    cat = merge_manifests(
        [m["path"], m["path"]],
        out,
        spark=spark,
        shard_config=ShardConfig(default_shards=6),
    )
    entry = cat["indices"]["small_idx"]
    assert entry["num_shards"] == 6
    assert set(entry["shards"]) == {str(i) for i in range(6)}
    assert cat["missing_shards_filled"]["small_idx"] == [2, 3, 4, 5]
    # the widened index still restores (all shard dirs readable)
    assert read_index(spark, m["path"]).count() == 50


def test_merge_manifests_conflicting_paths_rejected(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import merge_manifests

    out_a = str(tmp_path_factory.mktemp("a"))
    out_b = str(tmp_path_factory.mktemp("b"))
    ma = build_index(events.limit(10), IndexConfig("dup_idx", "user_id", 2, out_a))
    mb = build_index(events.limit(10), IndexConfig("dup_idx", "user_id", 2, out_b))
    with pytest.raises(ValueError, match="two paths"):
        merge_manifests([ma["path"], mb["path"]], out_a)


def test_manifest_phase_timing_counters(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import (
        COUNTER_T_FILLING,
        COUNTER_T_INDEXING,
        COUNTER_T_MANIFESTING,
        COUNTER_T_MERGING,
        compact_index,
    )

    out = str(tmp_path_factory.mktemp("timed"))
    cfg = IndexConfig("timed_idx", "user_id", 4, out)
    m = build_index(events, cfg)
    c = m["counters"]
    for key in (COUNTER_T_INDEXING, COUNTER_T_MANIFESTING, COUNTER_T_FILLING):
        assert key in c, key
    assert c[COUNTER_T_INDEXING] > 0
    assert c[COUNTER_T_MANIFESTING] > 0
    # persisted in the on-disk manifest too
    assert read_manifest(m["path"])["counters"][COUNTER_T_INDEXING] > 0

    m2 = compact_index(spark, m["path"])
    assert m2["counters"][COUNTER_T_MERGING] > 0
    assert read_manifest(m["path"])["counters"][COUNTER_T_MERGING] > 0


def test_compact_crash_recovery(spark, events, tmp_path_factory):
    """The swap window: if a crash leaves no live dir but an .old,
    recover_compact restores it; leftovers after a completed swap are
    cleared; data survives either way."""
    import shutil

    from elastic_freight_spark.indexer import recover_compact

    out = str(tmp_path_factory.mktemp("crash"))
    cfg = IndexConfig("crash_idx", "user_id", 2, out)
    m = build_index(events.limit(100), cfg)
    path = m["path"]

    # simulate a crash between the two renames: live dir moved to
    # .old, new tree never moved in
    os.rename(path, path + ".old")
    assert recover_compact(path) == "restored"
    assert read_index(spark, path).count() == 100

    # leftover .compacting/.old next to a live index are cleared
    shutil.copytree(path, path + ".old")
    shutil.copytree(path, path + ".compacting")
    assert recover_compact(path) == "ok"
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".compacting")
    assert recover_compact(str(tmp_path_factory.mktemp("nope")) + "/gone") == "missing"


def test_upsert_merge_on_read_and_compaction(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import (
        compact_index_upserts,
        read_index_latest,
        read_manifest,
        upsert_index,
    )

    out = str(tmp_path_factory.mktemp("ups"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(base, IndexConfig("ups_idx", "user_id", 4, out, routing="lcg"))
    n_users = base.count()

    # v1: update a third of the users
    upd = base.filter(F.col("user_id") % 3 == 0).withColumn("n", F.col("n") + 1000)
    man1 = upsert_index(upd, man["path"])
    assert man1["version"] == 1
    # v2: tombstone a disjoint-ish slice
    dele = base.filter(F.col("user_id") % 5 == 1).select("user_id")
    man2 = upsert_index(dele, man["path"], delete=True)
    assert man2["version"] == 2

    latest = read_index_latest(spark, man["path"])
    got = {r["user_id"]: r["n"] for r in latest.collect()}
    want = {}
    for r in base.collect():
        uid, n = r["user_id"], r["n"]
        if uid % 5 == 1:
            continue
        want[uid] = n + 1000 if uid % 3 == 0 else n
    assert got == want
    # physical rows exceed logical until compaction
    assert read_index(spark, man["path"]).count() > len(want)

    man3 = compact_index_upserts(spark, man["path"])
    assert man3["compacted_upserts_through"] == 2
    plain = read_index(spark, man["path"])
    assert "_version" not in plain.columns
    assert {r["user_id"]: r["n"] for r in plain.collect()} == want
    # shard partitioning preserved, manifest consistent
    assert sum(read_manifest(man["path"])["shards"].values()) == len(want)
    # upsert after compaction keeps working (version counter persists)
    man4 = upsert_index(
        base.filter(F.col("user_id") == list(want)[0]).select("user_id"),
        man["path"],
        delete=True,
    )
    assert man4["version"] == 3
    assert read_index_latest(spark, man["path"]).count() == len(want) - 1
    assert n_users == len(want) + base.filter(F.col("user_id") % 5 == 1).count()


def test_read_index_merge_schema_evolution(spark, tmp_path_factory):
    """Shards written at different schema versions (a later batch
    added a column) must read back as the union schema with nulls for
    the old shards — the dynamic-mapping analogue for an
    incrementally-built index."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.indexer import IndexConfig, build_index, read_index

    out = str(tmp_path_factory.mktemp("evo_idx"))
    v1 = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("v1").alias("payload")
    )
    build_index(
        v1,
        IndexConfig(
            index_name="evo", doc_id_col="doc_id", num_shards=4, output_path=out
        ),
    )
    # a later writer appends a shard-partitioned batch with an extra column
    v2 = spark.range(100, 150).select(
        F.col("id").alias("doc_id"),
        F.lit("v2").alias("payload"),
        F.lit(7).alias("quality"),
    )
    v2.withColumn(
        "shard", F.pmod(F.hash(F.col("doc_id").cast("string")), F.lit(4))
    ).write.mode("append").partitionBy("shard").parquet(f"{out}/evo")

    full = read_index(spark, f"{out}/evo", merge_schema=True)
    assert "quality" in full.columns
    assert full.count() == 150
    assert full.filter(F.col("quality").isNull()).count() == 100
    assert full.filter(F.col("quality") == 7).count() == 50


def test_alias_blue_green_flip(spark, tmp_path_factory):
    """Readers address the alias; a rebuild publishes by atomically
    repointing it — old readers' DataFrames keep their bound path,
    new reads see the new build."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_index,
        read_alias,
        resolve_alias,
        set_alias,
    )

    base = str(tmp_path_factory.mktemp("alias_base"))
    df_v1 = spark.range(0, 80).select(
        F.col("id").alias("doc_id"), F.lit("blue").alias("color")
    )
    df_v2 = spark.range(0, 120).select(
        F.col("id").alias("doc_id"), F.lit("green").alias("color")
    )
    for name, df in (("docs_v1", df_v1), ("docs_v2", df_v2)):
        build_index(
            df,
            IndexConfig(
                index_name=name, doc_id_col="doc_id", num_shards=4, output_path=base
            ),
        )
    set_alias(base, "docs", f"{base}/docs_v1")
    assert read_alias(spark, base, "docs").count() == 80
    # zero-downtime publish: flip to the validated new build
    set_alias(base, "docs", f"{base}/docs_v2")
    assert resolve_alias(base, "docs").endswith("docs_v2")
    got = read_alias(spark, base, "docs")
    assert got.count() == 120
    assert got.select("color").distinct().first()["color"] == "green"


def test_build_index_zero_row_input(spark, tmp_path_factory):
    """A build whose input is empty (or all-null ids) must still
    produce a restorable index: every shard directory exists (filled
    empty), the manifest records 0 created docs, and read-back gives
    an empty frame with the right schema."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_index,
        read_index,
    )

    out = str(tmp_path_factory.mktemp("zero_idx"))
    empty = spark.range(0, 5).select(
        F.lit(None).cast("long").alias("doc_id"), F.col("id").alias("v")
    )
    man = build_index(
        empty,
        IndexConfig(
            index_name="zero", doc_id_col="doc_id", num_shards=4, output_path=out
        ),
    )
    assert man["counters"]["index_doc_created"] == 0
    assert man["counters"]["indexing_doc_fail"] == 5
    assert set(man["shards"]) == {"0", "1", "2", "3"}
    assert all(v == 0 for v in man["shards"].values())
    restored = read_index(spark, f"{out}/zero")
    assert restored.count() == 0
    assert "doc_id" in restored.columns


def test_read_index_asof_time_travel(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import read_index_asof, upsert_index

    out = str(tmp_path_factory.mktemp("asof"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(base, IndexConfig("asof_idx", "user_id", 4, out, routing="lcg"))

    upd = base.filter(F.col("user_id") % 3 == 0).withColumn("n", F.col("n") + 1000)
    upsert_index(upd, man["path"])                                   # v1
    dele = base.filter(F.col("user_id") % 5 == 1).select("user_id")
    upsert_index(dele, man["path"], delete=True)                     # v2

    base_rows = {r["user_id"]: r["n"] for r in base.collect()}

    # as-of 0: exactly the base build
    v0 = {r["user_id"]: r["n"] for r in read_index_asof(spark, man["path"], 0).collect()}
    assert v0 == base_rows

    # as-of 1: updates applied, deletes not yet
    v1 = {r["user_id"]: r["n"] for r in read_index_asof(spark, man["path"], 1).collect()}
    assert v1 == {
        u: n + 1000 if u % 3 == 0 else n for u, n in base_rows.items()
    }

    # as-of 2 == latest: deletes applied too
    from elastic_freight_spark.indexer import read_index_latest

    v2 = {r["user_id"]: r["n"] for r in read_index_asof(spark, man["path"], 2).collect()}
    latest = {r["user_id"]: r["n"] for r in read_index_latest(spark, man["path"]).collect()}
    assert v2 == latest
    assert set(base_rows) - set(v2) == {u for u in base_rows if u % 5 == 1}

    # the version fence must prune delta rows before the resolve window:
    # the _version predicate has to reach the parquet scan's pushed
    # filters (plan strings print top-down, so the scan — and its
    # PushedFilters — appears after the Window operator).
    import re

    plan = read_index_asof(spark, man["path"], 1)._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("_version" in p for p in pushed), plan
    assert "Window" in plan and plan.index("Window") < max(
        plan.index("PushedFilters: [" + p) for p in pushed if "_version" in p
    ), plan


def test_engine_facade_upsert_and_time_travel(spark, tmp_path_factory):
    from elastic_freight_spark.engine import EFSEngine

    eng = EFSEngine("/root/testdata/sf0.001", spark=spark)
    out = str(tmp_path_factory.mktemp("eng_ups"))
    base = eng.table("events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = eng.index(
        base,
        index_name="ev_ups",
        doc_id_col="user_id",
        num_shards=4,
        output_path=out,
        routing="lcg",
    )
    n0 = base.count()
    man1 = eng.upsert(
        base.limit(5).select("user_id"), man["path"], delete=True
    )
    assert man1["version"] == 1
    assert eng.restore_latest(man["path"]).count() == n0 - 5
    assert eng.restore_asof(man["path"], 0).count() == n0


def test_reshard_index_roundtrip(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import read_shard, reshard_index

    out = str(tmp_path_factory.mktemp("reshard"))
    man = build_index(
        events, IndexConfig("rs_idx", "user_id", 4, out, routing="lcg")
    )
    n = sum(man["shards"].values())

    man2 = reshard_index(spark, man["path"], 8)
    assert man2["num_shards"] == 8 and man2["resharded_from"] == 4
    assert sum(man2["shards"].values()) == n          # no rows lost
    assert 0 < man2["moved_fraction"] <= 1
    assert man2["counters"]["TIME_SPENT_RESHARDING_MS"] > 0

    # shard-pruned lookups still work against the new layout
    uid = events.select("user_id").first()["user_id"]
    assert read_shard(spark, man["path"], uid).count() >= 1


def test_diff_indexes_added_removed_changed(spark, events, tmp_path_factory):
    from elastic_freight_spark.indexer import diff_indexes

    out_a = str(tmp_path_factory.mktemp("diff_a"))
    out_b = str(tmp_path_factory.mktemp("diff_b"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    man_a = build_index(
        base.filter(F.col("user_id") % 7 != 0),  # A misses the 7-multiples
        IndexConfig("d_idx", "user_id", 4, out_a, routing="lcg"),
    )
    mutated = base.filter(F.col("user_id") % 5 != 1).withColumn(
        "n",
        F.when(F.col("user_id") % 3 == 0, F.col("n") + 1000).otherwise(F.col("n")),
    )  # B misses the 5k+1 ids, mutates the 3-multiples
    man_b = build_index(
        mutated, IndexConfig("d_idx", "user_id", 4, out_b, routing="lcg")
    )

    d = diff_indexes(spark, man_a["path"], man_b["path"], compare_cols=["n"])
    ids = {r["user_id"] for r in base.collect()}
    in_a = {u for u in ids if u % 7 != 0}
    in_b = {u for u in ids if u % 5 != 1}
    assert d["n_added"] == len(in_b - in_a)
    assert d["n_removed"] == len(in_a - in_b)
    both = in_a & in_b
    assert d["n_changed"] == len({u for u in both if u % 3 == 0})
    assert d["n_unchanged"] == len({u for u in both if u % 3 != 0})
    assert d["sample_added"] == sorted(in_b - in_a)[:20]


def test_reshard_preserves_upsert_log(spark, events, tmp_path_factory):
    """Regression: reshard_index must read with mergeSchema so pending
    upsert deltas keep their _version/_op stamps through the reshuffle
    — a plain read strips them, resurrecting tombstoned docs and
    duplicating superseded versions on the next merge-on-read."""
    from elastic_freight_spark.indexer import (
        read_index_asof,
        read_index_latest,
        reshard_index,
        upsert_index,
    )

    out = str(tmp_path_factory.mktemp("reshard_up"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(base, IndexConfig("ru_idx", "user_id", 4, out, routing="lcg"))

    upd = base.filter(F.col("user_id") % 3 == 0).withColumn("n", F.col("n") + 1000)
    upsert_index(upd, man["path"])                                   # v1
    dele = base.filter(F.col("user_id") % 5 == 1).select("user_id")
    upsert_index(dele, man["path"], delete=True)                     # v2

    want = {
        r["user_id"]: r["n"] for r in read_index_latest(spark, man["path"]).collect()
    }
    reshard_index(spark, man["path"], 8)

    got = {
        r["user_id"]: r["n"] for r in read_index_latest(spark, man["path"]).collect()
    }
    assert got == want  # tombstones stay dead, updates stay applied, no dups
    # time travel still resolves through the resharded layout
    base_rows = {r["user_id"]: r["n"] for r in base.collect()}
    v1 = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 1).collect()
    }
    assert v1 == {u: n + 1000 if u % 3 == 0 else n for u, n in base_rows.items()}


def test_diff_indexes_resolves_pending_upserts(spark, events, tmp_path_factory):
    """Regression: diff_indexes must diff the RESOLVED views — on an
    index with pending upserts a raw scan yields one row per version
    (including tombstones), multiplying join rows and inflating every
    count."""
    from elastic_freight_spark.indexer import diff_indexes, upsert_index

    out_a = str(tmp_path_factory.mktemp("diffu_a"))
    out_b = str(tmp_path_factory.mktemp("diffu_b"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    man_a = build_index(base, IndexConfig("du_idx", "user_id", 4, out_a, routing="lcg"))
    man_b = build_index(base, IndexConfig("du_idx", "user_id", 4, out_b, routing="lcg"))
    # B accrues an upsert log: mutate the 3-multiples (v1), tombstone
    # the 5k+1 ids (v2) — diff must see the resolved state, once each.
    upd = base.filter(F.col("user_id") % 3 == 0).withColumn("n", F.col("n") + 1000)
    upsert_index(upd, man_b["path"])
    dele = base.filter(F.col("user_id") % 5 == 1).select("user_id")
    upsert_index(dele, man_b["path"], delete=True)

    d = diff_indexes(spark, man_a["path"], man_b["path"], compare_cols=["n"])
    ids = {r["user_id"] for r in base.collect()}
    gone = {u for u in ids if u % 5 == 1}
    changed = {u for u in ids - gone if u % 3 == 0}
    assert d["n_added"] == 0
    assert d["n_removed"] == len(gone)
    assert d["n_changed"] == len(changed)
    assert d["n_unchanged"] == len(ids - gone - changed)
    assert d["sample_removed"] == sorted(gone)[:20]


def test_engine_blue_green_publish_cycle(spark, events, tmp_path_factory):
    """Drive EFSEngine through a full operational cycle: build →
    publish v1 → serve → upsert the live index → rebuild (blue/green)
    → publish v2 → serve flips atomically to the new build with zero
    read errors, and the old build stays readable for rollback."""
    from elastic_freight_spark.engine import EFSEngine

    eng = EFSEngine(spark=spark)
    base_dir = str(tmp_path_factory.mktemp("bluegreen"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    # --- blue: initial build + publish -----------------------------------
    man_v1 = eng.index(
        base,
        index_name="bg_v1",
        doc_id_col="user_id",
        num_shards=4,
        output_path=base_dir,
        routing="lcg",
    )
    eng.publish(base_dir, "live", man_v1["path"])
    served = eng.serve(base_dir, "live")
    n_total = base.count()
    assert served.count() == n_total

    # --- mutate the live index via the upsert log ------------------------
    upd = base.filter(F.col("user_id") % 3 == 0).withColumn("n", F.col("n") + 1000)
    eng.upsert(upd, man_v1["path"])
    live_resolved = eng.restore_latest(man_v1["path"])
    assert live_resolved.filter(F.col("n") > 1000).count() == upd.count()

    # --- green: rebuild from the resolved view, validate, publish --------
    man_v2 = eng.index(
        live_resolved.select("user_id", "n"),
        index_name="bg_v2",
        doc_id_col="user_id",
        num_shards=4,
        output_path=base_dir,
        routing="lcg",
    )
    # validate the candidate BEFORE the flip (the blue/green contract)
    assert eng.restore(man_v2["path"]).count() == n_total
    eng.publish(base_dir, "live", man_v2["path"])

    flipped = eng.serve(base_dir, "live")
    assert flipped.count() == n_total
    # v2 is compacted: merge-on-read columns are gone, updates applied
    assert "_version" not in flipped.columns
    want = {
        r["user_id"]: r["n"] + 1000 if r["user_id"] % 3 == 0 else r["n"]
        for r in base.collect()
    }
    got = {r["user_id"]: r["n"] for r in flipped.collect()}
    assert got == want
    # rollback path: the old build is still readable under its own path
    assert eng.restore_latest(man_v1["path"]).count() == n_total
    # and re-publishing v1 flips back
    eng.publish(base_dir, "live", man_v1["path"])
    assert eng.serve(base_dir, "live").count() >= n_total


def test_index_scd2_history_tiles_timeline_and_matches_recompute(spark):
    """SCD2 invariants per user — versions tile the timeline
    (valid_to == next valid_from), exactly one open/current row, no
    consecutive rows with the same state — plus a full plain-Python
    recompute."""
    from collections import defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    per_user = defaultdict(list)
    for r in registry.QUERIES["index_scd2_history"](spark, sf).collect():
        per_user[r["user_id"]].append(
            (r["valid_from_us"], r["valid_to_us"], r["state"], r["is_current"])
        )
    events = defaultdict(list)
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS s", "event_type")
        .collect()
    ):
        events[row["user_id"]].append((row["s"], row["event_id"], row["event_type"]))
    assert set(per_user) == set(events)
    for uid, vs in per_user.items():
        assert [v[:2] for v in vs] == sorted(v[:2] for v in vs)
        assert sum(v[3] for v in vs) == 1 and vs[-1][3] == 1
        assert vs[-1][1] is None
        for a, b in zip(vs, vs[1:]):
            assert a[1] == b[0]  # tiling
            assert a[2] != b[2]  # real change
        seq = sorted(events[uid])
        want = []
        for s, _eid, typ in seq:
            if not want or want[-1][1] != typ:
                want.append((s, typ))
        assert [(v[0], v[2]) for v in vs] == want
        assert vs[0][0] == seq[0][0]


def test_vacuum_removes_only_fully_superseded_files(
    spark, events, tmp_path_factory
):
    """Retention-aware VACUUM: v1 delta files fully shadowed by v2
    become removable at keep_versions=0; base files (live rows) and
    v2 files (newest versions) never do; reading latest is unchanged
    after apply."""
    from elastic_freight_spark.indexer import (
        apply_vacuum,
        read_index_latest,
        read_manifest,
        upsert_index,
        vacuum_plan,
    )

    out = str(tmp_path_factory.mktemp("vac"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(
        base, IndexConfig("vac_idx", "user_id", 4, out, routing="lcg")
    )
    # v1 and v2 update the SAME user slice → v1 is fully superseded
    upd = base.filter(F.col("user_id") % 3 == 0)
    upsert_index(upd.withColumn("n", F.col("n") + 100), man["path"])
    upsert_index(upd.withColumn("n", F.col("n") + 200), man["path"])

    before = {
        r["user_id"]: r["n"]
        for r in read_index_latest(spark, man["path"]).collect()
    }

    # successor rule sanity: keep_versions=1 (fence=1) reclaims
    # NOTHING — v1 rows' successor is v2 > fence, and they are the
    # as-of(1) answers
    assert (
        vacuum_plan(spark, man["path"], keep_versions=1)
        .filter(F.col("removable"))
        .count()
        == 0
    )
    # keep_versions=0 (fence=2): v1 delta files and base files whose
    # every row has a v1 successor become removable; v2 never
    plan = vacuum_plan(spark, man["path"], keep_versions=0)
    rem = plan.filter(F.col("removable")).collect()
    assert rem, "v1 delta files should be removable"
    assert all(r["n_rows"] == r["n_dead_under_fence"] for r in rem)
    # no base file is removable (unshadowed users live there)
    nonrem = plan.filter(~F.col("removable")).collect()
    assert nonrem

    man2 = apply_vacuum(spark, man["path"], keep_versions=0)
    assert man2["vacuum_files_removed"] == len(rem)
    assert man2["vacuum_bytes_reclaimed"] > 0
    after = {
        r["user_id"]: r["n"]
        for r in read_index_latest(spark, man["path"]).collect()
    }
    assert after == before
    # a second vacuum finds nothing new
    plan2 = vacuum_plan(spark, man["path"], keep_versions=0)
    assert plan2.filter(F.col("removable")).count() == 0


def test_read_index_changes_is_exact_cdc_slice(
    spark, events, tmp_path_factory
):
    from elastic_freight_spark.indexer import (
        read_index_changes,
        upsert_index,
    )

    out = str(tmp_path_factory.mktemp("cdc"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(
        base, IndexConfig("cdc_idx", "user_id", 4, out, routing="lcg")
    )
    u1 = base.filter(F.col("user_id") % 3 == 0).withColumn(
        "n", F.col("n") + 1
    )
    upsert_index(u1, man["path"])
    d2 = base.filter(F.col("user_id") % 7 == 2).select("user_id")
    upsert_index(d2, man["path"], delete=True)

    # slice (0, 1]: exactly the v1 upserts
    c1 = read_index_changes(spark, man["path"], 0, 1)
    assert c1.count() == u1.count()
    assert set(r["_op"] for r in c1.select("_op").distinct().collect()) == {"u"}
    # slice (1, 2]: exactly the tombstones
    c2 = read_index_changes(spark, man["path"], 1, 2).collect()
    assert len(c2) == d2.count()
    assert all(r["_op"] == "d" for r in c2)
    # full slice = union; empty slice beyond head
    assert read_index_changes(spark, man["path"], 0, 2).count() == len(
        c2
    ) + u1.count()
    assert read_index_changes(spark, man["path"], 2, 9).count() == 0


def test_vacuum_preserves_time_travel_within_retention(
    spark, events, tmp_path_factory
):
    """VACUUM's contract: any as-of read WITHIN keep_versions is
    bit-identical after the vacuum; only versions beyond the fence
    lose replayability."""
    from elastic_freight_spark.indexer import (
        apply_vacuum,
        read_index_asof,
        upsert_index,
    )

    out = str(tmp_path_factory.mktemp("vacttl"))
    base = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    man = build_index(
        base, IndexConfig("vttl_idx", "user_id", 4, out, routing="lcg")
    )
    upd = base.filter(F.col("user_id") % 2 == 0)
    # three versions over the same slice: v1, v2, v3
    for bump in (10, 20, 30):
        upsert_index(upd.withColumn("n", F.col("n") + bump), man["path"])

    asof2_before = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 2).collect()
    }
    asof3_before = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 3).collect()
    }
    # keep_versions=1 → fence at 2. Successor rule: v1 rows (next
    # version 2 <= fence) are removable; v2 rows (next version 3 >
    # fence) are NOT — they are the as-of answer at the fence
    # version. So BOTH as-of(2) and as-of(3) stay bit-exact.
    apply_vacuum(spark, man["path"], keep_versions=1)
    asof3_after = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 3).collect()
    }
    assert asof3_after == asof3_before
    asof2_after = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 2).collect()
    }
    assert asof2_after == asof2_before
    # as-of(1) is explicitly beyond retention: the updated docs lost
    # their base+v1 rows (the documented VACUUM trade — the version
    # fence excludes their surviving newer rows, so they VANISH from
    # the historical read), while untouched base docs remain exact
    asof1_after = {
        r["user_id"]: r["n"]
        for r in read_index_asof(spark, man["path"], 1).collect()
    }
    assert set(asof1_after) == {u for u in asof3_before if u % 2 == 1}
    assert all(
        asof1_after[u] == asof3_before[u] for u in asof1_after
    )  # odd users never changed across versions


# --- lookups read one shard directory; counts come from the write job ------


def _spark_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _small_index(spark, out, n_docs=40, num_shards=4):
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(n_docs)], "doc_id bigint, payload string"
    )
    return df, build_index(df, IndexConfig("small", "doc_id", num_shards, out))


def test_lookup_of_filled_empty_shard_runs_no_job(spark, tmp_path_factory):
    """An id routed to a shard the missing-shard fill created returns 0
    rows without raising, and the lookup runs no Spark job before its
    collect (routing in Python, schema from the manifest)."""
    from elastic_freight_spark.sharding import spark_shard

    out = str(tmp_path_factory.mktemp("empty_shard"))
    _, man = _small_index(spark, out, n_docs=2, num_shards=16)
    empty = set(man["missing_shards_filled"])
    doc_id = next(i for i in range(100, 10_000) if spark_shard(i, "bigint", 16) in empty)
    lookup, jobs = _spark_jobs(spark, lambda: read_shard(spark, man["path"], doc_id))
    assert jobs == []
    assert lookup.collect() == []
    assert [r["doc_id"] for r in read_shard(spark, man["path"], 1).collect()] == [1]


def test_lookup_without_recorded_schema_still_serves(spark, tmp_path_factory):
    """A manifest written before the schema was recorded (no ``schema``
    key) falls back to inference and serves the same rows."""
    out = str(tmp_path_factory.mktemp("legacy_manifest"))
    _, man = _small_index(spark, out)
    with_schema = [read_shard(spark, man["path"], i).collect() for i in (0, 7, 39, 99)]
    path = os.path.join(man["path"], "_manifest.json")
    legacy = {k: v for k, v in read_manifest(man["path"]).items() if k != "schema"}
    with open(path, "w") as f:
        json.dump(legacy, f)
    assert [read_shard(spark, man["path"], i).collect() for i in (0, 7, 39, 99)] == with_schema
    assert [len(rows) for rows in with_schema] == [1, 1, 1, 0]


def test_vacuum_keeps_manifest_shard_counts_true(spark, tmp_path_factory):
    """Upserts keep the manifest's shard counts as a running total;
    a vacuum that deletes superseded delta files must recount them."""
    from elastic_freight_spark.indexer import apply_vacuum, upsert_index

    out = str(tmp_path_factory.mktemp("vac_counts"))
    df, man = _small_index(spark, out)
    upd = df.filter(F.col("doc_id") < 10)
    upsert_index(upd, man["path"])
    man2 = upsert_index(upd.withColumn("payload", F.lit("v2")), man["path"])
    assert sum(man2["shards"].values()) == 60
    man3 = apply_vacuum(spark, man["path"], keep_versions=0)
    assert man3["vacuum_files_removed"] > 0
    physical = {
        str(r["shard"]): r["count"]
        for r in spark.read.parquet(man["path"]).groupBy("shard").count().collect()
    }
    assert {s: c for s, c in read_manifest(man["path"])["shards"].items() if c} == physical
    assert sum(physical.values()) == spark.read.parquet(man["path"]).count() < 60


def test_lookup_columns_after_upsert_compaction(spark, tmp_path_factory):
    """The schema an upsert records carries ``_version``/``_op``;
    compacting the log records the clean schema again, so a lookup
    shows the same columns as a plain read."""
    from elastic_freight_spark.indexer import compact_index_upserts, upsert_index

    out = str(tmp_path_factory.mktemp("compact_cols"))
    df, man = _small_index(spark, out)
    upsert_index(df.filter(F.col("doc_id") == 3).withColumn("payload", F.lit("new")), man["path"])
    [row] = read_shard(spark, man["path"], 3).filter(F.col("_version") == 1).collect()
    assert (row["payload"], row["_op"]) == ("new", "u")
    compact_index_upserts(spark, man["path"])
    lookup = read_shard(spark, man["path"], 3)
    assert lookup.columns == read_index(spark, man["path"]).columns
    assert "_version" not in lookup.columns and "_op" not in lookup.columns
    assert [r["payload"] for r in lookup.collect()] == ["new"]


def test_manifest_write_survives_a_crash(tmp_path, monkeypatch):
    """A crash while the manifest is being written leaves the previous
    manifest whole: the write goes to a temp file that replaces it."""
    from elastic_freight_spark.indexer import _write_manifest

    _write_manifest(str(tmp_path), {"index": "x", "shards": {"0": 5}})
    before = read_manifest(str(tmp_path))

    def torn(obj, f, **kwargs):
        f.write('{"index": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError):
        _write_manifest(str(tmp_path), {"index": "x", "shards": {"0": 6}})
    monkeypatch.undo()
    assert read_manifest(str(tmp_path)) == before
