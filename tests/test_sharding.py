"""Routing tests mirroring the reference's only unit-test class
(ElasticsearchRoutingStrategyV5Test.java): per-org single-shard
routing, pruning containment, single-shard collapse, distribution.
Plus murmur3 known-answer vectors and LCG/DuckDB parity."""

import duckdb
import pytest
from pyspark.sql import functions as F

from elastic_freight_spark.sharding import (
    es_shard,
    lcg_shard_col,
    lcg_shard_sql,
    murmur3_x86_32,
    possible_shards,
    shard_col,
    shard_to_routing,
)

# 15 fixed org UUIDs in the style of the reference fixtures
# (ElasticsearchRoutingStrategyV5Test.java:29-43 uses hard-coded UUIDs
# for deterministic failure).
ORG_IDS = [
    "ed1121bf-5e61-4ac5-ad99-c24f8c4f79db",
    "0a3fe8fa-0291-4a28-87c7-2eeeda2295cd",
    "9a16e0a4-5a77-4f3f-9cb5-6dbdba2c84c6",
    "d2f7b3b1-4c51-4dd6-89f4-d2a1f9a2b5c3",
    "7b6a9a61-21a3-4f0e-8f6c-3c1f4a4d9e21",
    "3c9b8b12-6a4e-44d1-9a7f-8e2d5c6b7a90",
    "f1e2d3c4-b5a6-4978-8190-a1b2c3d4e5f6",
    "00112233-4455-6677-8899-aabbccddeeff",
    "deadbeef-dead-beef-dead-beefdeadbeef",
    "12345678-1234-5678-1234-567812345678",
    "87654321-4321-8765-4321-876543218765",
    "abcdef01-2345-6789-abcd-ef0123456789",
    "11111111-2222-3333-4444-555555555555",
    "99999999-8888-7777-6666-555544443333",
    "0f0e0d0c-0b0a-0908-0706-050403020100",
]

# Published MurmurHash3 x86_32 known-answer vectors (seed 0), from the
# public smhasher test suite.
KNOWN_VECTORS = [
    (b"", 0, 0),
    (b"hello", 0, 0x248BFA47),
    (b"hello, world", 0, 0x149BBB7F),
    (b"The quick brown fox jumps over the lazy dog", 0, 0x2E4FF723),
]


def _signed(u):
    return u - 0x100000000 if u & 0x80000000 else u


@pytest.mark.parametrize("data,seed,expected", KNOWN_VECTORS)
def test_murmur3_known_vectors(data, seed, expected):
    assert murmur3_x86_32(data, seed) == _signed(expected)


def test_org_routes_to_single_shard():
    # reference testOrgOn7ShardsHashes / testOrgOn1ShardsHashes
    for n in (5, 10):
        for org in ORG_IDS:
            shards = {es_shard(org, n) for _ in range(3)}
            assert len(shards) == 1
            (s,) = shards
            assert s in possible_shards(org, n)
            assert 0 <= s < n


def test_single_shard_index_collapses():
    # reference testSingleShardIndex
    assert all(es_shard(org, 1) == 0 for org in ORG_IDS)


def test_org_distribution_covers_all_shards():
    # reference testOrgDistribution: 15 orgs spread across all 5 shards
    used = {es_shard(org, 5) for org in ORG_IDS}
    assert used == set(range(5))


def test_shard_to_routing_inverse():
    inv = shard_to_routing(5)
    assert set(inv) == set(range(5))
    for shard_id, routing in inv.items():
        assert es_shard(routing, 5) == shard_id


def test_spark_shard_col_stable_across_partitionings(spark):
    df = spark.range(0, 1000).select(F.col("id").cast("string").alias("doc_id"))
    a = df.repartition(4).select("doc_id", shard_col("doc_id", 8).alias("s"))
    b = df.repartition(13).select("doc_id", shard_col("doc_id", 8).alias("s"))
    joined = a.alias("a").join(b.alias("b"), "doc_id")
    assert joined.filter(F.col("a.s") != F.col("b.s")).count() == 0
    # all shards populated, none out of range
    stats = a.agg(
        F.min("s").alias("lo"), F.max("s").alias("hi"), F.countDistinct("s").alias("n")
    ).collect()[0]
    assert stats["lo"] == 0 and stats["hi"] == 7 and stats["n"] == 8


def test_lcg_shard_matches_duckdb(spark):
    n = 8
    df = spark.range(0, 5000).select(
        F.col("id"), lcg_shard_col(F.col("id"), n).alias("s")
    )
    spark_rows = {r["id"]: r["s"] for r in df.collect()}
    duck = duckdb.connect()
    sql = f"SELECT range AS id, {lcg_shard_sql('range', n)} AS s FROM range(0, 5000)"
    duck_rows = {r[0]: r[1] for r in duck.execute(sql).fetchall()}
    assert spark_rows == duck_rows


def test_es_udf_matches_python(spark):
    from elastic_freight_spark.sharding import es_murmur3_shard_udf

    df = spark.createDataFrame([(o,) for o in ORG_IDS], ["org_id"])
    out = df.select("org_id", es_murmur3_shard_udf(5)(F.col("org_id")).alias("s")).collect()
    for row in out:
        assert row["s"] == es_shard(row["org_id"], 5)


# --- property tests (hypothesis) ------------------------------------------


from hypothesis import given, settings, strategies as st


@given(
    doc_id=st.text(min_size=1, max_size=64),
    n=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_es_shard_in_range_and_deterministic(doc_id, n):
    from elastic_freight_spark.sharding import es_shard

    s1, s2 = es_shard(doc_id, n), es_shard(doc_id, n)
    assert s1 == s2
    assert 0 <= s1 < n


@given(doc_id=st.text(min_size=1, max_size=64))
@settings(max_examples=200, deadline=None)
def test_es_shard_single_shard_collapses(doc_id):
    from elastic_freight_spark.sharding import es_shard

    assert es_shard(doc_id, 1) == 0


@given(
    ids=st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=30),
    n=st.integers(min_value=1, max_value=32),
)
@settings(max_examples=50, deadline=None)
def test_lcg_shard_python_twin_in_range(ids, n):
    """The LCG routing's driver-side twin (used for shard-pruned
    lookups) stays in range and is deterministic for any id."""
    for i in ids:
        s = ((i % 2147483647) * 48271) % 2147483647 % n
        assert 0 <= s < n
        assert s == ((i % 2147483647) * 48271) % 2147483647 % n


def test_org_subset_routing_bounds_and_pruning(spark):
    """Org-subset routing: every org lands on ≤ k distinct shards, the
    query-side possible-shard set covers all of an org's docs exactly,
    and the JVM murmur variant obeys the same ≤ k bound."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.sharding import (
        lcg_org_subset_shard_col,
        lcg_possible_org_shards,
        org_subset_shard_col,
    )

    n, k = 32, 4
    df = spark.range(20_000).select(
        (F.col("id") % 37).alias("org"), F.col("id").alias("doc")
    )
    routed = df.select(
        "org", "doc", lcg_org_subset_shard_col("org", "doc", n, k).alias("shard")
    )
    per_org = {
        r["org"]: set(r["shards"])
        for r in routed.groupBy("org")
        .agg(F.collect_set("shard").alias("shards"))
        .collect()
    }
    assert all(len(s) <= k for s in per_org.values())
    # with 20k docs over 37 orgs every org should hit its full window
    assert all(len(s) == k for s in per_org.values())
    for org, shards in per_org.items():
        assert shards == set(lcg_possible_org_shards(org, n, k)), org
    # fan-out across orgs actually spreads over the ring
    assert len(set().union(*per_org.values())) > k

    murmur = df.select(
        "org", org_subset_shard_col("org", "doc", n, k).alias("shard")
    )
    mur_counts = {
        r["org"]: r["ns"]
        for r in murmur.groupBy("org")
        .agg(F.countDistinct("shard").alias("ns"))
        .collect()
    }
    assert all(v <= k for v in mur_counts.values())


def test_pandas_udaf_geomean_matches_jvm_identity(spark):
    """The grouped-agg pandas UDF must equal exp(avg(ln(x))) computed
    JVM-side, to double precision."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators.indexing import pandas_udaf_group_geomean
    from elastic_freight_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderstatus"]: r["geomean_price"]
        for r in pandas_udaf_group_geomean(spark, sf).collect()
    }
    want = {
        r["o_orderstatus"]: r["w"]
        for r in load_tables(spark, sf)["orders"]
        .groupBy("o_orderstatus")
        .agg(F.exp(F.avg(F.log("o_totalprice"))).alias("w"))
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9 * max(1.0, abs(want[k]))


# --- spark_shard: the driver-side twin of shard_col ------------------------

_INT_RANGE = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _jvm_shards(spark, dtype, values, n):
    """shard_col over ``values`` typed as ``dtype`` — ONE Spark job."""
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    return [r[0] for r in df.select(shard_col("v", n)).collect()]


def _values(dtype):
    if dtype == "string":
        return st.text(max_size=12)
    half = 1 << (_INT_RANGE[dtype] - 1)
    return st.integers(min_value=-half, max_value=half - 1)


@given(
    data=st.data(),
    dtype=st.sampled_from(["tinyint", "smallint", "int", "bigint", "string"]),
    n=st.sampled_from([1, 3, 8, 16, 512]),
)
@settings(max_examples=25, deadline=None)
def test_spark_shard_matches_shard_col(spark, data, dtype, n):
    """The pure-Python Murmur3 port routes every value to the shard
    Spark's ``hash`` + ``pmod`` does, for each of the five doc-id
    types a lookup routes without a Spark job."""
    from elastic_freight_spark.sharding import spark_shard

    values = data.draw(st.lists(_values(dtype), min_size=1, max_size=200))
    expected = _jvm_shards(spark, dtype, values, n)
    assert [spark_shard(v, dtype, n) for v in values] == expected


_EDGE_VALUES = {
    # empty, 1-3-byte tails of bytes >= 0x80 (hashed as signed bytes),
    # whole blocks plus tails, and 4-byte code points (surrogate pairs
    # in the JVM's UTF-16 strings)
    "string": ["", "\x80", "é", "€", "aé", "abcé", "abcd€", "😀", "a😀", "😀😀é", "\U0010ffff"],
    "int": [0, 1, -1, 7, -7, -(2**31), 2**31 - 1],
    "bigint": [0, 1, -1, 7, -7, -(2**31), 2**31 - 1, 2**31, -(2**63), 2**63 - 1],
    "smallint": [0, -1, -(2**15), 2**15 - 1],
    "tinyint": [0, -1, -128, 127],
}


@pytest.mark.parametrize("dtype", sorted(_EDGE_VALUES))
def test_spark_shard_edge_cases(spark, dtype):
    from elastic_freight_spark.sharding import spark_shard

    values = _EDGE_VALUES[dtype]
    for n in (8, 16):
        assert [spark_shard(v, dtype, n) for v in values] == _jvm_shards(spark, dtype, values, n)


def test_spark_shard_is_type_sensitive_and_declines_what_it_cannot_port():
    from pyspark.sql.types import DoubleType, IntegerType, LongType

    from elastic_freight_spark.sharding import spark_shard

    # int and bigint of the same value hash differently (hashInt vs
    # hashLong) — at least one of these values must route apart
    assert any(spark_shard(v, "int", 512) != spark_shard(v, "bigint", 512) for v in range(8))
    assert spark_shard(7, IntegerType(), 16) == spark_shard(7, "int", 16)
    assert spark_shard(7, LongType(), 16) == spark_shard(7, "bigint", 16)
    # left to Spark: other types, a key of another Python type, overflow
    assert spark_shard(1.5, DoubleType(), 8) is None
    assert spark_shard("7", "int", 8) is None
    assert spark_shard(7, "string", 8) is None
    assert spark_shard(2**31, "int", 8) is None
    assert spark_shard(128, "tinyint", 8) is None
