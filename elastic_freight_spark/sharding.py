"""Deterministic hash routing: document id → shard.

This is the reference's core machinery re-expressed for Spark. In
elastic-freight a custom Hadoop ``Partitioner`` routes every document
to the reducer that owns its Elasticsearch shard:
``floorMod(Murmur3(docId), numShards)`` with ES's Murmur3 flavour
(x86_32, seed 0, over the UTF-16LE bytes of the id) — see reference
``src/main/java/com/simondata/elasticfreight/index/routing/
ElasticsearchRoutingStrategyV5.java:115-118`` and
``util/ShardPartitioner.java:35-39``.

Three implementations, fastest first:

* :func:`shard_col` — Spark's built-in ``hash`` (Murmur3 x86_32, seed
  42) + ``pmod``. Identical distribution guarantees, different
  constant. JVM-side, whole-stage-codegen'd; the default for every
  internal pipeline. Its lookup side, :func:`spark_shard`, ports the
  same hash to Python for one key, so a point lookup routes with no
  Spark job.
* :func:`lcg_shard_col` — a Lehmer LCG on integer keys built from
  pure arithmetic (``pmod``/multiply), so the *identical* expression
  runs on any ANSI SQL engine. Used for the DuckDB-oracle correctness
  harness where the shard assignment itself must be reproducible
  outside Spark.
* :func:`es_murmur3_shard_udf` — bit-exact ES 5.x parity (needed only
  if the built artifact must be restorable into a real ES cluster).
  Arrow-batched pandas UDF around a pure-Python murmur3_x86_32.

Also: shard-pruned lookup support. The reference's only query-side
logic is ``getPossibleRoutingHashes`` (ElasticsearchRoutingStrategyV5
.java:97-113): given a doc id, the subset of shards that may contain
it. With routing == doc id that subset is exactly one shard, computed
in the driver (:func:`spark_shard`, :func:`es_shard` or the LCG
arithmetic); ``indexer.read_shard`` then reads only that shard's
directory.
"""

from __future__ import annotations

import sys

import pandas as pd
import pyspark.cloudpickle
from pyspark.sql import Column, functions as F
from pyspark.sql.types import IntegerType

# The ES-parity pandas UDFs below are module-level functions; without
# by-value registration, workers spawned from a driver whose cwd
# doesn't have this repo on sys.path fail with ModuleNotFoundError
# (same discipline as streaming/structured.py and multimodal.py).
pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])

# ---------------------------------------------------------------------------
# Fast path: Spark built-in murmur3 (seed 42)
# ---------------------------------------------------------------------------


def shard_col(col: Column | str, num_shards: int) -> Column:
    """``pmod(murmur3(col), num_shards)`` — the default routing.

    JVM-side and codegen'd; at 100 TB this is the only variant that
    should touch the hot path.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.hash(c), F.lit(num_shards)).cast(IntegerType())


#: Seed of Spark's ``hash()`` (``Murmur3Hash``).
_SPARK_SEED = 42
#: Integer types Spark hashes with ``hashInt`` (≤ 32 bits) or ``hashLong``.
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def spark_shard(value, dtype, num_shards: int) -> int | None:
    """The shard :func:`shard_col` gives ``CAST(value AS dtype)``,
    computed in Python — the lookup side of the default routing, so a
    point lookup routes with no Spark job.

    A port of Spark's ``Murmur3_x86_32`` with seed 42: ``hashInt`` for
    tinyint, smallint and int; ``hashLong`` for bigint;
    ``hashUnsafeBytes`` over the UTF-8 bytes for string, whose tail
    mixes each byte on its own as a *signed* byte (unlike the standard
    tail in :func:`murmur3_x86_32`). ``dtype`` is a Spark ``DataType``
    or its ``simpleString()``.

    Returns None where the port does not apply: any other type
    (a collated string included), a value whose Python type is not the
    column's (``int`` for the integer types, ``str`` for string), or an
    integer outside the type's range. Spark must evaluate those.
    """
    name = dtype if isinstance(dtype, str) else dtype.simpleString()
    bits = _INT_BITS.get(name)
    if bits is not None and isinstance(value, int):
        if not -(1 << (bits - 1)) <= value < 1 << (bits - 1):
            return None
        if bits < 64:
            h = _fmix(_mix_h1(_SPARK_SEED, _mix_k1(value)), 4)
        else:
            h = _mix_h1(_SPARK_SEED, _mix_k1(value))
            h = _fmix(_mix_h1(h, _mix_k1(value >> 32)), 8)
    elif name == "string" and isinstance(value, str):
        data = value.encode("utf-8")
        h = _hash_blocks(data, _SPARK_SEED)
        for b in data[len(data) - len(data) % 4 :]:
            h = _mix_h1(h, _mix_k1(b - 256 if b > 127 else b))
        h = _fmix(h, len(data))
    else:
        return None
    return h % num_shards  # Python % of a signed int == Spark's pmod


# ---------------------------------------------------------------------------
# Oracle-portable path: Lehmer LCG on integer ids (pure ANSI arithmetic)
# ---------------------------------------------------------------------------

_LCG_M = 2147483647  # 2^31 - 1 (Mersenne prime)
_LCG_A = 48271  # MINSTD multiplier


def lcg_shard_col(col: Column | str, num_shards: int) -> Column:
    """Shard assignment from pure arithmetic on an integer key.

    ``h = ((key mod M) * A) mod M; shard = h mod N`` with
    M = 2^31-1, A = 48271 (MINSTD). Every step fits in int64 with no
    overflow, so the same expression evaluates identically in Spark,
    DuckDB, or any ANSI engine — which is what makes the sharded-write
    pipeline *oracle-checkable*.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.pmod(F.pmod(c.cast("long"), F.lit(_LCG_M)) * F.lit(_LCG_A), F.lit(_LCG_M))
    return F.pmod(h, F.lit(num_shards)).cast(IntegerType())


def lcg_shard_sql(col_name: str, num_shards: int) -> str:
    """The ANSI-SQL text equivalent of :func:`lcg_shard_col`.

    Usable verbatim in DuckDB (and Spark SQL) for differential
    testing.
    """
    return (
        f"CAST((((({col_name} % {_LCG_M}) + {_LCG_M}) % {_LCG_M}) * {_LCG_A}) "
        f"% {_LCG_M} % {num_shards} AS INT)"
    )


# ---------------------------------------------------------------------------
# Exact ES 5.x parity path (UTF-16LE, seed 0, floorMod)
# ---------------------------------------------------------------------------


_M32 = 0xFFFFFFFF


def _mix_k1(k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    return (k * 0x1B873593) & _M32


def _mix_h1(h: int, k: int) -> int:
    h ^= k
    h = ((h << 13) | (h >> 19)) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def _fmix(h: int, length: int) -> int:
    """Final avalanche; returns the *signed* 32-bit result, as Java's
    ``int`` does."""
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - 0x100000000 if h & 0x80000000 else h


def _hash_blocks(data: bytes, h: int) -> int:
    """Mix every whole little-endian 4-byte block of ``data`` into ``h``."""
    for i in range(0, len(data) - len(data) % 4, 4):
        h = _mix_h1(h, _mix_k1(int.from_bytes(data[i : i + 4], "little")))
    return h


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Pure-Python MurmurHash3 x86_32. Returns a *signed* 32-bit int,
    matching Java/Lucene's ``StringHelper.murmurhash3_x86_32``."""
    h = _hash_blocks(data, seed & _M32)
    tail = data[len(data) - len(data) % 4 :]
    if tail:
        h ^= _mix_k1(int.from_bytes(tail, "little"))
    return _fmix(h, len(data))


def es_routing_hash(routing: str) -> int:
    """ES 5.x ``Murmur3HashFunction.hash(String)``: murmur3_x86_32
    over the UTF-16LE code-unit bytes of the string, seed 0."""
    return murmur3_x86_32(routing.encode("utf-16-le"), seed=0)


def es_shard(routing: str, num_shards: int) -> int:
    """``Math.floorMod(hash(routing), numShards)`` — exact ES shard id
    (ElasticsearchRoutingStrategyV5.java:115-118)."""
    return es_routing_hash(routing) % num_shards  # Python % == floorMod


def es_murmur3_shard_udf(num_shards: int):
    """Arrow-batched pandas UDF computing the exact ES shard.

    Only for real-ES restore parity; the default pipelines use
    :func:`shard_col` (JVM-side).
    """

    @F.pandas_udf(IntegerType())
    def _es_shard(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else es_shard(str(v), num_shards)).astype(
            "Int32"
        )

    return _es_shard


def possible_shards(doc_id: str, num_shards: int) -> list[int]:
    """Query-side shard pruning: the set of shards that can contain a
    document (reference ``getPossibleRoutingHashes``,
    ElasticsearchRoutingStrategyV5.java:97-113). With routing == doc
    id this is exactly one shard."""
    return [es_shard(doc_id, num_shards)]


# ---------------------------------------------------------------------------
# Org → k-of-N shard-subset routing
# ---------------------------------------------------------------------------
#
# The reference *documents* this scheme but never implemented it
# (ElasticsearchRoutingStrategyV5.java:18-40 javadoc: route each org to
# a subset of shards instead of one, so a hot org neither owns a whole
# shard nor fans out to all N). Elasticsearch later shipped it as
# ``index.routing_partition_size``: shard = (hash(routing) +
# hash(id) mod k) mod N — the org hash picks a k-wide window, the doc
# hash spreads within it. Query side: an org filter probes only its k
# shards (partition pruning), not all N.


def org_subset_shard_col(
    org_col: Column | str, id_col: Column | str, num_shards: int, partition_size: int
) -> Column:
    """JVM fast path: ``pmod(hash(org) + pmod(hash(id), k), N)``."""
    org = F.col(org_col) if isinstance(org_col, str) else org_col
    doc = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.hash(org) + F.pmod(F.hash(doc), F.lit(partition_size)), F.lit(num_shards)
    ).cast(IntegerType())


def _lcg_h_col(col: Column) -> Column:
    return F.pmod(F.pmod(col.cast("long"), F.lit(_LCG_M)) * F.lit(_LCG_A), F.lit(_LCG_M))


def _lcg_h_sql(col_name: str) -> str:
    return f"(((({col_name} % {_LCG_M}) + {_LCG_M}) % {_LCG_M}) * {_LCG_A}) % {_LCG_M}"


def lcg_org_subset_shard_col(
    org_col: Column | str, id_col: Column | str, num_shards: int, partition_size: int
) -> Column:
    """Oracle-portable org-subset routing on integer keys (same LCG
    arithmetic as :func:`lcg_shard_col`, so DuckDB reproduces the
    assignment bit-for-bit)."""
    org = F.col(org_col) if isinstance(org_col, str) else org_col
    doc = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        _lcg_h_col(org) + F.pmod(_lcg_h_col(doc), F.lit(partition_size)),
        F.lit(num_shards),
    ).cast(IntegerType())


def lcg_org_subset_shard_sql(
    org_name: str, id_name: str, num_shards: int, partition_size: int
) -> str:
    """ANSI-SQL text twin of :func:`lcg_org_subset_shard_col`."""
    return (
        f"CAST((({_lcg_h_sql(org_name)}) + (({_lcg_h_sql(id_name)}) % {partition_size}))"
        f" % {num_shards} AS INT)"
    )


def lcg_possible_org_shards(org_value: int, num_shards: int, partition_size: int) -> list[int]:
    """Query-side pruning for org-routed indexes: the (at most k)
    shards that can hold the org's documents — the org-routing
    analogue of ``getPossibleRoutingHashes``
    (ElasticsearchRoutingStrategyV5.java:97-113)."""
    h = ((org_value % _LCG_M) + _LCG_M) % _LCG_M * _LCG_A % _LCG_M
    return sorted({(h + j) % num_shards for j in range(partition_size)})


def shard_to_routing(num_shards: int, max_probe: int = 1_000_000) -> dict[int, str]:
    """Inverse map: for each shard i, a routing string that hashes
    back to shard i (reference ``shardToRout`` precompute,
    ElasticsearchRoutingStrategyV5.java:46-55). Needed only to
    *address* a specific ES shard when writing; Spark controls
    partition placement directly so this is a parity utility."""
    out: dict[int, str] = {}
    for probe in range(max_probe):
        s = es_shard(str(probe), num_shards)
        if s not in out:
            out[s] = str(probe)
            if len(out) == num_shards:
                break
    return out
