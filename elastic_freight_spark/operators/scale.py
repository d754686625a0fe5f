"""Scale patterns (SURVEY.md §2.3 R5, §4): skew-salted joins and
bucketed (pre-shuffled) co-located joins.

The reference's only answer to skew is documented intent: route each
org to a *subset* of shards instead of one
(ElasticsearchRoutingStrategyV5.java:18-40 javadoc — the V5 impl
collapses to 1 shard/org, i.e. the hot-org problem is acknowledged,
unsolved). At 100 TB these are the two Spark-native answers:

* **Salting** — split each hot key into ``n_salts`` sub-keys so one
  executor never owns a whole hot key. The dim side is exploded
  ``n_salts``× (tiny), the fact side gets a deterministic salt from a
  high-cardinality column (NOT ``rand()`` — retries must route rows
  identically). AQE's skew-join handles moderate skew automatically;
  salting is for the pathological keys AQE can't split (a single
  group too big for any one task).
* **Bucketing** — pay the shuffle once at write time
  (``bucketBy(n, key)`` + ``sortBy``), then every future join/agg on
  that key runs with NO exchange: Catalyst sees compatible output
  partitioning on both sides. This is the reference's
  1-reducer-per-shard layout promoted to a reusable table property.
  Both sides must share bucket count and key.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from elastic_freight_spark.functions import dsum, sql_dsum
from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int,
    salt_src: str,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: semantically identical to
    ``fact.join(dim, key, how)`` but each fact key spreads over
    ``n_salts`` shuffle partitionings.

    ``salt_src`` is a fact column of high cardinality; the salt is
    ``pmod(hash(salt_src), n_salts)`` — deterministic, so task retries
    and AQE re-plans route every row the same way.
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.hash(F.col(salt_src)), F.lit(n_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_salts - 1)), lambda x: x.cast("int")
            )
        ),
    )
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


@query(
    "join_salted_skew_supplier_volume",
    oracle=f"""
    SELECT s_nationkey,
           {sql_dsum('l_quantity', 'total_qty', 2)},
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def join_salted_skew_supplier_volume(spark, sf_dir):
    """Salted fact⋈dim join + aggregate; the oracle is the PLAIN join
    — salting must be invisible in the result. (With real skew the
    plain plan stalls on one straggler task; the salted plan spreads
    each hot supplier over 8 sub-partitions.)"""
    t = load_tables(spark, sf_dir)
    joined = salted_join(
        t["lineitem"].withColumnRenamed("l_suppkey", "jk"),
        t["supplier"].select(F.col("s_suppkey").alias("jk"), "s_nationkey"),
        key="jk", n_salts=8, salt_src="l_orderkey",
    )
    return joined.groupBy("s_nationkey").agg(
        dsum("l_quantity", "total_qty", 2),
        F.count(F.lit(1)).alias("n_items"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` bucketed on ``key`` — the shuffle paid once so
    every later join/agg on ``key`` plans with no Exchange."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    writer = writer.sortBy(*(sort_cols or [key]))
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables: with matching bucket specs
    Catalyst plans a sort-merge join with ZERO shuffle exchanges
    (asserted in tests/test_scale.py)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


# --- Bloom-filter semi-join pre-filter ------------------------------------
#
# The third scale answer (after salting and bucketing): when the dim
# side is too big to broadcast raw but its KEY SET fits a few KB of
# bits, ship a Bloom filter instead and drop non-matching fact rows AT
# THE SCAN, before the shuffle. This is what Spark's own runtime row
# filters (InjectRuntimeFilter) do for qualifying shapes; here it is an
# explicit operator so the pre-filter applies to any composition. The
# filter may pass false positives — an exact semi-join behind it keeps
# the result exact — but it can never drop a true match (no false
# negatives), so correctness never depends on the filter.


def build_bloom_words(
    dim: DataFrame, key: str, m_bits: int = 1 << 17, k: int = 3
) -> list[int]:
    """Aggregate ``dim``'s key set into a Bloom bit-array.

    Distributed build: each key contributes ``k`` bit positions
    (``pmod(xxhash64(key, seed_i), m_bits)``); positions group into
    64-bit words and a per-word ``bit_or`` folds them map-side, so the
    shuffle is at most ``m_bits/64`` rows no matter how large the dim
    is. The driver holds only the finished word array (``m_bits/8``
    bytes — 16 KiB at the default), never the keys.

    Size ``m_bits`` from the expected key count: ~9.6 bits/key gives
    ~1% false positives at k=3; FPs only cost wasted shuffle rows.
    """
    n_words = m_bits // 64
    kcol = F.col(key).cast("long")
    positions = dim.select(
        F.explode(
            F.array(
                *[F.pmod(F.xxhash64(kcol, F.lit(i)), F.lit(m_bits)) for i in range(k)]
            )
        ).alias("pos")
    )
    rows = (
        positions.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").alias("word"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def bloom_might_contain(
    key_col: Column, words: list[int], m_bits: int, k: int = 3
) -> Column:
    """JVM-side membership predicate against a literal word array.

    ``element_at`` on an array literal is O(1) (backed by ArrayData),
    so the test is k hashes + k masked loads per row inside
    whole-stage codegen — no Python, no join, no shuffle; Catalyst
    keeps it next to the scan so pruning happens before any exchange.
    """
    arr = F.lit(words)
    cond = F.lit(True)
    kcol = key_col.cast("long")
    for i in range(k):
        pos = F.pmod(F.xxhash64(kcol, F.lit(i)), F.lit(m_bits))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        bit = F.pmod(pos, F.lit(64)).cast("int")
        cond = cond & (F.getbit(word, bit) == 1)
    return cond


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    m_bits: int = 1 << 17,
    k: int = 3,
) -> DataFrame:
    """Exact semi-join with a Bloom pre-filter on the fact side.

    Semantically identical to ``fact.join(dim, key, 'left_semi')``;
    the difference is WHERE rows die. The plain semi-join shuffles the
    whole fact table to meet the dim keys; here non-candidate rows are
    dropped by a codegen'd predicate at the fact scan, so the exchange
    moves only candidates (true matches + ~1% false positives), which
    the exact semi-join behind it then resolves. At 100 TB this is the
    difference between shuffling the corpus and shuffling the answer.
    """
    words = build_bloom_words(dim, key, m_bits=m_bits, k=k)
    pre = fact.filter(bloom_might_contain(F.col(key), words, m_bits, k=k))
    return pre.join(dim.select(key).distinct(), key, "left_semi")


@query(
    "join_bloom_semi_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def join_bloom_semi_orders(spark, sf_dir):
    """Bloom-pre-filtered semi-join; the oracle is the PLAIN semi-join
    — the filter must be invisible in the result (no false negatives,
    false positives resolved by the exact join). The measured win
    (tests/test_scale.py): shuffled fact records drop from |orders| to
    ≈|matches|."""
    t = load_tables(spark, sf_dir)
    dim = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return bloom_semi_join(t["orders"], dim, "o_custkey").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


# --- Z-order clustered layout ---------------------------------------------


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of pre-scaled long columns into
    one Morton (Z-curve) value — pure JVM expressions (getbit inside an
    ``aggregate`` HOF), no UDF. Callers scale each dimension into
    [0, 2^bits) first (``zorder_write`` does). 2 cols × 16 bits → a
    32-bit z-value; contributions are exact in double (< 2^53) before
    the final long cast."""
    n = len(cols)
    zero = F.lit(0).cast("long")

    # sequence index is a Column inside the lambda; position arithmetic
    # stays column-typed
    def merge(acc, i):
        total = zero
        for j, c in enumerate(cols):
            bit = F.getbit(c, i.cast("int")).cast("long")
            pos = (i * n + F.lit(j)).cast("double")
            total = total + bit * F.pow(F.lit(2.0), pos).cast("long")
        return acc + total

    return F.aggregate(F.sequence(F.lit(0), F.lit(bits - 1)), zero, merge)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered on the Z-curve over ``cols``: scale each
    dimension to [0, 2^bits) via its min/max (one tiny aggregate),
    range-partition + sort on the interleaved z-value, write parquet.

    Every output file then covers a tight hyper-rectangle in ALL
    ``cols`` at once, so parquet min/max stats prune scans for
    predicates on ANY clustered column — a single-column sort gives
    that only for its leading column. This is the multi-dimensional
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER analogue) for
    the 100 TB scan problem; tests/test_scale.py measures the pruning
    from the written footers."""
    stats = df.agg(
        *[F.min(c).alias(f"{c}_min") for c in cols],
        *[F.max(c).alias(f"{c}_max") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = stats[f"{c}_min"], stats[f"{c}_max"]
        span = max(float(hi) - float(lo), 1.0)
        scaled.append(
            F.least(
                F.lit(top),
                ((F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * top)
                .cast("long"),
            )
        )
    z = zorder_value(scaled, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "hll_sketch_rollup",
    oracle="""
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day, event_type, user_id FROM events
    )
    SELECT 'day' AS grain, CAST(day AS VARCHAR) AS key,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tol
    FROM base GROUP BY day
    UNION ALL
    SELECT 'event_type', event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
    FROM base GROUP BY event_type
    UNION ALL
    SELECT 'global', 'all',
           CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
    FROM base
    """,
)
def hll_sketch_rollup(spark, sf_dir):
    """Sketch-partial reuse — the 100 TB distinct-counting pattern:
    build ONE HLL sketch per (day, event_type) in a single scan
    (`hll_sketch_agg`, Apache DataSketches binary), then answer every
    coarser rollup (per day, per type, global) by merging the tiny
    sketches (`hll_union_agg`) — no second pass over the data, and
    the sketch table is what a 1000-executor cluster would persist
    alongside its fact table. Returns all three rollup grains in long
    format.

    Oracle design: the raw DataSketches estimate isn't reproducible
    outside the JVM, so the query emits the deterministic half —
    exact distinct counts per grain — plus ``within_tol``, the
    in-plan assertion that each sketch estimate lands within
    max(3, 5%) of its exact count (lgK=12 → rsd ≈1.6%, so 5% is a
    real bound, not a tautology; the absolute-3 floor covers tiny
    grains where HLL is exact anyway). DuckDB reproduces the exact
    counts and a literal TRUE: an out-of-bound sketch flips the
    boolean and fails the hash. The unit test additionally pins the
    raw estimates via ``hll_rollup_full``."""
    full = hll_rollup_full(spark, sf_dir)
    return full.select(
        "grain",
        "key",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(3.0), 0.05 * F.col("exact_users"))
        ).alias("within_tol"),
    )


def hll_rollup_full(spark, sf_dir) -> DataFrame:
    """(grain, key, approx_users, exact_users) — the sketch rollup
    with both the merged-sketch estimate and the exact recount, for
    the registered audit projection above and the estimate-pinning
    unit test."""
    events = load_tables(spark, sf_dir)["events"]
    base = events.select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    sketches = base.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    )

    def _grain(approx_df, exact_df, grain, key_col):
        joined = approx_df.join(exact_df, key_col) if key_col else (
            approx_df.crossJoin(exact_df)
        )
        return joined.select(
            F.lit(grain).alias("grain"),
            (F.col(key_col).cast("string") if key_col else F.lit("all")).alias(
                "key"
            ),
            F.col("approx_users"),
            F.col("exact_users"),
        )

    per_day = _grain(
        sketches.groupBy("day").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        ),
        base.groupBy("day").agg(
            F.countDistinct("user_id").alias("exact_users")
        ),
        "day",
        "day",
    )
    per_type = _grain(
        sketches.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        ),
        base.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_users")
        ),
        "event_type",
        "event_type",
    )
    global_ = _grain(
        sketches.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        ),
        base.agg(F.countDistinct("user_id").alias("exact_users")),
        "global",
        None,
    )
    return per_day.unionByName(per_type).unionByName(global_)


# ---------------------------------------------------------------------------
# Binned interval join (scale-correct range join)
# ---------------------------------------------------------------------------


@query(
    "join_interval_binned",
    oracle=f"""
    WITH a AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS d0 FROM orders),
    promos AS (
      SELECT CAST(i AS BIGINT) AS promo_id,
             d0 + CAST(i * 7 AS INTEGER) AS p_start,
             d0 + CAST(i * 7 + 14 AS INTEGER) AS p_end
      FROM a, UNNEST(range(0, 26)) AS r(i)
    )
    SELECT promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM promos
    JOIN lineitem
      ON CAST(l_shipdate AS DATE) >= p_start
     AND CAST(l_shipdate AS DATE) <  p_end
    GROUP BY promo_id
    ORDER BY promo_id
    """,
)
def join_interval_binned(spark, sf_dir):
    """Interval-overlap join executed as a binned equi-join.

    26 overlapping 14-day promo windows (7-day stride, anchored at the
    corpus min order date) are matched against lineitem shipments.
    The naive plan for ``ship >= start AND ship < end`` is a
    nested-loop join — quadratic, and only survivable here because
    the interval side is tiny. The scale-correct plan works for TWO
    LARGE sides: quantize time into fixed bins sized to the maximum
    interval length (7-day bins, 14-day windows → each interval
    covers exactly 2 bins), explode the *interval* side onto its
    covered bins (bounded ×2 blow-up; the fact side stays 1 row → 1
    bin), equi-join on the bin (hash shuffle both sides, no BNLJ),
    then re-apply the exact range predicate to discard bin-edge false
    positives. Cost: one bounded-fanout shuffle join instead of
    |facts|×|intervals| comparisons.

    The min-date anchor rides the plan as a broadcast 1-row aggregate
    (crossJoin) — no driver-side ``.first()`` scalar pull, same
    discipline as the search scorers."""
    t = load_tables(spark, sf_dir)
    anchor = t["orders"].agg(F.to_date(F.min("o_orderdate")).alias("d0"))
    promos = (
        anchor.select(
            F.explode(F.sequence(F.lit(0), F.lit(25))).alias("promo_id"), "d0"
        )
        .select(
            F.col("promo_id").cast("bigint").alias("promo_id"),
            F.date_add("d0", F.col("promo_id").cast("int") * 7).alias("p_start"),
            F.date_add("d0", F.col("promo_id").cast("int") * 7 + 14).alias("p_end"),
        )
    )
    # interval side: exploded onto the (exactly 2) 7-day bins it covers
    promo_bins = promos.select(
        "*",
        F.explode(
            F.array(F.col("promo_id").cast("int"), F.col("promo_id").cast("int") + 1)
        ).alias("bin"),
    )
    fact = (
        t["lineitem"]
        .select("l_shipdate", "l_extendedprice", "l_discount")
        .crossJoin(F.broadcast(anchor))
        .withColumn("ship_date", F.to_date("l_shipdate"))
        .withColumn("bin", F.expr("datediff(ship_date, d0) div 7").cast("int"))
    )
    return (
        fact.join(F.broadcast(promo_bins), "bin")
        .filter(
            (F.col("ship_date") >= F.col("p_start"))
            & (F.col("ship_date") < F.col("p_end"))
        )
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("promo_id")
    )


# ---------------------------------------------------------------------------
# Iterative graph computation on DataFrames: PageRank
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank by iterative DataFrame joins — the canonical
    "iterative algorithm without leaving the DataFrame API" pattern
    (same discipline as the connected-components fixpoint in
    operators/text.py and the power iteration in operators/vectors).

    ``edges`` is (src, dst), treated as directed. Per iteration: one
    join of ranks to out-degree-normalized edges, one aggregate of
    contributions per dst, one outer join back onto the vertex set so
    dangling-free vertices keep their damping floor. Ranks and
    degrees are vertex-sized frames; the edge frame is scanned once
    per iteration and never mutated — at scale you'd persist it and
    let the vertex frame be the only thing that iterates. Each
    iteration's rank frame is cached and the previous unpersisted, so
    lineage stays one-iteration deep (no exponential plan growth).

    ``symmetric=True`` declares the caller's edge list symmetrized
    (every vertex appears as BOTH src and dst — supplier_pagerank's
    unionAll construction guarantees it). Then {dst} == verts and the
    per-iteration vertex outer join's NULL arm can never fire, so the
    join + COALESCE are dropped and each iteration is just
    join→aggregate→project — the same invariant-driven shape
    pagerank_portable uses (round 11; value-identical by exact
    arithmetic because the removed COALESCE arm was unreachable).

    MISUSE WARNING (r11 advice): passing ``symmetric=True`` on a
    NON-symmetrized edge list does not mis-rank — it silently DROPS
    every vertex with zero in-degree from the output (missing rows
    and leaked rank mass). Set ``EFS_DEBUG_ASSERTS=1`` to pay one
    extra count per call that verifies the invariant and fails loudly
    instead."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .persist()  # read by every iteration's outer join — one build
    )
    if symmetric and os.environ.get("EFS_DEBUG_ASSERTS"):
        n_dst = edges.select(F.col("dst").alias("v")).distinct().count()
        n_all = verts.count()
        if n_dst != n_all:
            raise AssertionError(
                f"pagerank(symmetric=True) on a non-symmetrized edge "
                f"list: {n_all - n_dst} vertex(es) never appear as dst "
                f"and would silently vanish from the output"
            )
    n_v = verts.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    norm_edges = edges.join(deg, "src").persist()
    ranks = verts.withColumn("rank", F.lit(1.0 / n_v))
    prev = None
    for _ in range(n_iter):
        contrib = (
            norm_edges.join(
                ranks.select(F.col("v").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
        )
        if symmetric:
            new_ranks = contrib.select(
                F.col("dst").alias("v"),
                (
                    F.lit((1 - damping) / n_v) + damping * F.col("c")
                ).alias("rank"),
            ).persist()
        else:
            new_ranks = (
                verts.join(
                    contrib.select(F.col("dst").alias("v"), "c"), "v", "left"
                )
                .select(
                    "v",
                    (
                        F.lit((1 - damping) / n_v)
                        + damping * F.coalesce(F.col("c"), F.lit(0.0))
                    ).alias("rank"),
                )
                .persist()
            )
        new_ranks.count()  # materialize before dropping the parent
        if prev is not None:
            prev.unpersist()
        prev = ranks if ranks is not new_ranks else None
        ranks = new_ranks
    norm_edges.unpersist()
    verts.unpersist()
    return ranks


@query("supplier_pagerank")  # rows-only: iterative float fixpoint
def supplier_pagerank(spark, sf_dir):
    """PageRank over the supplier co-supply graph — ranks run on the
    TOP-5-strongest-partner edge set (``graph.cosupply_edges``,
    symmetrized to a digraph), the same sparse construction the
    triangle census uses: the naive share-a-part relation is the
    COMPLETE graph on this corpus (PageRank degenerates to the
    uniform vector, and 6 iterations over the ~1M-edge clique
    measured 38 s at sf0.1); on the k-bounded graph each iteration
    is a |E| ≤ 2·5·|V| join — node-linear at any scale — and the
    ranking actually discriminates hub suppliers. 6 DataFrame-join
    iterations, numpy-pinned in tests (exact power-method twin on a
    collected edge list)."""
    from elastic_freight_spark.operators.graph import cosupply_edges

    und = cosupply_edges(spark, sf_dir)
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    ranks = pagerank(edges, n_iter=6, symmetric=True)
    return (
        ranks.select(F.col("v").alias("supplier"), F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "supplier")
        .limit(25)
    )


@query(
    "incremental_rollup_merge",
    oracle=f"""
    WITH split AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             l_extendedprice * (1 - l_discount) AS rev,
             CASE WHEN CAST(l_shipdate AS DATE) >=
                       (SELECT MAX(CAST(l_shipdate AS DATE)) - 30 FROM lineitem)
                  THEN 'delta' ELSE 'base' END AS part
      FROM lineitem
    ),
    partials AS (
      SELECT part, day,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(CAST(rev AS DECIMAL(18,4))) AS rev_partial
      FROM split GROUP BY part, day
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(SUM(n_items) AS BIGINT) AS n_items,
           CAST(SUM(rev_partial) AS DOUBLE) AS revenue
    FROM partials
    GROUP BY day
    ORDER BY day
    """,
)
def incremental_rollup_merge(spark, sf_dir):
    """Incremental materialized-rollup maintenance: the day-grain
    revenue rollup is computed as BASE partials (history, in
    production read back from the stored rollup — never rescanned)
    merged with DELTA partials (the newly-landed last 30 days), and
    the merge re-aggregates PARTIAL rows, not raw facts. This is the
    pattern that keeps a 100 TB fact table's rollup current by
    scanning only the new partition: commutative partials (counts +
    DECIMAL sums — order- and split-independent) make
    merge(base, delta) ≡ full recompute, which is exactly what the
    oracle asserts by computing the same answer through the split.
    Two day-keyed aggregates; the second runs over day-grain rows
    only."""
    li = load_tables(spark, sf_dir)["lineitem"]
    day = F.to_date("l_shipdate").alias("day")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fence = li.agg(
        F.date_sub(F.max(F.to_date("l_shipdate")), 30).alias("cutoff")
    )
    # ONE fact scan: the base/delta split is day-aligned, so it is
    # applied to the day-grain PARTIALS (thousands of rows), not by
    # forking two filtered scans of the (100 TB) fact table
    day_partials = (
        li.select(day, rev.alias("rev"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("rev").cast("decimal(18,4)")).alias("rev_partial"),
        )
        .crossJoin(F.broadcast(fence))
    )
    base = day_partials.filter(F.col("day") < F.col("cutoff")).drop("cutoff")
    delta = day_partials.filter(F.col("day") >= F.col("cutoff")).drop("cutoff")
    merged = base.unionByName(delta)
    return (
        merged.groupBy("day")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("rev_partial").cast("double").alias("revenue"),
        )
        .select(F.col("day").cast("string").alias("day"), "n_items", "revenue")
        .orderBy("day")
    )


@query(
    "skew_heavy_hitters",
    oracle="""
    WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
    s AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM c)
    SELECT o_custkey, CAST(n AS BIGINT) AS n_orders,
           ROUND(n / CAST(total AS DOUBLE), 9) AS share,
           ROUND(n * n_keys / CAST(total AS DOUBLE), 9) AS x_over_avg
    FROM c CROSS JOIN s
    ORDER BY n DESC, o_custkey
    LIMIT 10
    """,
)
def skew_heavy_hitters(spark, sf_dir):
    """Heavy-hitter / skew audit for a join-or-shuffle key: top-10
    keys by row count with their share of the table and their
    multiple of the average key size — the report you run BEFORE
    choosing broadcast/salt/AQE-skew strategies for a 100 TB join
    (R5's diagnostic face). One key-sized aggregate, the (total,
    n_keys) scalars ride as a broadcast 1-row crossJoin, top-10 via
    TakeOrderedAndProject with a deterministic (count desc, key)
    tie-break."""
    orders = load_tables(spark, sf_dir)["orders"]
    c = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            "o_custkey",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("n") / F.col("total").cast("double"), 9).alias(
                "share"
            ),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("total").cast("double"), 9
            ).alias("x_over_avg"),
        )
        .orderBy(F.col("n_orders").desc(), "o_custkey")
        .limit(10)
    )


@query(
    "compaction_bin_packing",
    oracle="""
    WITH parts AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS part_key,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(n_rows) AS total FROM parts),
    plan AS (
      SELECT part_key, n_rows, (total + 7) // 8 AS target,
             SUM(n_rows) OVER (ORDER BY n_rows DESC, part_key) AS cum
      FROM parts CROSS JOIN tot
    )
    SELECT CAST((cum - n_rows) // target AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           ROUND(SUM(n_rows) / CAST(MIN(target) AS DOUBLE), 9) AS fill_ratio
    FROM plan GROUP BY 1
    """,
)
def compaction_bin_packing(spark, sf_dir):
    """Compaction planner: pack per-partition sizes (here: ship-month
    row counts as the size proxy) into ~8 equal target bins by a
    deterministic size-descending linear scan — the OPTIMIZE /
    small-file-compaction planning pass every long-lived 100 TB
    table needs. The plan itself is metadata-sized: the window
    cumsum runs over |partitions| rows (thousands, not billions),
    so a single-partition window is correct here — the fact scan is
    the only data-sized stage and it is one aggregate. Emits per-bin
    part counts, row totals, and fill ratio vs target (greedy scan
    packs within ~1 part of target; bins are stable across engines
    because ties break on the partition key)."""
    from pyspark.sql import Window as W

    li = load_tables(spark, sf_dir)["lineitem"]
    parts = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_key")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = parts.agg(F.sum("n_rows").alias("total"))
    plan = parts.crossJoin(F.broadcast(tot)).select(
        "part_key",
        "n_rows",
        # integer `div`, not floor(double /): exact past 2^53 rows —
        # the thresholds-as-integers discipline, matching DuckDB's //
        F.expr("(total + 7) div 8").alias("target"),
        F.sum("n_rows")
        .over(W.orderBy(F.col("n_rows").desc(), "part_key"))
        .alias("cum"),
    )
    return (
        plan.groupBy(
            F.expr("(cum - n_rows) div target").cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.round(
                F.sum("n_rows") / F.min("target").cast("double"), 9
            ).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: sketch + partition-planning additions. Count-Min joins the
# sketch tier beside HLL (hll_sketch_rollup) and the bloom semi-join;
# range-boundary planning is the declarative face of what Spark's
# RangePartitioner does by sampling before a global sort.
# ---------------------------------------------------------------------------

CMS_ROWS = 4  # independent hash rows (depth d)
CMS_HEX_CHARS = 2  # bucket id = first 2 md5 hex chars -> width w = 256


def cms_bucket(key_col: Column, r_col: Column) -> Column:
    """The ONE Count-Min bucket definition every consumer (batch
    queries, oracles via the same formula in SQL) must share: first
    CMS_HEX_CHARS hex chars of ``md5('<r>:' || key)`` — a 256-way
    string partition of hex space, no hex→int conversion anywhere."""
    return F.substring(
        F.md5(F.concat(r_col.cast("string"), F.lit(":"), key_col.cast("string"))),
        1,
        CMS_HEX_CHARS,
    )


@query(
    "sketch_countmin_portable",
    oracle=f"""
    WITH keys AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    hashed AS (
      SELECT k.o_custkey, k.n, CAST(r.r AS INTEGER) AS r,
             substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                        CAST(k.o_custkey AS VARCHAR)), 1, {CMS_HEX_CHARS}) AS bucket
      FROM keys k CROSS JOIN range({CMS_ROWS}) r(r)
    ),
    cells AS (
      SELECT r, bucket, SUM(n) AS cell_n FROM hashed GROUP BY r, bucket
    ),
    probes AS (
      SELECT o_custkey, n FROM keys
      ORDER BY n DESC, o_custkey LIMIT 10
    )
    SELECT p.o_custkey,
           CAST(p.n AS BIGINT) AS true_n,
           CAST(MIN(c.cell_n) AS BIGINT) AS est_n,
           CAST(MIN(c.cell_n) - p.n AS BIGINT) AS over_n
    FROM probes p
    JOIN hashed h ON h.o_custkey = p.o_custkey
    JOIN cells c ON c.r = h.r AND c.bucket = h.bucket
    GROUP BY p.o_custkey, p.n
    """,
)
def sketch_countmin_portable(spark, sf_dir):
    """Count-Min sketch (d=4 hash rows x w=256 buckets) over order
    counts per customer, audited against true counts for the top-10
    heavy keys: ``est >= true`` always (CMS never under-counts) and
    ``over_n`` quantifies collision noise at this (d, w).

    Portable by construction: bucket ids are the first 2 md5 hex
    CHARS (a 256-way partition of hex space as strings — no hex->int
    conversion exists portably across engines, so the bucket id never
    becomes an int), counts are integer sums, the estimate is an
    integer MIN over the d cells. Same md5 family as the
    deterministic sampling tier.

    Scale shape: one keyed aggregate over the fact table (the only
    data-sized stage), then everything is |keys|- or w-bounded: the
    4x|keys| hashed frame, the 1024-cell sketch (broadcastable
    anywhere), and a top-10 probe join. At 100 TB the sketch build is
    the same single map-side-combinable aggregate, and the sketch
    itself is the thing a planner ships around instead of the keys."""
    orders = load_tables(spark, sf_dir)["orders"]
    keys = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    hashed = keys.select(
        "o_custkey",
        "n",
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_ROWS)])
        ).alias("r"),
    ).withColumn("bucket", cms_bucket(F.col("o_custkey"), F.col("r")))
    cells = hashed.groupBy("r", "bucket").agg(F.sum("n").alias("cell_n"))
    probes = keys.orderBy(F.col("n").desc(), "o_custkey").limit(10)
    return (
        probes.join(hashed.select("o_custkey", "r", "bucket"), "o_custkey")
        .join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("o_custkey", "n")
        .agg(F.min("cell_n").alias("_est"))
        .select(
            "o_custkey",
            F.col("n").cast("bigint").alias("true_n"),
            F.col("_est").cast("bigint").alias("est_n"),
            (F.col("_est") - F.col("n")).cast("bigint").alias("over_n"),
        )
    )


RANGE_PLAN_PARTS = 8  # target partition count for the planned sort
RANGE_PLAN_HEX = "2"  # md5 first-hex-char < '2' -> deterministic ~1/8 sample


@query(
    "range_partition_boundaries",
    oracle=f"""
    WITH sample AS (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE substr(md5('rb:' || CAST(o_orderkey AS VARCHAR)), 1, 1) < '{RANGE_PLAN_HEX}'
    ),
    ranked AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM sample
    )
    SELECT CAST(b.b AS INTEGER) AS boundary_no,
           r.o_totalprice AS fence
    FROM range(1, {RANGE_PLAN_PARTS}) b(b)
    JOIN ranked r ON r.rn = (b.b * r.n) // {RANGE_PLAN_PARTS}
    """,
)
def range_partition_boundaries(spark, sf_dir):
    """Range-partition planning: the 7 fence values
    that split orders into 8 equal-weight ranges of
    o_totalprice — what Spark's RangePartitioner estimates by random
    sampling before every global sort, recast as a deterministic
    declarative plan (md5 hash-fraction sample -> exact rank fences on
    the sample), so the planned layout is reproducible across runs,
    engines, and partitionings.

    Integer discipline: fences are picked by integer rank arithmetic
    ``rn == (b * n) div P`` on the sample (no float quantiles), and
    o_totalprice is DECIMAL — bit-exact across engines. Scale shape:
    the sample predicate pushes to the scan, the only shuffle is the
    sample-sized sort (~1/8 of keys here; tune the hex prefix down —
    '1' of 16, '04' of 256 — as the table grows: a 100 TB table wants
    a ~1e-4 sample, which is one leading-hex-pair compare)."""
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir)["orders"]
    sample = orders.filter(
        F.substring(
            F.md5(F.concat(F.lit("rb:"), F.col("o_orderkey").cast("string"))), 1, 1
        )
        < RANGE_PLAN_HEX
    ).select("o_orderkey", "o_totalprice")
    ranked = sample.select(
        "o_totalprice",
        F.row_number()
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    fences = spark.range(1, RANGE_PLAN_PARTS).select(
        F.col("id").cast("int").alias("boundary_no")
    )
    return (
        F.broadcast(fences)
        .join(
            ranked,
            ranked.rn
            == F.expr(f"(boundary_no * n) div {RANGE_PLAN_PARTS}"),
        )
        .select("boundary_no", F.col("o_totalprice").alias("fence"))
    )


@query(
    "sketch_countmin_merge",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS seg, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    hashed AS (
      SELECT k.seg, k.n, CAST(r.r AS INTEGER) AS r,
             substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                        CAST(k.o_custkey AS VARCHAR)), 1, {CMS_HEX_CHARS}) AS bucket
      FROM keyed k CROSS JOIN range({CMS_ROWS}) r(r)
    ),
    per_seg AS (
      SELECT seg, r, bucket, SUM(n) AS cell_n FROM hashed GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT r, bucket, SUM(cell_n) AS cell_n FROM per_seg GROUP BY 1, 2
    ),
    direct AS (
      SELECT r, bucket, SUM(n) AS cell_n FROM hashed GROUP BY 1, 2
    )
    SELECT m.r,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(m.cell_n) AS BIGINT) AS mass,
           CAST(MAX(m.cell_n) AS BIGINT) AS max_cell,
           CAST(SUM(CASE WHEN m.cell_n = d.cell_n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_equal
    FROM merged m
    JOIN direct d ON d.r = m.r AND d.bucket = m.bucket
    GROUP BY m.r
    """,
)
def sketch_countmin_merge(spark, sf_dir):
    """Mergeability receipt for the Count-Min sketch: build one sketch
    PER ORDER-MONTH, SUM the cells, and prove the merge equals the
    sketch built over the whole table in one pass (``n_equal ==
    n_cells`` per hash row). This is the property that makes a sketch
    worth shipping at 100 TB — each partition/day/executor folds its
    own d×w grid and a coordinator adds grids, never keys. Same
    2-hex-char string buckets and integer sums as
    ``sketch_countmin_portable``."""
    orders = load_tables(spark, sf_dir)["orders"]
    keyed = orders.groupBy(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("seg")
    ).agg(F.count(F.lit(1)).alias("n"))
    hashed = keyed.select(
        "seg",
        "n",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_ROWS)])).alias("r"),
        F.col("o_custkey"),
    ).select(
        "seg",
        "n",
        "r",
        cms_bucket(F.col("o_custkey"), F.col("r")).alias("bucket"),
    )
    # referenced twice (per-segment sketch path + the direct one-pass
    # sketch it must equal): unmaterialized, both paths re-ran the
    # orders aggregate + 4-row explode + md5 bucketing (round 11).
    # Checkpointing keeps the receipt honest — both sketches still
    # aggregate the same hashed frame independently.
    hashed = hashed.localCheckpoint(eager=True)
    per_seg = hashed.groupBy("seg", "r", "bucket").agg(
        F.sum("n").alias("cell_n")
    )
    merged = per_seg.groupBy("r", "bucket").agg(F.sum("cell_n").alias("cell_n"))
    direct = hashed.groupBy("r", "bucket").agg(F.sum("n").alias("cell_n"))
    m, d = merged.alias("m"), direct.alias("d")
    return (
        m.join(
            d,
            (F.col("m.r") == F.col("d.r")) & (F.col("m.bucket") == F.col("d.bucket")),
        )
        .groupBy(F.col("m.r").alias("r"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("m.cell_n").cast("bigint").alias("mass"),
            F.max("m.cell_n").cast("bigint").alias("max_cell"),
            F.sum(
                F.when(F.col("m.cell_n") == F.col("d.cell_n"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_equal"),
        )
    )


ZONEMAP_FILES = 32  # simulated files per layout


@query(
    "layout_zonemap_effectiveness",
    oracle=f"""
    WITH rows_n AS (
      SELECT l_shipdate, l_orderkey, l_linenumber,
             COUNT(*) OVER () AS n
      FROM lineitem
    ),
    laid AS (
      SELECT 'arrival' AS layout, l_shipdate,
             (ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
               // ((n + {ZONEMAP_FILES} - 1) // {ZONEMAP_FILES}) AS file_id
      FROM rows_n
      UNION ALL
      SELECT 'shipdate_sorted', l_shipdate,
             (ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1)
               // ((n + {ZONEMAP_FILES} - 1) // {ZONEMAP_FILES})
      FROM rows_n
    ),
    zones AS (
      SELECT layout, file_id,
             MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax
      FROM laid GROUP BY 1, 2
    ),
    probes AS (
      SELECT l_shipdate AS d, COUNT(*) AS w FROM lineitem GROUP BY 1
    ),
    cover AS (
      SELECT z.layout, p.d, p.w, COUNT(*) AS n_files_hit
      FROM probes p JOIN zones z
        ON p.d >= z.zmin AND p.d <= z.zmax
      GROUP BY 1, 2, 3
    )
    SELECT c.layout,
           CAST(MAX(zc.n_files) AS BIGINT) AS n_files,
           ROUND(CAST(SUM(c.w * c.n_files_hit) AS DOUBLE) / SUM(c.w), 9)
             AS expected_files_scanned,
           ROUND(CAST(MAX(ds.total_span_days) AS DOUBLE)
                 / MAX(zc.n_files), 9) AS avg_file_span_days
    FROM cover c
    JOIN (SELECT layout, COUNT(*) AS n_files FROM zones GROUP BY 1) zc
      ON zc.layout = c.layout
    JOIN (SELECT layout,
                 SUM((epoch_us(zmax) - epoch_us(zmin)) // 86400000000)
                   AS total_span_days
          FROM zones GROUP BY 1) ds
      ON ds.layout = c.layout
    GROUP BY c.layout
    """,
)
def layout_zonemap_effectiveness(spark, sf_dir):
    """Data-layout planning: simulate writing lineitem as
    32 files under (a) arrival order and (b)
    shipdate-sorted order, compute each file's min/max zone map, and
    report the metric that decides an OPTIMIZE/Z-ORDER rewrite:
    **expected files scanned per point probe** (probe dates weighted
    by their row counts — exactly what parquet footer pruning would
    touch). Sorted layout ≈ 1 file per probe; arrival layout ≈ all
    files, because every file's [min,max] spans the whole date range.
    Also reports mean per-file span in days (integer µs arithmetic).

    This is a planning SIMULATION (the real variant would read actual
    file footers); it exists so the metric is hash-verifiable against
    DuckDB. Neither layout single-partitions the fact (the round-6
    conversion): the shipdate-SORTED layout's file extents are pure
    value-at-rank selections on the shipdate ECDF (dates are monotone
    in the sort rank — `windows.bucketed_cum`, calendar buckets), and
    the ARRIVAL layout ranks by the unique composite key
    l_orderkey·8+l_linenumber via `windows.dist_rank_unique`
    (bounded two-level key-range windows)."""
    from elastic_freight_spark.operators.windows import (
        bucketed_cum,
        dist_rank_unique,
    )

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    # 1-row frame referenced from two plan branches (rank join, file
    # extents) — eagerly materialized so each reference stops
    # re-counting the fact table (round 11)
    nrow = li.agg(F.count(F.lit(1)).cast("bigint").alias("_n")).localCheckpoint(
        eager=True
    )
    per = f"((_n + {ZONEMAP_FILES - 1}) div {ZONEMAP_FILES})"

    ranked = dist_rank_unique(
        li.withColumn("_k", F.expr("l_orderkey * 8 + l_linenumber")), "_k"
    )
    arrival_zones = (
        ranked.join(F.broadcast(nrow), F.lit(True), "left")
        .select(
            "l_shipdate",
            F.expr(f"(rank - 1) div {per}").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.min("l_shipdate").alias("zmin"),
            F.max("l_shipdate").alias("zmax"),
        )
        .select(F.lit("arrival").alias("layout"), "*")
    )

    dcnt = (
        li.groupBy(F.col("l_shipdate").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("b", F.expr("year(v) * 100 + month(v)"))
    )
    cum = bucketed_cum(dcnt, "v", "b", ["c"])
    files = (
        nrow.select(
            "_n",
            F.explode(
                F.array(*[F.lit(i) for i in range(ZONEMAP_FILES)])
            ).alias("file_id"),
        )
        .select(
            "file_id",
            F.expr(f"file_id * {per} + 1").alias("r_lo"),
            F.expr(f"least((file_id + 1) * {per}, _n)").alias("r_hi"),
        )
        .filter(F.col("r_lo") <= F.col("r_hi"))
    )
    covers = lambda r: (F.col("c_cum") >= F.col(r)) & (
        F.col("c_cum") - F.col("c") < F.col(r)
    )
    sorted_zones = (
        cum.join(F.broadcast(files), covers("r_lo") | covers("r_hi"))
        .groupBy("file_id")
        .agg(
            F.min(F.when(covers("r_lo"), F.col("v"))).alias("zmin"),
            F.max(F.when(covers("r_hi"), F.col("v"))).alias("zmax"),
        )
        .select(F.lit("shipdate_sorted").alias("layout"), "*")
    )
    # ≤ 2·ZONEMAP_FILES rows, referenced twice (probe cover join +
    # zstats): unmaterialized, BOTH references re-ran the full arrival
    # (600k-row dist_rank_unique) and sorted pipelines. Eager
    # checkpoint halves the executed work; local wall-clock is within
    # noise only because an idle local[32] overlapped the duplicate
    # subtrees inside one job — at cluster scale the duplicated rank
    # pipeline is real cost (round 11; cold-run 7.8 s → 4.0 s).
    zones = arrival_zones.unionByName(sorted_zones).localCheckpoint(eager=True)
    probes = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("w")
    )
    cover = (
        probes.join(
            F.broadcast(zones),
            (F.col("d") >= F.col("zmin")) & (F.col("d") <= F.col("zmax")),
        )
        .groupBy("layout", "d", "w")
        .agg(F.count(F.lit(1)).alias("n_files_hit"))
    )
    zstats = zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(
            F.expr("(unix_micros(zmax) - unix_micros(zmin)) div 86400000000")
        ).alias("total_span_days"),
    )
    return (
        cover.join(F.broadcast(zstats), "layout")
        .groupBy("layout")
        .agg(
            F.max("n_files").cast("bigint").alias("n_files"),
            F.round(
                F.sum(F.col("w") * F.col("n_files_hit")).cast("double")
                / F.sum("w"),
                9,
            ).alias("expected_files_scanned"),
            F.round(
                F.max("total_span_days").cast("double") / F.max("n_files"), 9
            ).alias("avg_file_span_days"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the portable face of
# approximate count-distinct. The engine-native HLL surface
# (agg_approx_distinct, hll_sketch_rollup) is rows-only forever
# because HLL register layouts differ across engines; KMV over md5
# is the same capability (a fixed-size mergeable distinct sketch,
# Bar-Yossef et al. 2002) built from nothing but portable hashes, so
# the whole structure — sketch build, mergeability, estimator —
# certifies under a DuckDB value hash.
# ---------------------------------------------------------------------------

KMV_K = 32  # sketch size: k smallest hashes per segment
KMV_HEX = 12  # estimator precision: 48-bit hash prefix, exact in a double
# (k-1) * 16^KMV_HEX — the KMV estimator numerator, < 2^53 so exact
_KMV_NUM = (KMV_K - 1) * (16**KMV_HEX)


def kmv_hex_value_sql(col: str, n: int = KMV_HEX) -> str:
    """SQL fragment mapping the first ``n`` hex chars of ``col`` to
    their integer value as a DOUBLE — the ONE definition both the
    Spark expression and the DuckDB oracle must share (CLAUDE.md
    shared-fragment rule). Pure ``instr``/``substr`` arithmetic: both
    engines are 1-based and return 0 on a miss, and the max value
    16^12-1 < 2^53 is exact in a double. No hex→int builtin exists
    portably across engines, so the digits are folded positionally."""
    terms = " + ".join(
        # the digit is cast to BIGINT first: Spark types small
        # power-of-16 literals as INT and ANSI int multiply overflows
        f"CAST(instr('0123456789abcdef', substr({col}, {i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (n - i)}"
        for i in range(1, n + 1)
    )
    return f"CAST({terms} AS DOUBLE)"


def kmv_topk(df: DataFrame, part_cols: list, k: int = KMV_K) -> DataFrame:
    """The k lexicographically-smallest ``h`` per group WITHOUT a
    full per-group sort: salt on the first 2 hex chars (256-way,
    uniform by construction), rank within (group, salt) — parallel,
    each window partition ~N/256 — keep the local top-k, then rank
    the <=256*k survivors per group. Exact by the k-minima-of-union
    property: every global minimum is a minimum of its salt class.
    This is the shape that survives 10^9 distinct keys; a bare
    ``row_number() OVER (PARTITION BY seg ORDER BY h)`` would sort a
    whole segment in one task."""
    from pyspark.sql import Window as W

    w1 = W.partitionBy(*part_cols, "_salt").orderBy("h")
    local = (
        df.withColumn("_salt", F.substring("h", 1, 2))
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = W.partitionBy(*part_cols).orderBy("h")
    return (
        local.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
    )


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT o_orderpriority AS seg, o_custkey FROM orders
    ),
    hashed AS (
      SELECT seg, md5('kmv:' || CAST(o_custkey AS VARCHAR)) AS h FROM pairs
    ),
    seg_sk AS (
      SELECT seg, h FROM (
        SELECT seg, h, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {KMV_K}
    ),
    seg_true AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS true_distinct
      FROM pairs GROUP BY seg
    ),
    seg_rows AS (
      SELECT s.seg, MAX(s.h) AS kth_min,
             CAST(COUNT(*) AS BIGINT) AS n_hashes, t.true_distinct
      FROM seg_sk s JOIN seg_true t ON t.seg = s.seg
      GROUP BY s.seg, t.true_distinct
    ),
    gall AS (SELECT DISTINCT h FROM hashed),
    gtrue AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM gall),
    onepass AS (
      SELECT '__onepass' AS seg, MAX(h) AS kth_min,
             CAST(COUNT(*) AS BIGINT) AS n_hashes,
             (SELECT true_distinct FROM gtrue) AS true_distinct
      FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM gall)
      WHERE rn <= {KMV_K}
    ),
    merged AS (
      SELECT '__merged' AS seg, MAX(h) AS kth_min,
             CAST(COUNT(*) AS BIGINT) AS n_hashes,
             (SELECT true_distinct FROM gtrue) AS true_distinct
      FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM seg_sk)
      ) WHERE rn <= {KMV_K}
    ),
    unioned AS (
      SELECT * FROM seg_rows
      UNION ALL SELECT * FROM onepass
      UNION ALL SELECT * FROM merged
    )
    SELECT seg, kth_min, n_hashes, true_distinct,
           ROUND({_KMV_NUM}.0
                 / NULLIF({kmv_hex_value_sql('kth_min')}, 0.0), 9)
             AS est_distinct
    FROM unioned
    """,
)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV distinct sketch (k=32 minimum md5 values) over customers
    per order priority, with the two receipts that make a distinct
    sketch shippable at 100 TB:

    - ``__onepass``: the sketch built over all keys in one pass.
    - ``__merged``: the k smallest of the UNION of the five per-
      segment sketches. KMV merges losslessly (global minima are
      segment minima), so its row is byte-identical to ``__onepass``
      — the distributive-merge property, per-executor grids summed by
      a coordinator, same story as ``sketch_countmin_merge``.

    Estimator: (k-1)/r_k where r_k = kth-min hash as a fraction of
    hash space, computed from the first 12 hex chars via the shared
    ``kmv_hex_value_sql`` digit fold — all-integer until the final
    ROUND(...,9) division. Hash ordering is lexicographic on hex
    strings (portable), never hex→int of the full digest.

    Scale shape: one distinct aggregate over the fact table (the only
    data-sized stage), then ``kmv_topk``'s salted two-phase ranking —
    no full per-segment sort, window partitions bounded at ~N/256 for
    phase 1 and 256·k rows for phase 2. The sketch itself is 32
    strings per segment: the thing you broadcast instead of keys.
    Engine-native HLL stays rows-only (`agg_approx_distinct`); this
    certifies the same capability portably."""
    orders = load_tables(spark, sf_dir)["orders"]
    pairs = (
        orders.select(F.col("o_orderpriority").alias("seg"), "o_custkey")
        .distinct()
        # three branches (per-segment sketch, per-segment truth, the
        # global hash set) each re-ran the fact scan + distinct
        # shuffle unmaterialized; |pairs| ≤ segments·customers.
        .localCheckpoint(eager=True)
    )
    hashed = pairs.select(
        "seg",
        F.md5(
            F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string"))
        ).alias("h"),
    )
    # seg_sk feeds both the per-segment report rows and the __merged
    # union sketch; k·segments rows — materialize instead of running
    # the salted two-phase ranking once per branch.
    seg_sk = (
        kmv_topk(hashed, ["seg"]).select("seg", "h").localCheckpoint(eager=True)
    )
    seg_true = pairs.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_distinct")
    )
    seg_rows = (
        seg_sk.groupBy("seg")
        .agg(
            F.max("h").alias("kth_min"),
            F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        )
        .join(F.broadcast(seg_true), "seg")
        .select("seg", "kth_min", "n_hashes", "true_distinct")
    )
    # the global hash set feeds the true count AND the __onepass
    # sketch ranking; ≤ |customers| rows of 32-char hex.
    glob = hashed.select("h").distinct().localCheckpoint(eager=True)
    gtrue = glob.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_distinct")
    )

    def _global_row(sk: DataFrame, label: str) -> DataFrame:
        return (
            sk.agg(
                F.max("h").alias("kth_min"),
                F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
            )
            .crossJoin(F.broadcast(gtrue))
            .select(
                F.lit(label).alias("seg"),
                "kth_min",
                "n_hashes",
                "true_distinct",
            )
        )

    onepass = _global_row(kmv_topk(glob, []), "__onepass")
    merged = _global_row(kmv_topk(seg_sk.select("h").distinct(), []), "__merged")
    est = F.expr(
        f"round({_KMV_NUM}.0"
        f" / nullif({kmv_hex_value_sql('kth_min')}, 0.0), 9)"
    )
    return (
        seg_rows.unionByName(onepass)
        .unionByName(merged)
        .withColumn("est_distinct", est)
    )


BLOOM_CAL_HEX = 3  # bit address = first 3 md5 hex chars -> m = 4096 positions
BLOOM_CAL_K = 2  # hash functions (seed prefixes 'b0:', 'b1:')


@query(
    "bloom_fpr_calibration",
    oracle=f"""
    WITH members AS (SELECT c_custkey AS key FROM customer),
    bits AS (
      SELECT DISTINCT r.r AS i,
             substr(md5('b' || CAST(r.r AS VARCHAR) || ':' ||
                        CAST(key AS VARCHAR)), 1, {BLOOM_CAL_HEX}) AS pos
      FROM members CROSS JOIN range({BLOOM_CAL_K}) r(r)
    ),
    probes AS (SELECT key + 1000000 AS key FROM members),
    probe_hits AS (
      SELECT p.key, COUNT(*) AS n_hit
      FROM (
        SELECT key, r.r AS i,
               substr(md5('b' || CAST(r.r AS VARCHAR) || ':' ||
                          CAST(key AS VARCHAR)), 1, {BLOOM_CAL_HEX}) AS pos
        FROM probes CROSS JOIN range({BLOOM_CAL_K}) r(r)
      ) p
      JOIN bits b ON b.i = p.i AND b.pos = p.pos
      GROUP BY p.key
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
      CAST(COUNT(*) AS BIGINT) AS n_false_positives,
      ROUND(CAST(COUNT(*) AS DOUBLE)
            / (SELECT COUNT(*) FROM probes), 9) AS observed_fpr
    FROM probe_hits WHERE n_hit = {BLOOM_CAL_K}
    """,
)
def bloom_fpr_calibration(spark, sf_dir):
    """Measured false-positive rate of a PORTABLE Bloom filter — the
    calibration receipt for the bloom-semi-join tier (whose runtime
    filter uses xxhash64 and is therefore only semantics-checked, the
    filter itself invisible in `join_bloom_semi_orders`' oracle).
    Here the filter is rebuilt from nothing but md5: bit addresses
    are the first 3 hex chars under k=2 seed prefixes (m=4096
    positions as STRINGS — the cms_bucket move), members are the
    customer keys, probes are members+1e6 (disjoint by construction),
    and a probe false-positives iff ALL k of its addresses are set —
    an INTEGER n_hit = k threshold, never a float score. Output is
    one row of integer counts plus the observed rate (single
    integer division, ROUND 9); the theory comparison
    (1-e^(-kn/m))^k lives in the unit test, NOT the oracle, because
    exp() is not guaranteed bit-identical across engines.

    Scale shape: the bit set is ≤ k·m rows (broadcast side of the
    probe join, 8 KiB here); members and probes are scanned once
    each. Sizing rule in the docstring of build_bloom_words applies:
    ~9.6 bits/key for 1% FP — this fixture deliberately undersizes
    (m/n ≈ 2.7 bits/key) so the measured rate is large enough to be
    a stable receipt."""
    cust = load_tables(spark, sf_dir)["customer"]
    members = cust.select(F.col("c_custkey").alias("key"))

    def _addr(keycol):
        return F.substring(
            F.md5(
                F.concat(
                    F.lit("b"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    keycol.cast("string"),
                )
            ),
            1,
            BLOOM_CAL_HEX,
        )

    seeds = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_CAL_K)]))
    bits = (
        members.select("key", seeds.alias("i"))
        .select("i", _addr(F.col("key")).alias("pos"))
        .distinct()
    )
    probes = members.select((F.col("key") + 1000000).alias("key"))
    probe_pos = probes.select("key", seeds.alias("i")).select(
        "key", "i", _addr(F.col("key")).alias("pos")
    )
    fp = (
        probe_pos.join(F.broadcast(bits), ["i", "pos"])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_CAL_K)
        .agg(F.count(F.lit(1)).alias("nfp"))
    )
    counts = (
        members.agg(F.count(F.lit(1)).alias("nm"))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("nb")))
        .crossJoin(probes.agg(F.count(F.lit(1)).alias("np_")))
    )
    return F.broadcast(counts).crossJoin(fp).select(
        F.col("nm").cast("bigint").alias("n_members"),
        F.col("nb").cast("bigint").alias("n_bits_set"),
        F.col("np_").cast("bigint").alias("n_probes"),
        F.col("nfp").cast("bigint").alias("n_false_positives"),
        F.round(
            F.col("nfp").cast("double") / F.col("np_"), 9
        ).alias("observed_fpr"),
    )


@query(
    "skew_key_profile",
    oracle="""
    WITH keyed AS (
      SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk,
             COUNT(*) OVER () AS k_keys,
             SUM(n) OVER () AS total
      FROM keyed
    )
    SELECT CAST(MAX(k_keys) AS BIGINT) AS n_keys,
           CAST(MAX(total) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS max_n,
           CAST(MAX(CASE WHEN rk = (k_keys + 1) // 2 THEN n END) AS BIGINT)
             AS median_n,
           CAST(MAX(CASE WHEN rk = (k_keys + 99) // 100 THEN n END) AS BIGINT)
             AS p99_n,
           CAST(SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT)
             AS top10_n,
           ROUND(CAST(MAX(CASE WHEN rk = 1 THEN n END) AS DOUBLE)
                 * MAX(k_keys) / MAX(total), 9) AS skew_ratio,
           CAST((MAX(CASE WHEN rk = 1 THEN n END) * MAX(k_keys)
                 + MAX(total) - 1) // MAX(total) AS BIGINT)
             AS suggested_salts
    FROM ranked
    """,
)
def skew_key_profile(spark, sf_dir):
    """Join-key skew diagnostic — the planner input that decides
    between a plain shuffle join, AQE skew handling, and explicit
    salting (``salted_join``). One keyed aggregate, then every
    statistic comes from integer rank selection over the key-count
    distribution (rank 1 = max, integer-div ranks for median/p99 —
    no float quantiles, the ``range_partition_boundaries``
    discipline): key count, row count, max/median/p99 per-key
    counts, top-10 mass, skew ratio max/mean, and the suggested salt
    count ``ceil(max_n / mean_n)`` as pure integer arithmetic — the
    n_salts that spreads the hottest key to average-sized tasks.

    Scale shape: the only data-sized stage is the per-key count
    (map-side combinable). Rank selection never sorts the key frame
    in one task (the round-5 scale finding): median/p99 come from
    the DISTINCT-count-value cumulative via the bucketed distributed
    prefix-sum (`windows.bucketed_cum`, relative-width value
    buckets), the top-10 mass is a TakeOrderedAndProject, and
    max/total are plain aggregates. A uniform corpus reads
    skew_ratio ≈ 1 / suggested_salts = 1; this fixture's lineitem
    supplier key is near-uniform, and the test pins the degenerate
    skewed fixture the other way."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    li = load_tables(spark, sf_dir)["lineitem"]
    keyed = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    g = keyed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    # distribution over DISTINCT per-key counts, descending: buckets
    # are relative-width (3 significant digits), so the bucket index
    # is monotone in n, #buckets <= ~900 per decade, and each bucket
    # holds at most 0.1% of the n-domain — never the key count.
    rel_bucket = F.expr(
        "length(cast(n as string)) * 10000 + n div cast(power(10,"
        " greatest(length(cast(n as string)) - 3, 0)) as bigint)"
    )
    dist = (
        keyed.groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("kc"))
        .withColumn("b", rel_bucket)
    )
    cum = bucketed_cum(dist, "n", "b", ["kc"], ascending=False)

    def at(rank_expr):
        hit = (F.col("kc_cum") >= rank_expr) & (
            F.col("kc_cum") - F.col("kc") < rank_expr
        )
        return F.max(F.when(hit, F.col("n"))).cast("bigint")

    sel = (
        cum.join(F.broadcast(g.select("n_keys")), F.lit(True), "left")
        .agg(
            at(F.expr("(n_keys + 1) div 2")).alias("median_n"),
            at(F.expr("(n_keys + 99) div 100")).alias("p99_n"),
        )
    )
    top10 = (
        keyed.orderBy(F.col("n").desc(), "key")
        .limit(10)
        .agg(F.sum("n").cast("bigint").alias("top10_n"))
    )
    return (
        g.join(F.broadcast(sel), F.lit(True), "left")
        .join(F.broadcast(top10), F.lit(True), "left")
        .select(
            "n_keys",
            "n_rows",
            "max_n",
            "median_n",
            "p99_n",
            "top10_n",
            F.round(
                F.col("max_n").cast("double") * F.col("n_keys") / F.col("n_rows"), 9
            ).alias("skew_ratio"),
            F.expr(
                "cast((max_n * n_keys + n_rows - 1) div n_rows as bigint)"
            ).alias("suggested_salts"),
        )
    )


@query(
    "sketch_kmv_intersection",
    oracle=f"""
    WITH seg AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
      SELECT event_type AS sg,
             md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
      FROM seg
    ),
    sk AS (
      SELECT sg, h FROM (
        SELECT sg, h, ROW_NUMBER() OVER (PARTITION BY sg ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {KMV_K}
    ),
    prs AS (
      SELECT a.sg AS type_a, b.sg AS type_b
      FROM (SELECT DISTINCT sg FROM sk) a
      JOIN (SELECT DISTINCT sg FROM sk) b ON a.sg < b.sg
    ),
    uni AS (
      SELECT p.type_a, p.type_b, s.h
      FROM prs p JOIN sk s ON s.sg IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ),
    L AS (
      SELECT type_a, type_b, h FROM (
        SELECT type_a, type_b, h,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                  ORDER BY h) AS rn
        FROM uni
      ) WHERE rn <= {KMV_K}
    ),
    lstats AS (
      SELECT type_a, type_b, MAX(h) AS kth,
             CAST(COUNT(*) AS BIGINT) AS n_sketch
      FROM L GROUP BY 1, 2
    ),
    rho AS (
      SELECT l.type_a, l.type_b, CAST(COUNT(*) AS BIGINT) AS rho
      FROM L l
      JOIN sk sa ON sa.sg = l.type_a AND sa.h = l.h
      JOIN sk sb ON sb.sg = l.type_b AND sb.h = l.h
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS true_both
      FROM seg a JOIN seg b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b,
           COALESCE(r.rho, 0) AS rho,
           s.n_sketch,
           COALESCE(e.true_both, 0) AS true_both,
           ROUND(COALESCE(r.rho, 0) * (s.n_sketch - 1)
                 / NULLIF(CAST(s.n_sketch AS DOUBLE)
                          * ({kmv_hex_value_sql('s.kth')}
                             / {16 ** KMV_HEX}.0), 0.0), 9) AS est_both
    FROM lstats s
    LEFT JOIN rho r ON r.type_a = s.type_a AND r.type_b = s.type_b
    LEFT JOIN exact e ON e.type_a = s.type_a AND e.type_b = s.type_b
    ORDER BY s.type_a, s.type_b
    """,
)
def sketch_kmv_intersection(spark, sf_dir):
    """Segment-intersection estimation from KMV sketches — the
    theta-sketch set algebra that answers `events_audience_overlap`'s
    question when the segments are too big to intersect exactly: for
    each event-type pair, combine the two k=32 sketches, keep the k
    smallest of the union (threshold theta = kth min as a hash-space
    fraction), count the survivors present in BOTH input sketches
    (rho), and estimate |A∩B| = rho/k · (k-1)/theta (Beyer et al.'s
    KMV union estimator scaled by the intersection fraction). The
    exact intersection rides along as `true_both`, so the query is
    its own calibration report. Everything is deterministic md5
    order statistics — integers and hex compares until the final
    ROUND(...,9) — and the sketches are 32 strings per segment: what
    a coordinator would exchange instead of user sets. One distinct
    reduction over events is the only data-sized stage."""
    from pyspark.sql import Window as W

    seg = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", "user_id")
        .distinct()
        # the sketch build reads it once and the exact-intersection
        # calibration self-join reads it twice more; unmaterialized
        # that is three fact scans + distinct shuffles. |seg| ≤
        # types·users.
        .localCheckpoint(eager=True)
    )
    hashed = seg.select(
        F.col("event_type").alias("sg"),
        F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    )
    # the per-segment sketch feeds FOUR branches (segment list, the
    # pairwise union, and both rho semi-join sides) — k·types rows.
    sk = (
        kmv_topk(hashed, ["sg"]).select("sg", "h").localCheckpoint(eager=True)
    )
    segs = sk.select("sg").distinct()
    prs = (
        segs.select(F.col("sg").alias("type_a"))
        .join(segs.select(F.col("sg").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    uni = (
        F.broadcast(prs)
        .join(
            sk,
            (F.col("sg") == F.col("type_a")) | (F.col("sg") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wL = W.partitionBy("type_a", "type_b").orderBy("h")
    # the union sketch feeds both the theta stats and the rho count;
    # k·C(types, 2) rows.
    L = (
        uni.withColumn("rn", F.row_number().over(wL))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    lstats = L.groupBy("type_a", "type_b").agg(
        F.max("h").alias("kth"),
        F.count(F.lit(1)).cast("bigint").alias("n_sketch"),
    )
    sa = sk.select(F.col("sg").alias("type_a"), F.col("h"))
    sb = sk.select(F.col("sg").alias("type_b"), F.col("h"))
    rho = (
        L.join(sa, ["type_a", "h"], "left_semi")
        .join(sb, ["type_b", "h"], "left_semi")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rho"))
    )
    exact = (
        seg.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            seg.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_both"))
    )
    theta = F.expr(kmv_hex_value_sql("kth")) / float(16**KMV_HEX)
    return (
        lstats.join(rho, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("rho"), F.lit(0)).cast("bigint").alias("rho"),
            "n_sketch",
            F.coalesce(F.col("true_both"), F.lit(0))
            .cast("bigint")
            .alias("true_both"),
            F.round(
                F.coalesce(F.col("rho"), F.lit(0))
                * (F.col("n_sketch") - 1)
                / F.expr(
                    "nullif(cast(n_sketch as double) * ({t}), 0.0)".format(
                        t=f"({kmv_hex_value_sql('kth')}) / {float(16 ** KMV_HEX)}"
                    )
                ),
                9,
            ).alias("est_both"),
        )
        .orderBy("type_a", "type_b")
    )
