"""Vector similarity operators over the ``embeddings`` table
(SURVEY.md §2.12 X3/X4 and the north-star similarity-search tier):
brute-force cosine top-k (the oracle-checkable baseline), cosine
near-dup pairs with label blocking, LSH-bucketed ANN (the scale
path), and per-label embedding statistics.

Numeric discipline: embeddings are float32 on disk; every engine
computes in float64 after an explicit element cast, and every
reduction is a sequential left fold (Spark ``aggregate`` ≡ DuckDB
``list_reduce``/``list_sum`` over the transformed list) so dot
products are bit-identical across engines.

Scale notes (100 TB embeddings):

* Brute force is O(Q·N·d) — correct but only for small Q; it stays
  as the correctness anchor and the re-rank stage.
* The ANN path buckets vectors by LSH sign bits (deterministic
  hyperplanes derived from a hash, no stored model), joins query →
  bucket, and brute-forces only within buckets: the classic
  IVF/LSH two-stage plan. Buckets are a plain column → the bucket
  join is an equi shuffle join Catalyst handles like any other.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables, per_corpus

# dot(a, b) over float32 lists in double, as a sequential fold —
# Spark SQL expression over array<double> columns
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate(transform({a}, x -> x * x), cast(0.0 as double), (acc, v) -> acc + v))"

# DuckDB equivalents (x[1]/x[2] are the zip struct fields)
_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x)))"


def _as_double_array(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _dlit(nested) -> F.Column:
    """array<array<double>> literal from a nested Python list, built
    as ONE SQL expression string parsed JVM-side.

    Round 12 (optimization guide §1.2): ``F.lit(nested_list)``
    constructs the literal element-by-element over py4j — thousands
    of driver round-trips for a codebook (measured: 4.5 s vs 0.6 s
    for the 8 × 64 × 8 learned books). ``repr(float)`` is the IEEE
    shortest round-trip form and Spark's ``D`` suffix parses it back
    to the bit-identical double (verified over 2005 adversarial
    values incl. 1e-300, -0.0). NaN and ±inf have no such literal, so
    they raise here instead of as a parse error inside Spark."""

    def lit(x) -> str:
        x = float(x)
        if not math.isfinite(x):
            raise ValueError("non-finite codebook value")
        return repr(x) + "D"

    return F.expr(
        "array("
        + ",".join("array(" + ",".join(lit(x) for x in row) + ")" for row in nested)
        + ")"
    )


def _argmin_idx(d2: F.Column) -> F.Column:
    """0-based index of the FIRST minimum of an array<double> — one
    sequential fold, value-identical to
    ``array_position(d2, array_min(d2)) - 1`` (strict ``<`` keeps the
    earliest occurrence, exactly array_position-of-min's tie rule).

    Round 12 (optimization guide §1.2 "per-task work"): the two-pass
    form referenced ``d2`` twice, and here ``d2`` embeds the whole
    k × sub_d codebook/centroid LITERAL — every reference duplicates
    thousands of literal nodes in the plan the optimizer must walk
    and every task binary must ship. The fold references ``d2`` once,
    halving the PQ/IVF build plans.

    The two forms diverge on an empty or all-NULL array: the fold
    returns 0 where the two-pass form returns NULL."""
    init = F.struct(
        F.lit(float("inf")).alias("d"),
        F.lit(0).cast("bigint").alias("i"),
        F.lit(0).cast("bigint").alias("j"),
    )
    return F.aggregate(
        d2,
        init,
        lambda acc, v: F.struct(
            F.least(v, acc["d"]).alias("d"),
            F.when(v < acc["d"], acc["j"]).otherwise(acc["i"]).alias("i"),
            (acc["j"] + F.lit(1).cast("bigint")).alias("j"),
        ),
        lambda acc: acc["i"],
    )


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach `vec` (double[]) and `norm` columns — shared prep."""
    return df.withColumn("vec", _as_double_array(vec_col)).withColumn(
        "norm", F.expr(_NORM.format(a="vec"))
    )


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_SQL_NORM.format(a='embedding')} AS norm
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    c AS (SELECT * FROM e WHERE vec_id >= 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.norm * c.norm) AS cosine
      FROM q, c
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 9) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def knn_bruteforce_cosine(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors against the
    rest: broadcast the (small) query side, score with a JVM
    higher-order-function fold, rank per query. The correctness
    anchor for every ANN variant."""
    t = load_tables(spark, sf_dir)
    e = with_unit_vectors(t["embeddings"])
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        (
            F.expr(_DOT.format(a="qvec", b="cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("cosine"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


@query(
    "neardup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_SQL_NORM.format(a='embedding')} AS norm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           ROUND({_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                   / (a.norm * b.norm), 9) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
            / (a.norm * b.norm) > 0.35
    """,
)
def neardup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs above cosine 0.35, blocked by label:
    the blocking key turns O(n²) into Σ per-block² — the standard
    dedup-by-ANN shape (at 100 TB the block key is an LSH bucket,
    same join plan, see ann_lsh_cosine)."""
    t = load_tables(spark, sf_dir)
    e = with_unit_vectors(t["embeddings"])
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("label"),
        F.col("vec").alias("avec"), F.col("norm").alias("anorm"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        F.col("vec").alias("bvec"), F.col("norm").alias("bnorm"),
    )
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
    cos = F.expr(_DOT.format(a="avec", b="bvec")) / (F.col("anorm") * F.col("bnorm"))
    return (
        pairs.withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") > 0.35)
        .select("vec_a", "vec_b", "label", F.round("cosine_raw", 9).alias("cosine"))
    )


@query(
    "vector_label_stats",
    oracle=f"""
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST({_SQL_NORM.format(a='embedding')} AS DECIMAL(18,6)))
                AS DOUBLE) AS sum_norm,
           ROUND(MIN({_SQL_NORM.format(a='embedding')}), 9) AS min_norm,
           ROUND(MAX({_SQL_NORM.format(a='embedding')}), 9) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def vector_label_stats(spark, sf_dir):
    """Per-label embedding stats (norm distribution) — the profiling
    pass before choosing an ANN layout. Norm sums ride DECIMAL for
    order-independence."""
    t = load_tables(spark, sf_dir)
    e = with_unit_vectors(t["embeddings"])
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("norm").cast("decimal(18,6)")).cast("double").alias("sum_norm"),
        F.round(F.min("norm"), 9).alias("min_norm"),
        F.round(F.max("norm"), 9).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# ANN scale path: sign-LSH buckets from deterministic hyperplanes
# ---------------------------------------------------------------------------

LSH_PLANES = 8  # 2^8 = 256 buckets per table
LSH_TABLES = 8  # OR-construction: candidate if same bucket in ANY table
LSH_PROBE_BITS = 8  # multi-probe: query also visits Hamming-1 buckets


_LSH_SIGN_PERIOD = 256  # planes repeat signs with this period in j


def _plane_sign(table: int, plane: int, j: int) -> float:
    """Deterministic ±1 for plane (table, plane) component j —
    splitmix64 bit-mix in pure Python, so the whole sign matrix is
    computed ONCE on the driver and baked into the plan as literals.
    (The previous design re-evaluated xxhash64(table, plane, j) per
    vector element per plane inside the fold: 8,192 hash calls per
    ROW at 16×8 planes — the hash, not the arithmetic, dominated.)"""
    z = (table * 1_000_003 + plane * 10_007 + j + 0x9E3779B97F4A7C15) & (2**64 - 1)
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
    z ^= z >> 31
    return 1.0 if z & 1 == 0 else -1.0


def _plane_masks(table: int, plane: int) -> list[int]:
    """The 256 ±1 signs of one plane packed into four signed 64-bit
    bitmask literals (bit set = negative sign)."""
    masks = []
    for w in range(_LSH_SIGN_PERIOD // 64):
        m = 0
        for b in range(64):
            if _plane_sign(table, plane, w * 64 + b) < 0:
                m |= 1 << b
        if m >= 2**63:  # two's-complement for a SQL BIGINT literal
            m -= 2**64
        masks.append(m)
    return masks


def _lsh_bucket_expr(
    vec_col: str, n_planes: int = LSH_PLANES, table: int = 0
) -> F.Column:
    """Sign-LSH bucket id for one hash table. Plane signs are
    driver-precomputed and baked into the plan as four 64-bit bitmask
    literals per plane (period ``_LSH_SIGN_PERIOD`` in j, so the
    expression is dimension-agnostic) — no stored model, every
    executor reads the same constants (same idea as the reference
    deriving shard placement purely from a hash,
    ElasticsearchRoutingStrategyV5.java:115-118). Per element the
    sign extraction is shift-and-mask integer ops in codegen: no hash
    calls (8,192/row in the first multi-table design) and no array
    allocation (256-element constructor per element in the second) —
    the fold is pure flops."""
    bits = []
    for p in range(n_planes):
        m0, m1, m2, m3 = _plane_masks(table, p)
        word = (
            f"CASE (pmod(j, {_LSH_SIGN_PERIOD}) div 64) "
            f"WHEN 0 THEN {m0}L WHEN 1 THEN {m1}L "
            f"WHEN 2 THEN {m2}L ELSE {m3}L END"
        )
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
            f"(x, j) -> CASE WHEN (shiftright({word}, pmod(j, 64)) & 1) = 0 "
            "THEN x ELSE -x END), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.alias("bucket")


def _lsh_table_buckets(
    vec_col: str, n_planes: int = LSH_PLANES, n_tables: int = LSH_TABLES
) -> F.Column:
    """Array of per-table bucket ids — posexplode to (table, bucket)
    for the OR-construction candidate join. An AND-only single table
    (the round-1/2 design) has near-zero recall on isotropic data:
    P(all 8 signs agree) ≈ 2^-8 per neighbor. T tables at the same
    width keep per-table precision but multiply recall ≈ T-fold; the
    shuffle grows only T× on the (tiny) bucket keys, never on the
    vectors."""
    return F.array(
        *[_lsh_bucket_expr(vec_col, n_planes, t) for t in range(n_tables)]
    )


def lsh_bucket_table(
    e: DataFrame,
    n_planes: int = LSH_PLANES,
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """(vec_id, table, bucket) for every vector — the bucket
    computation restructured as ONE posexplode + T·P conditional sums
    in a single aggregation (the SimHash plan from operators/text.py,
    which Catalyst turns into map-side partial aggregates).

    Why not T·P higher-order folds per row (``_lsh_bucket_expr``):
    every ``aggregate(zip_with(...))`` materializes an intermediate
    struct array, so 128 folds × 64 elements allocate ~8k short-lived
    objects per row — measured 7-8 s warm for 64k vectors. Here each
    exploded element is touched once per plane with shift-and-mask
    sign extraction (bitmask literals, no hash calls), the partial
    agg reduces to one 128-column row per vector per task, and the
    shuffle carries |vectors|×T·P doubles — signature-sized, exactly
    like the MinHash/SimHash signatures."""
    ex = e.select("vec_id", F.posexplode("vec").alias("j", "x"))
    dots = []
    for t in range(n_tables):
        for p in range(n_planes):
            m0, m1, m2, m3 = _plane_masks(t, p)
            word = (
                f"CASE (pmod(j, {_LSH_SIGN_PERIOD}) div 64) "
                f"WHEN 0 THEN {m0}L WHEN 1 THEN {m1}L "
                f"WHEN 2 THEN {m2}L ELSE {m3}L END"
            )
            signed = F.expr(
                f"CASE WHEN (shiftright({word}, pmod(j, 64)) & 1) = 0 "
                "THEN x ELSE -x END"
            )
            dots.append(F.sum(signed).alias(f"d_{t}_{p}"))
    sums = ex.groupBy("vec_id").agg(*dots)
    buckets = F.array(
        *[
            sum(
                (
                    F.when(F.col(f"d_{t}_{p}") >= 0, F.lit(1 << p)).otherwise(
                        F.lit(0)
                    )
                    for p in range(n_planes)
                ),
                F.lit(0),
            )
            for t in range(n_tables)
        ]
    )
    return sums.select(
        "vec_id", F.posexplode(buckets).alias("table", "bucket")
    )


# LSH bucket table persisted per (session, corpus) — round 11. The
# bucket computation (128 conditional-sum aggregates over the
# posexploded vectors) is the data-sized cost of the LSH family and
# was re-executed once per plan branch referencing it (query side +
# corpus side of ann_lsh_cosine, again inside ann_recall_report).
# A deployment stores the bucket table next to the vectors — it IS
# the LSH index; the session memo is the local-mode analogue, built
# once and charged in bench.py's cache_warm_pre_pass.
@per_corpus
def lsh_index(spark, sf_dir):
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    return lsh_bucket_table(e).persist()


@query("ann_lsh_cosine")  # rows-only: xxhash64-derived planes aren't SQL-portable
def ann_lsh_cosine(spark, sf_dir):
    """Multi-table MULTI-PROBE sign-LSH ANN: every vector gets
    ``LSH_TABLES`` bucket ids; the QUERY side additionally probes
    every Hamming-1 neighbor of its bucket (flip each of the
    ``LSH_PROBE_BITS`` sign bits) — the multi-probe LSH trick (Lv et
    al., VLDB'07): a near neighbor that lands one plane-sign away is
    still found, so probing buys the recall extra tables would,
    WITHOUT recomputing or storing more corpus signatures. Probing
    multiplies only the (queries × tables)-sized probe list by
    (1 + P); the corpus-side signature build — the data-sized cost —
    HALVES versus the previous 16-table design. Measured (sf0.1):
    16-table exact-probe recall@3 0.27 at 7.4 s → 8-table multiprobe
    0.67 at 3.8 s; same shape at sf0.01 (0.33 → 0.73).

    Candidates dedupe on bare (query, neighbor) ids BEFORE the
    vectors come back (the exact-cosine rerank joins the vector
    column in afterwards), so the expensive stage scores each
    candidate pair once regardless of how many probes proposed it.
    Recall vs the brute-force anchor is asserted in tests and
    surfaced by ``ann_recall_report``."""
    t = load_tables(spark, sf_dir)
    e = with_unit_vectors(t["embeddings"])
    tb = lsh_index(spark, sf_dir)
    q_ids = tb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        "table",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(LSH_PROBE_BITS)
                ],
            )
        ).alias("bucket"),
    )
    c_ids = tb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "table", "bucket"
    )
    cand = (
        F.broadcast(q_ids)
        .join(c_ids, ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    # rerank: the candidate list is tiny (≤ queries × tables ×
    # bucket-occupancy pairs) — BROADCAST IT against the corpus
    # vectors so the corpus side never shuffles its array column;
    # the join is map-side over the same scan that computed buckets.
    scored = (
        cv.join(F.broadcast(cand.join(F.broadcast(qv), "query_id")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr(_DOT.format(a="qvec", b="cvec"))
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Portable certification twin: LSH-BUCKETED embedding near-dup
# ---------------------------------------------------------------------------
#
# neardup_embedding_cosine blocks by label as a stand-in for the LSH
# bucket its docstring promises at 100 TB — but the label block is a
# replica artifact at the salted-100x tier (the fixture's 10 labels
# make blocks grow linearly with copies, so within-block pairs grow
# quadratically; it is fenced there). This twin IS the promised scale
# path, hash-oracle-checked: deterministic sign-LSH buckets from the
# SAME splitmix64 plane family ann_lsh_cosine serves from (tables 0-3
# of its 8), a per-(table, bucket) occupancy cap, exact cosine only
# within capped buckets. Work is bounded BY CONSTRUCTION at any corpus
# size: <= tables * 2^planes * C(cap, 2) scored pairs.

_NDL_TABLES = 4  # certifies tables 0-3 of ann_lsh_cosine's LSH_TABLES
_NDL_PLANES = LSH_PLANES  # the identical plane family BY REFERENCE —
# a verbatim numeric copy would desynchronize silently if the serving
# width were ever tuned (CLAUDE.md shared-fragment rule)
assert _NDL_TABLES <= LSH_TABLES, "twin certifies a subset of served tables"
_NDL_CAP = 32  # per-(table, bucket) occupancy cap — the scale bound
_NDL_DIM = 64  # embeddings are 64-wide (TESTDATA.md); the plane sign
# vectors are baked as 64-element literals into BOTH engines' plans,
# so the dimension is a build-time constant of the twin (the learned
# path stays dimension-agnostic via its pmod bitmask form). Vectors of
# any OTHER length are excluded up front on BOTH engines: a
# length-mismatched zip is where the engines' NULL semantics diverge
# (Spark zip_with pads with NULL and the fold NULL-poisons the dot;
# DuckDB list_sum silently skips the NULL products) — the one place a
# data array meets a fixed-length literal array in an oracle path.
_NDL_THRESH = "0.35"  # same literal as neardup_embedding_cosine


def _ndl_signs(table: int, plane: int) -> str:
    """±1.0 sign literals of plane (table, plane) — generated by the
    SAME `_plane_sign` splitmix64 mix the serving path bakes into its
    bitmask literals, so the twin certifies the production buckets."""
    return ", ".join(
        "1.0" if _plane_sign(table, plane, j) > 0 else "-1.0"
        for j in range(_NDL_DIM)
    )


def _ndl_bucket_spark(table: int) -> str:
    """Spark SQL expression for one table's bucket id: 8 sign bits,
    each the >= 0 test of a sequential-left-fold dot product against
    a baked ±1 plane (bit-identical to the oracle's list_sum fold)."""
    bits = []
    for p in range(_NDL_PLANES):
        dot = (
            f"aggregate(zip_with(vec, array({_ndl_signs(table, p)}), "
            "(x, y) -> x * cast(y as double)), cast(0.0 as double), "
            "(acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def _ndl_bucket_sql(table: int) -> str:
    """DuckDB twin of `_ndl_bucket_spark` — same literals, same fold."""
    bits = []
    for p in range(_NDL_PLANES):
        dot = (
            f"list_sum(list_transform(list_zip(vec, [{_ndl_signs(table, p)}]), "
            "x -> x[1] * CAST(x[2] AS DOUBLE)))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@query(
    "neardup_embedding_lsh_portable",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
      WHERE len(embedding) = {_NDL_DIM}
    ),
    m AS (
      SELECT vec_id, 0 AS tbl, {_ndl_bucket_sql(0)} AS bucket FROM e
      UNION ALL SELECT vec_id, 1, {_ndl_bucket_sql(1)} FROM e
      UNION ALL SELECT vec_id, 2, {_ndl_bucket_sql(2)} FROM e
      UNION ALL SELECT vec_id, 3, {_ndl_bucket_sql(3)} FROM e
    ),
    capped AS MATERIALIZED (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket, ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM m
      ) WHERE rk <= {_NDL_CAP}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    n AS MATERIALIZED (
      SELECT vec_id, vec,
             sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
      FROM e
    ),
    scored AS (
      SELECT vec_a, vec_b,
             list_sum(list_transform(list_zip(na.vec, nb.vec),
                                     x -> x[1] * x[2]))
               / NULLIF(na.nrm * nb.nrm, 0) AS cosine_raw
      FROM cand
      JOIN n na ON na.vec_id = cand.vec_a
      JOIN n nb ON nb.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b, ROUND(cosine_raw, 9) AS cosine
    FROM scored WHERE cosine_raw > {_NDL_THRESH}
    """,
)
def neardup_embedding_lsh_portable(spark, sf_dir):
    """Bucketed-bounded embedding near-dup, hash-checked end to end:
    every vector gets `_NDL_TABLES` sign-LSH bucket ids (the same
    splitmix64 plane family `ann_lsh_cosine` serves from), each
    (table, bucket) keeps its first `_NDL_CAP` members by
    (md5(vec_id), vec_id), candidate pairs are same-bucket-any-table
    (deduped BEFORE the vectors come back), and only candidates get
    the exact-cosine rerank and the > 0.35 near-dup filter —
    `neardup_embedding_cosine`'s semantics with its label block
    replaced by the bounded LSH block. Scored pairs are capped by
    construction at tables * 2^planes * C(cap, 2) regardless of
    corpus size (the envelope the 100x fence rationale points at;
    measured: 2.4k candidates/26 pairs at sf0.01, 467k/67k at the
    salted-100x replica where the label-blocked sibling is fenced).
    Bucket bits and cosines are sequential left folds on both
    engines, so every hash compare is bit-exact."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir)
    # the dim guard mirrors the oracle's len(embedding) = 64: a
    # length-mismatched zip against the baked literals is where the
    # engines' NULL semantics diverge (see the _NDL_DIM note)
    e = with_unit_vectors(
        t["embeddings"].filter(F.size("embedding") == _NDL_DIM)
    )
    memb = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(_ndl_bucket_spark(tb)) for tb in range(_NDL_TABLES)])
        ).alias("tbl", "bucket"),
    )
    w = W.partitionBy("tbl", "bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        memb.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NDL_CAP)
        .select("vec_id", "tbl", "bucket")
        # both self-join sides read this frame; unmaterialized, each
        # side re-runs the posexplode with the four 8-plane x 64-lane
        # fold bucket expressions plus the occupancy-cap window.
        # Bounded BY CONSTRUCTION: <= tables * 2^planes * cap rows of
        # three ints (32k at the shipped parameters).
        .localCheckpoint(eager=True)
    )
    a = capped.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = capped.select(
        F.col("vec_id").alias("vec_b"),
        F.col("tbl").alias("tbl_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("tbl") == F.col("tbl_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    # rerank joins shuffle on vec_id — candidates grow with the corpus
    # (bounded, but not broadcast-small by contract), so no broadcast
    # hint: AQE may still pick one when the bound is tiny
    va = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("avec"),
        F.col("norm").alias("anorm"),
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("bvec"),
        F.col("norm").alias("bnorm"),
    )
    cos = F.expr(_DOT.format(a="avec", b="bvec")) / F.expr(
        "nullif(anorm * bnorm, cast(0.0 as double))"
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") > F.lit(float(_NDL_THRESH)))
        .select("vec_a", "vec_b", F.round("cosine_raw", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# ANN scale path #2: IVF (inverted-file) — learned coarse quantizer
# ---------------------------------------------------------------------------


def fit_centroids_sampled(
    df,
    n_cells: int = 16,
    seed: int = 42,
    fit_cap: int = 100_000,
    max_iter: int = 20,
):
    """Train the IVF coarse quantizer on a seeded sample, driver-side.

    This is how production ANN systems train quantizers (faiss trains
    IVF on a bounded sample, never the corpus): centroid quality
    saturates long before ``fit_cap`` points for any practical
    ``n_cells``, so the fit cost is CONSTANT in corpus size — one
    sample scan to pull ≤ ``fit_cap`` vectors, then vectorized Lloyd
    iterations in numpy (||x-c||² via the x²+c²-2x·c expansion, no
    n×k×d intermediate). Replaces an MLlib KMeans fit whose ~maxIter
    distributed passes dominated wall-clock even at bench scale."""
    import numpy as np

    n = df.count()
    frac = min(1.0, fit_cap / max(n, 1))
    sample = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
    X = np.asarray(
        sample.select("vec").toPandas()["vec"].tolist(), dtype="float64"
    )
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    x2 = (X * X).sum(1)[:, None]
    for _ in range(max_iter):
        d = x2 + (cent * cent).sum(1)[None, :] - 2.0 * (X @ cent.T)
        lab = d.argmin(1)
        new = np.stack(
            [X[lab == j].mean(0) if (lab == j).any() else cent[j] for j in range(len(cent))]
        )
        if np.allclose(new, cent, atol=1e-9):
            cent = new
            break
        cent = new
    return [list(map(float, c)) for c in cent]


def assign_cells(df, centroids) -> DataFrame:
    """Attach ``cell`` = argmin-distance centroid index: ONE map-side
    pass of pure JVM expressions — the centroid list rides the plan
    as a nested array literal and each row takes argmin over the k
    distances inside whole-stage codegen; no MLlib, no UDF, no
    shuffle. Ties break on the LOWEST cell id (first array_min
    occurrence). Shared by the learned (KMeans) and the portable
    (md5-ranked) center families so both run the identical plan."""
    cent_lit = _dlit(centroids)  # array<array<double>> literal (expr-string)
    d2 = F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with("vec", c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    # single-pass first-min argmin (_argmin_idx): value-identical to
    # array_position(d2, array_min(d2)) - 1 but references the
    # centroid-literal d2 tree ONCE instead of twice
    return df.withColumn("cell", _argmin_idx(d2).cast("int"))


def ivf_assign(
    df,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    fit_cap: int = 100_000,
):
    """Return (centroids, assigned_df) — the classic IVF layout.

    Fit: sample-bounded driver-side Lloyd (``fit_centroids_sampled``),
    constant cost in corpus size. Assignment: ``assign_cells`` (JVM
    argmin over the centroid literal). The cell id then acts as a
    partition/bucket column so a probe touches n_probe/n_cells of
    the data."""
    centroids = fit_centroids_sampled(
        df, n_cells=n_cells, seed=seed, fit_cap=fit_cap
    )
    return centroids, assign_cells(df, centroids)


def ivf_probe_cells(spark, q: DataFrame, centroids: list, n_probe: int = 2) -> DataFrame:
    """(query_id, ccell) pairs: each query's ``n_probe`` nearest
    coarse cells, computed as a broadcast crossJoin of the (tiny)
    centroid table against the query side — fully distributed, no
    driver-side loop over collected query vectors. Ties on distance
    break by cell id (same order as a driver-side sort would give)."""
    from pyspark.sql import Window as W

    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "ccell int, cent array<double>"
    )
    d2 = F.expr(
        "aggregate(zip_with(qvec, cent, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    w = W.partitionBy("query_id").orderBy("d2", "ccell")
    return (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "ccell")
    )


# IVF index persisted per (session, corpus): an IVF index is fit and
# assigned ONCE, then serves every subsequent ANN query from the
# cached cell layout — the same serve-many discipline as search's
# postings cache and text's shingle cache. A 100 TB deployment writes
# `assigned` bucketed by cell instead; the session memo is the
# local-mode analogue.
@per_corpus
def ivf_index(spark, sf_dir, n_cells: int = 16, seed: int = 42):
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    centroids, assigned = ivf_assign(e, n_cells=n_cells, seed=seed)
    return centroids, assigned.persist()


@query("ann_ivf_cosine")  # rows-only: learned centroids aren't SQL-portable
def ann_ivf_cosine(spark, sf_dir):
    """Two-stage IVF ANN: KMeans coarse cells + probe the 2 nearest
    cells per query + exact cosine re-rank inside probed cells, top-3
    per query. Fit+assignment comes from the per-session IVF index
    cache. Recall vs the brute-force anchor asserted in
    tests/test_text_vectors.py."""
    centroids, assigned = ivf_index(spark, sf_dir, n_cells=16)

    q = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = assigned.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
        F.col("cell").alias("ccell"),
    )

    # probe table: query_id -> n_probe nearest centroid cells, as a
    # broadcast centroid join (no driver loop — scales to large Q)
    probes = ivf_probe_cells(spark, q, centroids, n_probe=2)

    scored = (
        F.broadcast(q.join(probes, "query_id"))
        .join(c, "ccell")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr(_DOT.format(a="qvec", b="cvec"))
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


def ivf_multi_assign(df, centroids, m: int = 2):
    """Explode each vector to its ``m`` nearest coarse cells. The
    distance array sorts as an array of (d, i) structs (struct sort is
    field-lexicographic, so ascending distance with cell-id
    tie-break) — all inside whole-stage codegen, no UDF. Multi-
    assignment is the standard recall knob for cluster-blocked dedup:
    pairs straddling one cell boundary still co-occur in a shared
    cell."""
    k = len(centroids)
    cent_lit = _dlit(centroids)
    d2 = F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with("vec", c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    ranked = F.array_sort(
        F.zip_with(
            d2,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
    )
    cells = F.transform(F.slice(ranked, 1, m), lambda s: s["i"])
    return df.withColumn("cell", F.explode(cells))


@per_corpus
def _semdedup_assigned(spark, sf_dir):
    """semdedup's m=2 multi-assigned frame (round 11): it feeds BOTH
    sides of the cell self-join, so unpersisted the centroid-literal
    assignment expressions executed twice per call (expression-id
    drift defeats ReuseExchange); this is the bucketed-by-cell table
    ``semdedup_ivf_cells``' 100 TB note describes. The corpus count
    that sizes the cells (column-pruned) runs once with it."""
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    n_cells = max(8, min(4096, (2 * e.count()) // 512))
    centroids, _ = ivf_index(spark, sf_dir, n_cells=n_cells)
    return ivf_multi_assign(e, centroids, m=2).persist()


@query("semdedup_ivf_cells")  # rows-only: learned centroids aren't SQL-portable
def semdedup_ivf_cells(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023: cluster the
    embedding space, dedup within clusters): each vector is assigned
    to its 2 nearest coarse cells, candidate pairs come from an
    equi-join on the cell id — Σ per-cell² work instead of n², with
    (n_cells, m) as the cost/recall knobs — and only candidates pay
    the exact cosine verify.

    The cell count SCALES with the corpus at CONSTANT target
    occupancy (n_cells = m·N/512, floor 8): per-cell pair work stays
    bounded at ~512²/2 and TOTAL candidate volume grows LINEARLY in
    N — a fixed cell count makes occupancy ∝ N and pair work ∝ N²,
    the quadratic blow-up SemDeDup's clustering exists to avoid
    (production IVF sizes nlist the same way). Measured: sf0.1
    16 s → ~12 s, 10× replica 154 s → ~42 s (and the gap widens with
    every further 10×). Small corpora keep the floor of 8 cells, so
    the recall regime the test pins (≥0.8 vs the exact global pair
    scan, m=2 multi-assign covering cell boundaries) is unchanged.
    At 100 TB `assigned` is written bucketed by cell so the
    self-join is co-located (no shuffle)."""
    assigned = _semdedup_assigned(spark, sf_dir)
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("avec"),
        F.col("norm").alias("anorm"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("bvec"),
        F.col("norm").alias("bnorm"),
    )
    cos = F.expr(_DOT.format(a="avec", b="bvec")) / (F.col("anorm") * F.col("bnorm"))
    return (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") > 0.35)
        .select("vec_a", "vec_b", F.round("cosine_raw", 9).alias("cosine"))
        .dropDuplicates(["vec_a", "vec_b"])
    )


# ONE centroid aggregation fragment, shared by vector_label_centroids
# and embedding_ood_candidates' oracle CTE (the round-7 fix had been
# applied to the former only — the ood oracle carried a verbatim copy
# of the PRE-fix CAST(v AS DECIMAL(18,9)) form, exactly the silent
# shared-fragment desync CLAUDE.md warns about; round 8 unified them).
_CENTROID_AGG_SQL = """
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(SUM(CAST(FLOOR(v * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1e9 / COUNT(*) AS mean_val
    FROM (
      SELECT label,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
             unnest(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
"""


@query(
    "vector_label_centroids",
    oracle=_CENTROID_AGG_SQL,
)
def vector_label_centroids(spark, sf_dir):
    """Per-label centroid vectors (element-wise mean pooling), in long
    (label, pos, mean_val) format — the class-centroid build step for
    nearest-centroid classification and per-cluster summarization.
    posexplode → one (label, pos) aggregation: the shuffle carries
    |labels| × dim partial sums thanks to map-side combine, never the
    raw vectors. Components quantize to the 1e-9 grain with PURE
    double arithmetic — floor(v*1e9 + 0.5), three IEEE ops both
    engines execute identically — then sum as exact BIGINTs, so the
    centroid is identical at any partition count AND engine. (The
    previous CAST(v AS DECIMAL(18,9)) quantization left the rounding
    of exact .5-boundary components to each engine's decimal-cast
    mode; the round-7 sf0.1 sweep caught one (label,pos) cell off by
    4.6e-12 that way.) Long format keeps the result engine-portable
    (array renderings aren't).

    Overflow envelope: each quantized term is bounded by
    max(|v|)*1e9, and Spark's non-ANSI sum(BIGINT) WRAPS silently
    while DuckDB's promotes to HUGEINT — so the bridge is exact only
    while rows_per_(label,pos) * max(|v|) * 1e9 < 2^63 (~9.2e18).
    With unit-normalized embeddings (|v| <= 1) that is ~9.2e9 rows
    per label — far above any tested scale and above the per-label
    corpus sizes the 100 TB framing implies, but NOT unconditional;
    tests/test_round8_adversarial.py pins the envelope arithmetic so
    the bound stays visible. If a corpus ever approaches it, switch
    the partial sums to DECIMAL(38,0)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "label", F.posexplode(_as_double_array("embedding")).alias("pos0", "v")
    )
    return (
        e.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            (
                F.sum(
                    F.floor(F.col("v") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("mean_val")
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: the 100 TB memory path (IVF-PQ)
# ---------------------------------------------------------------------------
#
# At 100 TB of float32 embeddings, even the IVF-probed subset is too
# big to hold or ship uncompressed. Product quantization (Jégou et al.
# 2011, the faiss IVF-PQ layout) splits each d-dim vector into n_sub
# blocks and replaces every block with the id of its nearest codeword
# from a per-block codebook of 2^n_bits entries: d floats become
# n_sub small ints (d=64 float32 = 256 B → 8 six-bit codes packed in one
# BIGINT here, a 32× compression), and approximate distances are computed
# against codebook reconstructions without ever touching the raw
# vectors. Fit is sample-bounded per block (constant in corpus size,
# same discipline as fit_centroids_sampled); encode and scoring are
# pure JVM expressions — the codebooks ride the plan as array
# literals, so scans of the coded table stay inside whole-stage
# codegen with no UDF, no MLlib, no driver loop.


def fit_pq_codebooks(
    df,
    n_sub: int = 8,
    n_bits: int = 6,
    seed: int = 42,
    fit_cap: int = 100_000,
    max_iter: int = 20,
):
    """Per-subspace codebooks: split sampled vectors into ``n_sub``
    contiguous blocks, Lloyd each block to 2^n_bits codewords
    (vectorized numpy, same x²+c²-2x·c expansion as
    ``fit_centroids_sampled``). Returns ``codebooks[s][k] ->
    list[float]`` of length d/n_sub."""
    import numpy as np

    n = df.count()
    frac = min(1.0, fit_cap / max(n, 1))
    sample = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
    X = np.asarray(sample.select("vec").toPandas()["vec"].tolist(), dtype="float64")
    d = X.shape[1]
    assert d % n_sub == 0, f"dim {d} not divisible by n_sub {n_sub}"
    sub_d = d // n_sub
    k = 1 << n_bits
    rng = np.random.default_rng(seed)
    books = []
    for s in range(n_sub):
        Xs = X[:, s * sub_d : (s + 1) * sub_d]
        cent = Xs[rng.choice(len(Xs), size=min(k, len(Xs)), replace=False)]
        x2 = (Xs * Xs).sum(1)[:, None]
        for _ in range(max_iter):
            dist = x2 + (cent * cent).sum(1)[None, :] - 2.0 * (Xs @ cent.T)
            lab = dist.argmin(1)
            new = np.stack(
                [
                    Xs[lab == j].mean(0) if (lab == j).any() else cent[j]
                    for j in range(len(cent))
                ]
            )
            if np.allclose(new, cent, atol=1e-9):
                cent = new
                break
            cent = new
        books.append([list(map(float, c)) for c in cent])
    return books


def pq_encode(df, codebooks):
    """Attach ``pq_code`` (one BIGINT packing all sub-block codes,
    n_bits bits each): per block, argmin distance to that block's
    codewords, entirely in JVM expressions — the codebook is an
    array<array<double>> literal, the block is a ``slice`` of the
    vector, distances fold inside codegen. One narrow map pass; the
    coded table is what a 100 TB deployment persists (and scans for
    every query), at 1/16th the bytes of the raw vectors."""
    n_sub = len(codebooks)
    k = len(codebooks[0])
    sub_d = len(codebooks[0][0])
    n_bits = max(1, (k - 1).bit_length())
    def _block_dist(block):
        # unary lambda for F.transform (a 2-arg lambda would be read
        # as (element, index) by the higher-order-function binder)
        return lambda c: F.aggregate(
            F.zip_with(block, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    code = F.lit(0).cast("bigint")
    for s in range(n_sub):
        book = _dlit(codebooks[s])
        block = F.slice(F.col("vec"), s * sub_d + 1, sub_d)
        d2 = F.transform(book, _block_dist(block))
        # single-pass first-min argmin (_argmin_idx): value-identical
        # to array_position(d2, array_min(d2)) - 1 but references the
        # codebook-literal d2 tree ONCE instead of twice — the plan
        # carries n_sub book literals, not 2·n_sub
        sub_code = _argmin_idx(d2)
        code = code + F.shiftleft(sub_code, s * n_bits)
    return df.withColumn("pq_code", code)


def pq_reconstruct_expr(codebooks, code_col: str = "pq_code") -> F.Column:
    """array<double> reconstruction of a packed code: unpack each
    block's bits, index the block's codebook literal, flatten. Used
    for asymmetric-distance scoring — dot(query, reconstruction) —
    so queries never need their own encoding."""
    n_sub = len(codebooks)
    k = len(codebooks[0])
    n_bits = max(1, (k - 1).bit_length())
    mask = (1 << n_bits) - 1
    parts = []
    for s in range(n_sub):
        book = _dlit(codebooks[s])
        idx = (
            F.shiftright(F.col(code_col), s * n_bits).bitwiseAND(F.lit(mask))
        ).cast("int")
        parts.append(F.element_at(book, idx + 1))
    return F.flatten(F.array(*parts))


@query("ann_ivfpq_cosine")  # rows-only: learned codebooks aren't SQL-portable
def ann_ivfpq_cosine(spark, sf_dir):
    """IVF-PQ ANN: coarse IVF cells prune the corpus (probe 2 of 16),
    PQ codes rank the probed candidates by asymmetric distance
    (query · reconstructed-codeword, 16× fewer candidate bytes than
    raw vectors), and only the PQ top-50 per query pays the exact
    cosine re-rank against full vectors — the standard three-stage
    faiss serving plan, expressed as two joins and a window. Recall
    vs the brute-force anchor is pinned in tests/test_text_vectors.py."""
    from pyspark.sql import Window as W

    centroids, assigned = ivf_index(spark, sf_dir, n_cells=16)

    # the persisted learned coded corpus (round 11): recon and its
    # norm are per-corpus-row values (functions of pq_code only), so
    # reading them from the cache is value-identical to re-evaluating
    # the codebook-literal expressions after the probe join — and the
    # giant literal plan ships once per session, not per job
    coded = _pq_coded(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = coded.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("ccell"),
        F.col("recon"),
        F.col("rnorm"),
    )
    probes = ivf_probe_cells(spark, q, centroids, n_probe=2)

    approx = (
        F.broadcast(q.join(probes, "query_id"))
        .join(c, "ccell")
        .withColumn(
            "pq_score",
            F.expr(_DOT.format(a="qvec", b="recon"))
            / (F.col("qnorm") * F.col("rnorm")),
        )
    )
    wpq = W.partitionBy("query_id").orderBy(F.col("pq_score").desc(), F.col("neighbor_id"))
    shortlist = (
        approx.withColumn("prn", F.row_number().over(wpq))
        .filter(F.col("prn") <= 50)
        .select("query_id", "qvec", "qnorm", "neighbor_id")
    )

    full = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    exact = shortlist.join(full, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        (
            F.expr(_DOT.format(a="qvec", b="cvec")) / (F.col("qnorm") * F.col("cnorm"))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


# PQ codebooks memoized per (session, corpus) — same serve-many
# discipline as the IVF cell layout they compose with.
@per_corpus
def _pq_books(spark, sf_dir, n_sub: int = 8, n_bits: int = 6, seed: int = 42):
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    return fit_pq_codebooks(e, n_sub=n_sub, n_bits=n_bits, seed=seed)


# Learned-codebook coded corpus persisted per (session, corpus) —
# round 11, the same move `_pqp_coded` made for the portable twins:
# `ann_ivfpq_cosine` and `pq_quantization_error` each re-evaluated the
# encode + reconstruction chain inline per call, and the codebook
# LITERALS make every such plan a giant expression tree whose
# per-job compile/ship cost dominates at any corpus size (measured
# this round: 13-18 s steady-state per query at sf0.1 with only 2-7
# jobs each — plan overhead, not data). The cached frame is the coded
# table `pq_encode`'s docstring names as what a 100 TB deployment
# persists: vec/norm/cell plus pq_code, recon and its norm.
@per_corpus
def _pq_coded(spark, sf_dir):
    _, assigned = ivf_index(spark, sf_dir, n_cells=16)
    books = _pq_books(spark, sf_dir)
    return (
        pq_encode(assigned, books)
        .withColumn("recon", pq_reconstruct_expr(books))
        .withColumn("rnorm", F.expr(_NORM.format(a="recon")))
        .persist()
    )


@query(
    "pq_quantization_error",
    oracle=None,
)
def pq_quantization_error(spark, sf_dir):
    """Compression quality audit: per-cell mean relative PQ
    reconstruction error ||v - recon||/||v|| and row counts — the
    metric that decides (n_sub, n_bits) before committing a 100 TB
    re-encode. One scan of the coded table; reconstruction happens
    in-expression (no second pass, no UDF)."""
    # one scan of the persisted learned coded table (round 11) — the
    # encode + reconstruction chain no longer re-evaluates per call
    coded = _pq_coded(spark, sf_dir)
    err = F.expr(
        "sqrt(aggregate(zip_with(vec, recon, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v))"
    ) / F.col("norm")
    return (
        coded.withColumn("rel_err", err)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("rel_err"), 6).alias("mean_rel_err"),
            F.round(F.max("rel_err"), 6).alias("max_rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# Portable PQ certification twins (round 5): the learned-KMeans PQ
# paths above are rows-only because a Lloyd fixpoint over float
# samples is not SQL-portable. These twins run the IDENTICAL encode /
# pack / reconstruct / asymmetric-score plan shapes (the same
# ``pq_encode`` / ``pq_reconstruct_expr`` JVM expressions) on a
# DETERMINISTIC codebook — the first PQP_K corpus vectors ranked by
# md5(vec_id) — which both engines can derive bit-identically, the
# same certification move ``neardup_minhash_portable`` made for the
# xxhash64 MinHash scale path. The learned variants stay the quality
# defaults; these certify the machinery with a value-hash oracle.
# ---------------------------------------------------------------------------

PQP_DIM = 64  # embeddings.embedding is FLOAT[64] in the fixtures
PQP_NSUB = 8  # subspaces -> 8-dim blocks
PQP_K = 16  # codewords per subspace -> 4-bit sub-codes, 32-bit packed
_PQP_SUB_D = PQP_DIM // PQP_NSUB
_PQP_BITS = (PQP_K - 1).bit_length()

# Portable coded corpus persisted per (session, corpus) — round 11.
# The four portable ANN/PQ twins each re-ran the encode chain
# (8 subspaces × 16 codewords × 8-dim folds per row, plus the 16-center
# cell argmin) from scratch; at bench scale the dominant cost is not
# the 2k rows but the GIANT expression tree the codebook literals
# produce — ~1.3 MiB task binaries and 50-200 KB plans, re-compiled
# and re-shipped per plan branch. ``pq_encode``'s own docstring states
# the production shape: the coded table is what a 100 TB deployment
# persists and scans for every query. This cache IS that coded table
# (vec_id, vec, norm, cell, pq_code, recon, rnorm — assignment + code
# + reconstruction + its norm), built once per session and charged in
# bench.py's cache_warm_pre_pass like the other index builds.
@per_corpus
def _pqp_coded(spark, sf_dir):
    """The portable-codebook coded corpus (see the comment above).

    Columns beyond ``with_unit_vectors``: ``cell`` (argmin distance to
    the 16 md5-ranked centers — ``assign_cells``), ``pq_code`` (packed
    BIGINT — ``pq_encode``), ``recon`` (codeword reconstruction) and
    ``rnorm`` (its norm). All four are the exact expressions the
    consumer queries previously evaluated inline, so every consumer's
    output is bit-identical by construction (re-verified by oracle
    hash)."""
    books = _pq_books_portable(spark, sf_dir)
    centers = [
        [x for s in range(PQP_NSUB) for x in books[s][j]] for j in range(PQP_K)
    ]
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    return (
        pq_encode(assign_cells(e, centers), books)
        .withColumn("recon", pq_reconstruct_expr(books))
        .withColumn("rnorm", F.expr(_NORM.format(a="recon")))
        .persist()
    )


@per_corpus
def _pq_books_portable(spark, sf_dir):
    """Deterministic codebooks: rank the corpus by
    ``md5(cast(vec_id as string))`` (ties by vec_id), take the first
    PQP_K vectors, slice each into PQP_NSUB contiguous blocks.
    ``orderBy().limit(k)`` plans as TakeOrderedAndProject — no full
    sort — and the driver pull is k vectors of d doubles (bounded by
    construction). Memoized per (session, corpus) like ``_pq_books``."""
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    rows = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQP_K)
        .select("vec")
        .collect()
    )
    return [
        [list(r["vec"][s * _PQP_SUB_D : (s + 1) * _PQP_SUB_D]) for r in rows]
        for s in range(PQP_NSUB)
    ]


# Shared oracle head: double-cast vectors, md5-ranked codebook,
# per-(vector, subspace, codeword) block distances via the same
# sequential list fold the Spark expressions use, first-min argmin
# with the code index as tie-break (= Spark's array_position-of-min),
# bit-packed code and ordered-flatten reconstruction.
_PQP_ORACLE_HEAD = f"""
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    ranked AS (
      SELECT vec, ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM e
    ),
    book AS (SELECT rk - 1 AS code, vec AS cw FROM ranked WHERE rk <= {PQP_K}),
    subs AS (SELECT CAST(s AS INTEGER) AS s FROM range({PQP_NSUB}) t(s)),
    enc AS (
      SELECT e.vec_id, subs.s, book.code,
             list_sum(list_transform(
               list_zip(
                 list_slice(e.vec, subs.s*{_PQP_SUB_D}+1, subs.s*{_PQP_SUB_D}+{_PQP_SUB_D}),
                 list_slice(book.cw, subs.s*{_PQP_SUB_D}+1, subs.s*{_PQP_SUB_D}+{_PQP_SUB_D})),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      FROM e CROSS JOIN subs CROSS JOIN book
    ),
    best AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    recon AS (
      SELECT b.vec_id,
             CAST(SUM(b.code << ({_PQP_BITS} * b.s)) AS BIGINT) AS pq_code,
             flatten(list(
               list_slice(k.cw, b.s*{_PQP_SUB_D}+1, b.s*{_PQP_SUB_D}+{_PQP_SUB_D})
               ORDER BY b.s)) AS rv
      FROM best b JOIN book k ON k.code = b.code
      GROUP BY b.vec_id
    )
"""


@query(
    "pq_error_portable",
    oracle=f"""
    WITH {_PQP_ORACLE_HEAD}
    SELECT e.vec_id, r.pq_code,
           ROUND(
             sqrt(list_sum(list_transform(list_zip(e.vec, r.rv),
                                          x -> (x[1]-x[2])*(x[1]-x[2]))))
             / NULLIF(sqrt(list_sum(list_transform(e.vec, x -> x*x))), 0),
             9) AS rel_err
    FROM e JOIN recon r ON r.vec_id = e.vec_id
    """,
)
def pq_error_portable(spark, sf_dir):
    """Hash-checked certification of the PQ encode→pack→reconstruct
    chain: per-vector packed code (BIGINT, exact) and relative
    reconstruction error (sequential-fold double, ROUND 9) under the
    deterministic md5-ranked codebook. Runs the same
    ``pq_encode``/``pq_reconstruct_expr`` JVM expressions as the
    learned-codebook ``pq_quantization_error`` — one narrow map pass
    over the corpus, codebooks as literals, no UDFs."""
    coded = _pqp_coded(spark, sf_dir)
    # NULLIF norm guard: an all-zero vector must yield NULL rel_err in
    # BOTH engines (Spark null-division) rather than Spark-NULL vs
    # DuckDB-inf — the round-4 advisor's zero-denominator class
    err = F.expr(
        "sqrt(aggregate(zip_with(vec, recon, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v))"
    ) / F.expr("nullif(norm, cast(0.0 as double))")
    return coded.select("vec_id", "pq_code", F.round(err, 9).alias("rel_err"))


@query(
    "ann_pq_portable",
    oracle=f"""
    WITH {_PQP_ORACLE_HEAD},
    q AS (
      SELECT vec_id AS query_id, vec AS qvec,
             sqrt(list_sum(list_transform(vec, x -> x*x))) AS qnorm
      FROM e WHERE vec_id < 10
    ),
    c AS (
      SELECT r.vec_id AS neighbor_id, r.rv,
             sqrt(list_sum(list_transform(r.rv, x -> x*x))) AS rnorm
      FROM recon r WHERE r.vec_id >= 10
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qvec, rv), x -> x[1]*x[2]))
               / NULLIF(qnorm * rnorm, 0) AS pq_score
      FROM q CROSS JOIN c
    )
    SELECT query_id, neighbor_id, ROUND(pq_score, 9) AS pq_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY pq_score DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def ann_pq_portable(spark, sf_dir):
    """Hash-checked certification of the PQ asymmetric-distance
    serving stage: query · reconstructed-codeword cosine over the
    coded corpus, top-3 per query with the (score desc, neighbor)
    tie-break — the exact scoring plan ``ann_ivfpq_cosine`` runs
    inside its probed cells, minus the (learned, non-portable) IVF
    pruning. Queries broadcast; candidates are scored from their
    packed codes alone."""
    from pyspark.sql import Window as W

    coded = _pqp_coded(spark, sf_dir)
    q = coded.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = coded.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "recon", "rnorm"
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        (
            F.expr(_DOT.format(a="qvec", b="recon"))
            / F.expr("nullif(qnorm * rnorm, cast(0.0 as double))")
        ).alias("pq_score"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("pq_score", 9).alias("pq_score"))
    )


@query(
    "ann_ivf_portable",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    ranked AS (
      SELECT vec, ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM e
    ),
    book AS (SELECT rk - 1 AS code, vec AS cw FROM ranked WHERE rk <= {PQP_K}),
    dist AS (
      SELECT e.vec_id, b.code,
             list_sum(list_transform(list_zip(e.vec, b.cw),
                                     x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      FROM e CROSS JOIN book b
    ),
    assign AS (
      SELECT vec_id, code AS cell FROM (
        SELECT vec_id, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, code AS cell FROM (
        SELECT vec_id, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
        FROM dist WHERE vec_id < 10
      ) WHERE rn <= 2
    ),
    q AS (
      SELECT vec_id AS query_id, vec AS qvec,
             sqrt(list_sum(list_transform(vec, x -> x*x))) AS qnorm
      FROM e WHERE vec_id < 10
    ),
    c AS (
      SELECT e.vec_id AS neighbor_id, e.vec AS cvec, a.cell,
             sqrt(list_sum(list_transform(e.vec, x -> x*x))) AS cnorm
      FROM e JOIN assign a ON a.vec_id = e.vec_id
      WHERE e.vec_id >= 10
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_sum(list_transform(list_zip(q.qvec, c.cvec), x -> x[1]*x[2]))
               / NULLIF(q.qnorm * c.cnorm, 0) AS cosine
      FROM q
      JOIN probes p ON p.query_id = q.query_id
      JOIN c ON c.cell = p.cell
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 9) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def ann_ivf_portable(spark, sf_dir):
    """Hash-checked certification of the full IVF serving plan —
    cell assignment (``assign_cells``, the SAME JVM argmin the
    learned path runs), 2-cell probe (``ivf_probe_cells``, the same
    broadcast centroid join), exact cosine re-rank inside probed
    cells — on deterministic md5-ranked centers, so the whole chain
    the rows-only ``ann_ivf_cosine`` runs on KMeans centroids gets a
    value-hash oracle. Completes the ANN certification set: LSH
    (MinHash/SimHash md5 twins), PQ (pq/ann_pq portable), now IVF."""
    from pyspark.sql import Window as W

    books = _pq_books_portable(spark, sf_dir)
    # centers = the same md5-ranked vectors the PQ twin uses, stitched
    # back from the cached per-subspace blocks (one driver pull total
    # for both portable families)
    centers = [
        [x for s in range(PQP_NSUB) for x in books[s][j]] for j in range(PQP_K)
    ]
    coded = _pqp_coded(spark, sf_dir)
    q = coded.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = coded.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
        F.col("cell").alias("ccell"),
    )
    probes = ivf_probe_cells(spark, q, centers, n_probe=2)
    scored = (
        F.broadcast(q.join(probes, "query_id"))
        .join(c, "ccell")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr(_DOT.format(a="qvec", b="cvec"))
                / F.expr("nullif(qnorm * cnorm, cast(0.0 as double))")
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


@query(
    "ann_ivfpq_portable",
    oracle=f"""
    WITH {_PQP_ORACLE_HEAD},
    dist AS (
      SELECT e.vec_id, b.code,
             list_sum(list_transform(list_zip(e.vec, b.cw),
                                     x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
      FROM e CROSS JOIN book b
    ),
    assign AS (
      SELECT vec_id, code AS cell FROM (
        SELECT vec_id, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, code AS cell FROM (
        SELECT vec_id, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
        FROM dist WHERE vec_id < 10
      ) WHERE rn <= 2
    ),
    q AS (
      SELECT vec_id AS query_id, vec AS qvec,
             sqrt(list_sum(list_transform(vec, x -> x*x))) AS qnorm
      FROM e WHERE vec_id < 10
    ),
    c AS (
      SELECT r.vec_id AS neighbor_id, r.rv, a.cell,
             sqrt(list_sum(list_transform(r.rv, x -> x*x))) AS rnorm
      FROM recon r JOIN assign a ON a.vec_id = r.vec_id
      WHERE r.vec_id >= 10
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_sum(list_transform(list_zip(q.qvec, c.rv), x -> x[1]*x[2]))
               / NULLIF(q.qnorm * c.rnorm, 0) AS pq_score
      FROM q
      JOIN probes p ON p.query_id = q.query_id
      JOIN c ON c.cell = p.cell
    )
    SELECT query_id, neighbor_id, ROUND(pq_score, 9) AS pq_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY pq_score DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def ann_ivfpq_portable(spark, sf_dir):
    """Hash-checked certification of the FULL IVF-PQ serving chain —
    the exact composition the rows-only ``ann_ivfpq_cosine`` runs on
    learned structures: cell assignment + 2-cell probe on the IVF
    centers (``assign_cells``/``ivf_probe_cells``, the plan
    ``ann_ivf_portable`` certifies) and asymmetric PQ scoring against
    reconstructed codewords inside the probed cells (the plan
    ``ann_pq_portable`` certifies), here chained end-to-end so the
    cell-pruned candidate set feeds the PQ scorer under ONE value
    hash. Centers and codebooks are the same md5-ranked driver pull
    both portable families share (one bounded pull serves all three
    ANN twins). Top-3 per query, (score desc, neighbor) tie-break."""
    from pyspark.sql import Window as W

    books = _pq_books_portable(spark, sf_dir)
    centers = [
        [x for s in range(PQP_NSUB) for x in books[s][j]] for j in range(PQP_K)
    ]
    coded = _pqp_coded(spark, sf_dir)
    q = coded.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = coded.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        "recon",
        "rnorm",
        F.col("cell").alias("ccell"),
    )
    probes = ivf_probe_cells(spark, q, centers, n_probe=2)
    scored = (
        F.broadcast(q.join(probes, "query_id"))
        .join(c, "ccell")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr(_DOT.format(a="qvec", b="recon"))
                / F.expr("nullif(qnorm * rnorm, cast(0.0 as double))")
            ).alias("pq_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id", "neighbor_id", F.round("pq_score", 9).alias("pq_score")
        )
    )


# Per-method recall floors for the oracle-checked audit. Measured
# recall_vs_exact5: LSH 0.47 (sf0.001) / 0.60 (sf0.01); IVF and IVF-PQ
# 0.77 / 0.67. Floors sit well under the measured band so the check
# catches real index regressions (a broken bucketing collapses recall
# toward 0), not sampling jitter; the unit tests pin tighter.
_ANN_RECALL_FLOORS = (
    ("lsh_cosine", 0.3),
    ("ivf_cosine", 0.5),
    ("ivfpq_cosine", 0.5),
)


@query(
    "ann_recall_report",
    oracle="""
    SELECT 'lsh_cosine' AS method, CAST(3 AS INTEGER) AS k,
           CAST(0.3 AS DOUBLE) AS recall_floor, TRUE AS recall_ok
    UNION ALL
    SELECT 'ivf_cosine', CAST(3 AS INTEGER), CAST(0.5 AS DOUBLE), TRUE
    UNION ALL
    SELECT 'ivfpq_cosine', CAST(3 AS INTEGER), CAST(0.5 AS DOUBLE), TRUE
    """,
)
def ann_recall_report(spark, sf_dir):
    """Self-auditing recall report: every approximate index family
    (sign-LSH buckets, IVF probe cells, IVF-PQ compressed rerank)
    joined against the brute-force cosine anchor, recall@k computed
    in-plan. This is the query an operator of a 100 TB vector store
    runs after every index rebuild.

    Oracle design: the raw recall numbers depend on the internal
    index layout and aren't reproducible outside this engine, so the
    query emits the deterministic half — per-method recall FLOORS and
    the in-plan verdict that measured recall clears them. DuckDB
    reproduces the floors and a literal TRUE; a recall collapse flips
    ``recall_ok`` and fails the hash. The unit tests pin the actual
    recall values more tightly
    (test_text_vectors.py::test_ann_ivf_recall_vs_bruteforce etc.)."""
    exact = knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    impls = {
        "lsh_cosine": ann_lsh_cosine,
        "ivf_cosine": ann_ivf_cosine,
        "ivfpq_cosine": ann_ivfpq_cosine,
    }
    reports = []
    for method, floor in _ANN_RECALL_FLOORS:
        approx = impls[method](spark, sf_dir).select("query_id", "neighbor_id")
        k = 3  # every ANN query returns top-3; anchor holds top-5
        hits = approx.join(exact, ["query_id", "neighbor_id"], "semi")
        reports.append(
            hits.agg(
                F.lit(method).alias("method"),
                F.lit(k).cast("int").alias("k"),
                F.lit(float(floor)).alias("recall_floor"),
                ((F.count(F.lit(1)) / F.lit(30.0)) >= F.lit(float(floor))).alias(
                    "recall_ok"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@query(
    "embedding_dimension_stats",
    oracle="""
    WITH dims AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(range(1, len(embedding) + 1)) AS r(i)
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sum_x,
           ROUND(MIN(x), 9) AS min_x,
           ROUND(MAX(x), 9) AS max_x
    FROM dims
    GROUP BY dim
    ORDER BY dim
    """,
)
def embedding_dimension_stats(spark, sf_dir):
    """Per-dimension statistics over the embedding column — the
    normalization pass every vector store runs before choosing an
    index layout (mean-centering for PQ, scale checks for LSH plane
    balance, dead-dimension detection). posexplode to (dim, x), one
    aggregate; map-side partials carry |dims| rows per task, so the
    shuffle is dimension-sized, never corpus-sized. Component sums
    ride DECIMAL for order-independence (same discipline as
    vector_label_centroids)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    dims = e.select(
        F.posexplode(F.expr("transform(embedding, x -> cast(x as double))"))
        .alias("dim", "x")
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("sum_x"),
            F.round(F.min("x"), 9).alias("min_x"),
            F.round(F.max("x"), 9).alias("max_x"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n", "sum_x", "min_x", "max_x")
        .orderBy("dim")
    )


def power_iteration_top_component(
    e: DataFrame, n_iter: int = 12
) -> tuple[list, float]:
    """Top principal component of the (mean-centered) embedding cloud
    by distributed power iteration. Per iteration: ONE pass over the
    data — score s = ⟨x−μ, v⟩ per row (a fold against the broadcast
    literal v), then per-dimension weighted sums Σ s·(x−μ) via
    posexplode + aggregate (map-side partials carry d values per
    task). Only the d-vector ever reaches the driver, so iteration
    cost is constant in corpus size — the same discipline as the
    sampled IVF fit, but exact: power iteration converges
    geometrically in λ₁/λ₂ regardless of n.

    The deterministic all-ones start vector makes runs reproducible;
    if it were orthogonal to the top component (measure-zero),
    convergence would stall — n_iter is generous for the tested
    clouds and the parity test asserts alignment with numpy."""
    mu_row = (
        e.select(F.posexplode("vec").alias("j", "x"))
        .groupBy("j")
        .agg(F.avg("x").alias("m"))
        .orderBy("j")
        .collect()
    )
    mu = [r["m"] for r in mu_row]
    d = len(mu)
    v = [1.0 / math.sqrt(d)] * d
    mu_lit = "array(" + ", ".join(f"{m!r}D" for m in mu) + ")"
    # the eigenvalue divisor is the (iteration-invariant) row count —
    # hoisted out of the loop (round 11: the per-iteration
    # scored.count() was a full extra pass per iteration, 12 jobs
    # whose answer never changes)
    n_rows = max(e.count(), 1)
    eig = 0.0
    for _ in range(n_iter):
        v_lit = "array(" + ", ".join(f"{c!r}D" for c in v) + ")"
        centered = e.withColumn(
            "cvec", F.expr(f"zip_with(vec, {mu_lit}, (x, m) -> x - m)")
        )
        scored = centered.withColumn(
            "s",
            F.expr(
                f"aggregate(zip_with(cvec, {v_lit}, (x, c) -> x * c), "
                "cast(0.0 as double), (acc, t) -> acc + t)"
            ),
        )
        w_rows = (
            scored.select("s", F.posexplode("cvec").alias("j", "x"))
            .groupBy("j")
            .agg(F.sum(F.col("s") * F.col("x")).alias("w"))
            .orderBy("j")
            .collect()
        )
        w = [r["w"] for r in w_rows]
        norm = math.sqrt(sum(c * c for c in w))
        eig = norm / n_rows
        v = [c / norm for c in w]
        if v[0] < 0:  # fix sign for determinism (eigenvectors are ±)
            v = [-c for c in v]
    return v, eig


@query("embedding_top_component")  # rows-only: iterative float fixpoint
def embedding_top_component(spark, sf_dir):
    """Top principal component of the embedding table as a query:
    (dim, component, mean) — the direction a curator inspects for
    dataset-level anisotropy (an embedding model whose outputs
    collapse toward one direction embeds near-duplicates everywhere)
    and the whitening direction ANN index builders remove first.
    Iterative (power method), so no SQL oracle — pinned against
    numpy's exact eigendecomposition in tests."""
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    v, eig = power_iteration_top_component(e)
    mu = (
        e.select(F.posexplode("vec").alias("j", "x"))
        .groupBy("j")
        .agg(F.avg("x").alias("m"))
    )
    comp = F.array(*[F.lit(c) for c in v])
    return (
        mu.select(
            F.col("j").cast("int").alias("dim"),
            F.element_at(comp, F.col("j") + 1).alias("component"),
            F.round("m", 9).alias("mean"),
            F.lit(round(eig, 9)).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


@query(
    "vector_norm_outliers",
    oracle="""
    WITH norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(FLOOR(x * x * 1e12 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e12)
               AS l2_norm
      FROM (
        SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
      )
      GROUP BY vec_id
    ),
    stats AS (
      SELECT AVG(l2_norm) AS mu, STDDEV_SAMP(l2_norm) AS sigma FROM norms
    )
    SELECT vec_id,
           ROUND(l2_norm, 6) AS l2_norm,
           ROUND((l2_norm - mu) / sigma, 4) AS z
    FROM norms CROSS JOIN stats
    WHERE ABS((l2_norm - mu) / sigma) > 2
    ORDER BY vec_id
    """,
)
def vector_norm_outliers(spark, sf_dir):
    """Embedding-norm outlier report — the vector-QA pass a store
    runs before indexing (norm outliers are typically failed
    encodes, truncated inputs, or un-normalized batches; they poison
    cosine buckets and PQ codebooks). Per-vector L2 norms via a
    posexplode + exact sum of squares: each x² quantizes to the 1e-12
    grain with floor(x²·1e12 + 0.5) — pure IEEE ops both engines run
    identically — and sums as exact BIGINTs (order-independent →
    engine-portable; the previous CAST(x*x AS DECIMAL(24,12)) left
    .5-landing float products to each engine's decimal-cast rounding,
    which DIVERGES at scale ≥ 10: Spark HALF_UP vs DuckDB half-even —
    the round-8 tie-hunt primitive finding; max per-vector sum is
    dims·max(x²)·1e12 ≈ 2e13 ≪ 2^63, no wrap). Corpus mean/σ as a
    1-row crossJoin riding the plan, |z| > 2 rows reported. One
    dimension-explode shuffle, one scalar aggregate — no driver
    pulls."""
    e = load_tables(spark, sf_dir)["embeddings"]
    sq = e.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, x -> cast(x as double))"))
        .alias("dim", "x"),
    )
    norms = sq.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(
                F.floor(
                    F.col("x") * F.col("x") * F.lit(1e12) + F.lit(0.5)
                ).cast("bigint")
            ).cast("double")
            / F.lit(1e12)
        ).alias("l2_norm")
    )
    stats = norms.agg(
        F.avg("l2_norm").alias("mu"), F.stddev_samp("l2_norm").alias("sigma")
    )
    z = (F.col("l2_norm") - F.col("mu")) / F.col("sigma")
    return (
        norms.crossJoin(stats)
        .filter(F.abs(z) > 2)
        .select(
            "vec_id",
            F.round("l2_norm", 6).alias("l2_norm"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("vec_id")
    )


SEMDECON_EVAL_CUTOFF = 20  # vec_id < 20 plays the held-out eval set
SEMDECON_TAU = 0.35


@query(
    "decontaminate_semantic",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_SQL_NORM.format(a='embedding')} AS norm
      FROM embeddings
    ),
    ev AS (SELECT * FROM e WHERE vec_id < {SEMDECON_EVAL_CUTOFF}),
    c AS (SELECT * FROM e WHERE vec_id >= {SEMDECON_EVAL_CUTOFF}),
    scored AS (
      SELECT c.vec_id, ev.vec_id AS eval_id,
             {_SQL_DOT.format(a='c.embedding', b='ev.embedding')}
               / NULLIF(c.norm * ev.norm, 0) AS cosine
      FROM c, ev
    )
    SELECT vec_id, eval_id AS best_eval_id, ROUND(cosine, 9) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, eval_id) AS rn
      FROM scored
    )
    WHERE rn = 1 AND cosine >= {SEMDECON_TAU}
    """,
)
def decontaminate_semantic(spark, sf_dir):
    """Semantic (embedding-space) decontamination: flag every corpus
    vector whose best cosine against the held-out eval set reaches
    SEMDECON_TAU, with the matched eval item — the paraphrase-robust
    complement to the n-gram `decontaminate_eval_overlap` gate (a
    reworded eval question shares no 8-gram but still lands at high
    cosine). Argmax ties break on eval id, scores ROUND(9), same
    sequential-fold cosine both engines compute bit-identically.

    Scale shape: an eval set is SMALL by definition (thousands), so
    it broadcasts and the corpus is scanned ONCE with the scoring
    fold inside codegen — a linear pass at 100 TB, no shuffle of the
    corpus side at all (the per-vector argmax is a map-side window
    over the broadcast-multiplied rows, partitioned by corpus id).
    For repeated eval refreshes, the IVF path (`ann_ivf_cosine`)
    bounds the probe instead."""
    from pyspark.sql import Window as W

    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    ev = e.filter(F.col("vec_id") < SEMDECON_EVAL_CUTOFF).select(
        F.col("vec_id").alias("eval_id"),
        F.col("vec").alias("evec"),
        F.col("norm").alias("enorm"),
    )
    c = e.filter(F.col("vec_id") >= SEMDECON_EVAL_CUTOFF).select(
        "vec_id", "vec", "norm"
    )
    scored = c.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        (
            F.expr(_DOT.format(a="vec", b="evec"))
            / F.expr("nullif(norm * enorm, cast(0.0 as double))")
        ).alias("cosine"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "eval_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("cosine") >= SEMDECON_TAU))
        .select(
            "vec_id",
            F.col("eval_id").alias("best_eval_id"),
            F.round("cosine", 9).alias("cosine"),
        )
    )


# Fixed-point scales for the portable power iteration: every CROSS-ROW
# sum is SUM(CAST(FLOOR(term * scale) AS BIGINT)) — floor is the one
# float→int path with NO rounding-mode ambiguity across engines
# (DECIMAL casts round HALF_UP in Spark vs HALF_EVEN in DuckDB, which
# measurably drifts the 9th decimal over 10^5 casts), and BIGINT sums
# are associative. Scales keep every sum well under 2^53 at 100× the
# fixture (|term|·scale·N bounds in the docstring).
PIP_S1 = 10**6  # per-row component fold
PIP_SV = 10**5  # A^T·s sums (v1, v2)
PIP_S2 = 10**6  # per-row x·v1 fold


@query(
    "power_iteration_portable",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    s1 AS (
      SELECT vec_id, vec,
             CAST(list_sum(list_transform(
               vec, x -> CAST(FLOOR(x * {PIP_S1}) AS BIGINT)))
               AS DOUBLE) / {PIP_S1} AS s
      FROM e
    ),
    v1 AS (
      SELECT i - 1 AS j,
             CAST(SUM(CAST(FLOOR(vec[i] * s * {PIP_SV}) AS BIGINT))
               AS DOUBLE) / {PIP_SV} AS v
      FROM s1, UNNEST(range(1, 65)) AS r(i)
      GROUP BY i - 1
    ),
    v1l AS (SELECT list(v ORDER BY j) AS vl FROM v1),
    s2 AS (
      SELECT s1.vec_id, s1.vec,
             CAST(list_sum(list_transform(
               list_zip(s1.vec, v1l.vl),
               t -> CAST(FLOOR(t[1] * t[2] * {PIP_S2}) AS BIGINT)))
               AS DOUBLE) / {PIP_S2} AS s
      FROM s1 CROSS JOIN v1l
    ),
    v2 AS (
      SELECT i - 1 AS j,
             SUM(CAST(FLOOR(vec[i] * s * {PIP_SV}) AS BIGINT)) AS v
      FROM s2, UNNEST(range(1, 65)) AS r(i)
      GROUP BY i - 1
    ),
    denom AS (SELECT v AS d FROM v2 ORDER BY abs(v) DESC, j LIMIT 1)
    SELECT j AS dim,
           CAST(v AS BIGINT) AS component_fp,
           ROUND(CAST(v AS DOUBLE) / d, 9) AS component
    FROM v2 CROSS JOIN denom
    """,
)
def power_iteration_portable(spark, sf_dir):
    """Hash-checked certification of the power-method matvec chain
    the rows-only ``embedding_top_component`` runs: two iterations of
    v' = Aᵀ(A·v) from the all-ones start vector, entirely engine-side
    (the intermediate 64-vector travels as a collected array column,
    never to the driver). Portability is the pagerank_portable move
    applied to linear algebra: per-term products stay IEEE doubles
    (deterministic given identical inputs), and every CROSS-ROW sum —
    the thing re-partitioning would reorder — is a FLOOR-scaled
    BIGINT sum (see PIP_* scales), so no float addition and no
    DECIMAL rounding mode ever crosses a row boundary. Output is the
    sign-canonical direction: each of the 64 fixed-point components
    divided by the largest-|v| one (ties broken by dim), so the
    arbitrary eigenvector sign cancels. No centering, and NO
    convergence claim: the output is the exact two-step power-method
    iterate (AᵀA)²·1 — on an isotropic corpus (this fixture's
    λ1/λ2 ≈ 1.02) no fixed iteration count converges, so the
    certified object is the matvec CHAIN itself; the float path owns
    the mean-centered learned variant and its numpy pin.

    Magnitude bounds at 100× the fixture (N=2·10^5, |x|≲4): s≲256,
    v1 terms ≲ x·s·PIP_SV ≈ 10^8, summed ≈ 2·10^13; v2 terms
    ≲ x·s2·PIP_SV ≈ 3·10^10, summed ≈ 6·10^15 — inside 2^53. Scale
    shape per iteration: one map pass for the per-row fold, one
    64-group aggregate after a posexplode — the d×N explode is the
    standard dense-matvec shuffle and the only data-sized stage; at
    100 TB you block it (group rows, partial per-block BIGINT sums)
    without changing semantics because integer addition is
    associative."""
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    s1 = e.select(
        "vec",
        (
            F.expr(
                "aggregate(transform(vec, x -> "
                f"cast(floor(x * {PIP_S1}) as bigint)), "
                "cast(0 as bigint), (acc, t) -> acc + t)"
            ).cast("double")
            / PIP_S1
        ).alias("s"),
    )
    v1 = (
        s1.select("s", F.posexplode("vec").alias("j", "x"))
        .groupBy("j")
        .agg(
            (
                F.sum(
                    F.expr(f"cast(floor(x * s * {PIP_SV}) as bigint)")
                ).cast("double")
                / PIP_SV
            ).alias("v")
        )
    )
    v1l = v1.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, v))), t -> t.v)"
        ).alias("vl")
    )
    s2 = s1.crossJoin(F.broadcast(v1l)).select(
        "vec",
        (
            F.expr(
                "aggregate(zip_with(vec, vl, (x, c) -> "
                f"cast(floor(x * c * {PIP_S2}) as bigint)), "
                "cast(0 as bigint), (acc, t) -> acc + t)"
            ).cast("double")
            / PIP_S2
        ).alias("s"),
    )
    v2 = (
        s2.select("s", F.posexplode("vec").alias("j", "x"))
        .groupBy("j")
        .agg(
            F.sum(
                F.expr(f"cast(floor(x * s * {PIP_SV}) as bigint)")
            ).alias("v")
        )
    )
    denom = (
        v2.orderBy(F.abs(F.col("v")).desc(), "j")
        .limit(1)
        .select(F.col("v").alias("d"))
    )
    return v2.crossJoin(F.broadcast(denom)).select(
        F.col("j").cast("bigint").alias("dim"),
        F.col("v").cast("bigint").alias("component_fp"),
        F.round(F.col("v").cast("double") / F.col("d"), 9).alias("component"),
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, label, vec,
             list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
      FROM e
    ),
    err AS (
      SELECT label, scale,
             sqrt(list_sum(list_transform(vec, x ->
               (x - LEAST(GREATEST(floor(x / NULLIF(scale, 0) + 0.5),
                                   -127.0), 127.0) * scale)
               * (x - LEAST(GREATEST(floor(x / NULLIF(scale, 0) + 0.5),
                                     -127.0), 127.0) * scale)))) AS qerr
      FROM scaled
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(FLOOR(qerr * 1e12 + 0.5) AS BIGINT))
                   AS DOUBLE) / 1e12
                 / COUNT(*), 9) AS avg_qerr,
           ROUND(MAX(qerr), 9) AS max_qerr,
           ROUND(CAST(SUM(CAST(FLOOR(scale * 1e12 + 0.5) AS BIGINT))
                   AS DOUBLE) / 1e12
                 / COUNT(*), 9) AS avg_scale
    FROM err
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization audit — the storage
    decision every 100 TB vector corpus makes (4 bytes/dim float32 →
    1 byte/dim int8 is a 4× footprint cut; this query prices the
    reconstruction error of taking it). Per vector: scale =
    max|x|/127, q_i = clamp(floor(x_i/scale + 0.5), ±127) (explicit
    floor(+0.5) rounding so both engines share one rounding rule —
    never engine ROUND on a .5-boundary quotient), L2 reconstruction
    error ‖x − q·scale‖. Per label: count, mean/max error, mean
    scale. ONE map-side pass of JVM higher-order functions — no
    shuffle until the |labels|-row aggregate; per-row error folds are
    fixed left-to-right in both engines, cross-vector means quantize
    each term to the 1e-12 grain with floor(v·1e12 + 0.5) and sum as
    exact BIGINTs (plain CAST AS DECIMAL(24,12) diverges at scale ≥
    10 ties: Spark HALF_UP vs DuckDB half-even — round-8 tie-hunt;
    sums stay ≪ 2^63 at ≤1e10/term). Zero vectors
    quantize through NULLIF(scale,0) → NULL qerr, excluded by SUM on
    both sides identically."""
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    scaled = e.withColumn(
        "scale",
        F.expr(
            "aggregate(transform(vec, x -> abs(x)), cast(0.0 as double),"
            " (acc, v) -> greatest(acc, v))"
        )
        / 127.0,
    )
    qrecon = (
        "(x - least(greatest(floor(x / nullif(scale, 0) + 0.5),"
        " cast(-127.0 as double)), cast(127.0 as double)) * scale)"
    )
    err = scaled.withColumn(
        "qerr",
        F.expr(
            f"sqrt(aggregate(transform(vec, x -> {qrecon} * {qrecon}),"
            " cast(0.0 as double), (acc, v) -> acc + v))"
        ),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(
                    F.floor(
                        F.col("qerr") * F.lit(1e12) + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)),
                9,
            ).alias("avg_qerr"),
            F.round(F.max("qerr"), 9).alias("max_qerr"),
            F.round(
                F.sum(
                    F.floor(
                        F.col("scale") * F.lit(1e12) + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)),
                9,
            ).alias("avg_scale"),
        )
        .select("label", "n_vecs", "avg_qerr", "max_qerr", "avg_scale")
        .orderBy("label")
    )


# Truncation levels for the dimension-reduction recall curve: how
# much of full-64-dim top-5 cosine retrieval survives scoring on the
# first k dims only (Matryoshka-style cheap first-stage ranking).
TRUNC_DIMS = (8, 16, 32)


@query(
    "embedding_dim_truncation_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, vec AS cvec FROM e WHERE vec_id >= 10),
    scored AS (
      SELECT query_id, neighbor_id,
             {_SQL_DOT.format(a='qvec', b='cvec')}
               / NULLIF({_SQL_NORM.format(a='qvec')}
                        * {_SQL_NORM.format(a='cvec')}, 0) AS cos_full,
             {_SQL_DOT.format(a='qvec[1:8]', b='cvec[1:8]')}
               / NULLIF({_SQL_NORM.format(a='qvec[1:8]')}
                        * {_SQL_NORM.format(a='cvec[1:8]')}, 0) AS cos_8,
             {_SQL_DOT.format(a='qvec[1:16]', b='cvec[1:16]')}
               / NULLIF({_SQL_NORM.format(a='qvec[1:16]')}
                        * {_SQL_NORM.format(a='cvec[1:16]')}, 0) AS cos_16,
             {_SQL_DOT.format(a='qvec[1:32]', b='cvec[1:32]')}
               / NULLIF({_SQL_NORM.format(a='qvec[1:32]')}
                        * {_SQL_NORM.format(a='cvec[1:32]')}, 0) AS cos_32
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY COALESCE(cos_full, -2.0) DESC, neighbor_id) AS rn_full,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY COALESCE(cos_8, -2.0) DESC, neighbor_id) AS rn_8,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY COALESCE(cos_16, -2.0) DESC, neighbor_id) AS rn_16,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY COALESCE(cos_32, -2.0) DESC, neighbor_id) AS rn_32
      FROM scored
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rn_full <= 5 AND rn_8 <= 5 THEN 1 ELSE 0 END)
                AS INT) AS hits_8,
           CAST(SUM(CASE WHEN rn_full <= 5 AND rn_16 <= 5 THEN 1 ELSE 0 END)
                AS INT) AS hits_16,
           CAST(SUM(CASE WHEN rn_full <= 5 AND rn_32 <= 5 THEN 1 ELSE 0 END)
                AS INT) AS hits_32
    FROM ranked
    GROUP BY query_id
    ORDER BY query_id
    """,
)
def embedding_dim_truncation_recall(spark, sf_dir):
    """Recall@5 of truncated-dimension cosine retrieval vs the full
    64-dim ranking, per query, at prefix lengths {8,16,32} — the
    measurement behind the Matryoshka/two-stage serving decision
    (score a cheap k-dim prefix first, re-rank survivors at full
    width; this query prices the recall cost of each k). Evaluation
    runs on the 10-query sample by design (the decision tool, not
    the serving path — that is the ANN family). One broadcast
    crossJoin pass computes all four cosines per pair inside
    whole-stage codegen; four same-partition windows rank them;
    overlap counts are pure integers, so the only float work is the
    bit-exact IEEE fold both engines share. NULL cosines (zero-norm
    prefixes) pin to -2.0 before ranking so neither engine's NULL
    ordering is in play."""
    from pyspark.sql import Window as W

    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec")
    )

    def cos(prefix: int | None) -> F.Column:
        a = "qvec" if prefix is None else f"slice(qvec, 1, {prefix})"
        b = "cvec" if prefix is None else f"slice(cvec, 1, {prefix})"
        return F.coalesce(
            F.expr(_DOT.format(a=a, b=b))
            / F.expr(
                f"nullif({_NORM.format(a=a)} * {_NORM.format(a=b)},"
                " cast(0.0 as double))"
            ),
            F.lit(-2.0),
        )

    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cos(None).alias("cos_full"),
        *[cos(k).alias(f"cos_{k}") for k in TRUNC_DIMS],
    )
    ranked = scored.select(
        "query_id",
        *[
            F.row_number()
            .over(
                W.partitionBy("query_id").orderBy(
                    F.col(col).desc(), F.col("neighbor_id")
                )
            )
            .alias(f"rn_{suffix}")
            for col, suffix in [("cos_full", "full")]
            + [(f"cos_{k}", str(k)) for k in TRUNC_DIMS]
        ],
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            *[
                F.sum(
                    F.when(
                        (F.col("rn_full") <= 5) & (F.col(f"rn_{k}") <= 5), 1
                    ).otherwise(0)
                )
                .cast("int")
                .alias(f"hits_{k}")
                for k in TRUNC_DIMS
            ]
        )
        .orderBy("query_id")
    )


@query(
    "embedding_variance_profile",
    oracle="""
    WITH dims AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ),
    per_dim AS (
      SELECT CAST(dim AS INT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1e10 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e10 AS s1,
             CAST(SUM(CAST(FLOOR(x * x * 1e10 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e10 AS s2
      FROM dims GROUP BY dim
    ),
    stats AS (
      SELECT dim, n,
             ROUND(s1 / n, 9) AS mean_x,
             ROUND((s2 - s1 * s1 / n) / n, 9) AS var_x
      FROM per_dim
    ),
    tr AS (SELECT CAST(SUM(CAST(var_x AS DECIMAL(28,9))) AS DOUBLE) AS trace FROM stats)
    SELECT dim, n, mean_x, var_x,
           ROUND(var_x / trace, 9) AS var_share
    FROM stats CROSS JOIN tr
    ORDER BY dim
    """,
)
def embedding_variance_profile(spark, sf_dir):
    """Per-dimension mean/variance and each dimension's share of the
    total variance (trace) — the input to every PCA-budget /
    whitening / dead-dimension decision (`embedding_dimension_stats`
    profiles ranges; this profiles ENERGY, which is what
    ``embedding_dim_truncation_recall`` empirically prices and
    ``embedding_top_component`` extracts the principal direction of).
    One posexplode pass, dimension-keyed aggregate (map-side partials
    carry |dims| rows per task); population variance from Σx/Σx²
    quantized per-term to the 1e-10 grain with floor(v·1e10 + 0.5)
    and summed as exact BIGINTs so neither cross-partition order nor
    the engines' divergent scale-≥10 decimal-cast tie rounding (Spark
    HALF_UP vs DuckDB half-even — round-8 tie-hunt) can leak into the
    9th decimal; the trace (a sum of already-ROUND(9) doubles, the
    tie-safe cast class) rides back as a broadcast 1-row
    aggregate of the |dims|-row frame, and var_share divides the
    already-rounded var_x by a DECIMAL-summed trace, so the quotient
    sees bit-identical inputs on both engines."""
    e = load_tables(spark, sf_dir)["embeddings"]
    dims = e.select(
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("dim", "x")
    )
    per_dim = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(
                F.floor(F.col("x") * F.lit(1e10) + F.lit(0.5)).cast("bigint")
            ).cast("double")
            / F.lit(1e10)
        ).alias("s1"),
        (
            F.sum(
                F.floor(
                    F.col("x") * F.col("x") * F.lit(1e10) + F.lit(0.5)
                ).cast("bigint")
            ).cast("double")
            / F.lit(1e10)
        ).alias("s2"),
    )
    stats = per_dim.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s1") / F.col("n"), 9).alias("mean_x"),
        F.round(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / F.col("n"),
            9,
        ).alias("var_x"),
    )
    tr = stats.agg(
        F.sum(F.col("var_x").cast("decimal(28,9)"))
        .cast("double")
        .alias("trace")
    )
    return (
        stats.crossJoin(F.broadcast(tr))
        .select(
            "dim",
            "n",
            "mean_x",
            "var_x",
            F.round(F.col("var_x") / F.col("trace"), 9).alias("var_share"),
        )
        .orderBy("dim")
    )


def _mmr_oracle(k: int = 5, n_cand: int = 20, lam: str = "0.7") -> str:
    """Unrolled greedy-MMR oracle: selection step i is a repeated CTE
    block (max-sim-to-selected → argmax of the MMR score), so both
    engines evaluate the identical fixed-depth plan."""
    dot_qc = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    dot_ab = _SQL_DOT.format(a="a.vec", b="b.vec")
    steps = []
    for i in range(2, k + 1):
        prev = "sel1" if i == 2 else f"sel{i-1}"
        steps.append(f"""
    ms{i} AS MATERIALIZED (
      SELECT s.query_id, s.ca AS cid, MAX(s.sim) AS maxsim
      FROM sims s JOIN {prev} p
        ON p.query_id = s.query_id AND p.cid = s.cb
      GROUP BY 1, 2
    ),
    pick{i} AS MATERIALIZED (
      SELECT query_id, cid, rel, {i} AS pick_rank, mmr FROM (
        SELECT c.query_id, c.cid, c.rel,
               {lam} * c.rel - (1 - {lam}) * m.maxsim AS mmr,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {lam} * c.rel - (1 - {lam}) * m.maxsim DESC, c.cid
               ) AS rn2
        FROM cand c
        JOIN ms{i} m ON m.query_id = c.query_id AND m.cid = c.cid
        WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                          WHERE p.query_id = c.query_id AND p.cid = c.cid)
      ) WHERE rn2 = 1
    ),
    sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL
               SELECT query_id, cid, rel, pick_rank, mmr FROM pick{i})""")
    return f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_SQL_NORM.format(a='embedding')} AS norm
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    c AS (SELECT * FROM e WHERE vec_id >= 10),
    cand AS MATERIALIZED (
      SELECT query_id, cid, rel, vec, norm, rn FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cid,
               {dot_qc} / (q.norm * c.norm) AS rel,
               c.embedding AS vec, c.norm AS norm,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {dot_qc} / (q.norm * c.norm) DESC, c.vec_id
               ) AS rn
        FROM q, c
      ) WHERE rn <= {n_cand}
    ),
    sims AS MATERIALIZED (
      SELECT a.query_id, a.cid AS ca, b.cid AS cb,
             {dot_ab} / (a.norm * b.norm) AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.cid <> b.cid
    ),
    sel1 AS (
      SELECT query_id, cid, rel, 1 AS pick_rank, {lam} * rel AS mmr
      FROM cand WHERE rn = 1
    ),{','.join(steps)}
    SELECT query_id, CAST(pick_rank AS INT) AS pick_rank,
           cid AS neighbor_id,
           ROUND(rel, 9) AS cosine, ROUND(mmr, 9) AS mmr
    FROM sel{k}
    ORDER BY query_id, pick_rank
    """


@query("vector_mmr_diversify", oracle=_mmr_oracle())
def vector_mmr_diversify(spark, sf_dir, k: int = 5, n_cand: int = 20):
    """Maximal-marginal-relevance re-ranking (Carbonell-Goldstein,
    λ=0.7): pick 5 diverse neighbors per query from its top-20 cosine
    candidates — the de-duplicating re-rank layer retrieval systems
    put on top of plain k-NN so near-identical hits don't crowd the
    result page. Greedy selection is unrolled to a FIXED depth (k−1
    joins over the per-query candidate set), never a data-sized loop:
    candidate lists are 20 rows per query by construction, pairwise
    candidate sims are ≤ 20²·|Q| rows, and every step's work is
    candidates-sized regardless of corpus scale — the corpus is
    touched exactly once, by the relevance scan. All comparisons run
    on raw doubles computed by the same portable fold both engines
    use (knn_bruteforce_cosine's hash-green dot), with cid
    tie-breaks; rounding only at the output edge."""
    from pyspark.sql import Window as W

    lam = 0.7
    e = with_unit_vectors(load_tables(spark, sf_dir)["embeddings"])
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    rel = (
        F.expr(_DOT.format(a="qvec", b="cvec"))
        / (F.col("qnorm") * F.col("cnorm"))
    )
    from elastic_freight_spark.operators.windows import (
        skewed_topk_per_group,
    )

    wq = W.partitionBy("query_id")
    # rank ids WITHOUT the vector payload (the window would otherwise
    # sort-shuffle a 64-double array per scored pair — the knn plan's
    # lesson), via the two-phase salted top-k: each query scores the
    # ENTIRE corpus, so a plain per-query window is one corpus-sized
    # partition per query at scale; the salted decomposition spreads
    # it over 16 tasks per query with an identical result.
    scored = (
        F.broadcast(q)
        .crossJoin(c.select("cid", "cvec", "cnorm"))
        .select("query_id", "cid", rel.alias("rel"))
    )
    cand_ids = skewed_topk_per_group(
        scored,
        "query_id",
        [F.col("rel").desc(), F.col("cid")],
        n_cand,
        salt_src="cid",
    )
    # localCheckpoint TRUNCATES the logical plan, not just caches
    # data (persist+count left Catalyst re-analyzing the nested
    # lineage every iteration — measured 6s/step of pure planning at
    # sf0.1): the two bounded frames (20 rows/query; <=20 rows/query
    # squared) become flat scans for everything downstream. Eager,
    # executor-resident, no driver round-trip. (On a real cluster a
    # lost executor can't recompute a localCheckpoint partition — for
    # a <=10k-row frame the accepted trade; reliable alternative is
    # checkpoint() to the cluster FS.)
    cand = (
        F.broadcast(cand_ids)
        .join(c, "cid")
        .select("query_id", "cid", "rel", "rn", "cvec", "cnorm")
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "query_id",
        F.col("cid").alias("ca"),
        F.col("cvec").alias("avec"),
        F.col("cnorm").alias("anorm"),
    )
    b = cand.select(
        "query_id",
        F.col("cid").alias("cb"),
        F.col("cvec").alias("bvec"),
        F.col("cnorm").alias("bnorm"),
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "query_id",
            "ca",
            "cb",
            (
                F.expr(_DOT.format(a="avec", b="bvec"))
                / (F.col("anorm") * F.col("bnorm"))
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    sel = cand.filter(F.col("rn") == 1).select(
        "query_id",
        "cid",
        "rel",
        F.lit(1).alias("pick_rank"),
        (F.lit(lam) * F.col("rel")).alias("mmr"),
    )
    for i in range(2, k + 1):
        ms = (
            sims.join(
                sel.select("query_id", F.col("cid").alias("cb")),
                ["query_id", "cb"],
            )
            .groupBy("query_id", F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("maxsim"))
        )
        mmr = F.lit(lam) * F.col("rel") - (1 - lam) * F.col("maxsim")
        pool = (
            cand.join(sel.select("query_id", "cid"), ["query_id", "cid"], "left_anti")
            .join(ms, ["query_id", "cid"])
            .select("query_id", "cid", "rel", mmr.alias("mmr"))
        )
        pick = (
            pool.withColumn(
                "rn2",
                F.row_number().over(wq.orderBy(F.col("mmr").desc(), "cid")),
            )
            .filter(F.col("rn2") == 1)
            .select(
                "query_id", "cid", "rel", F.lit(i).alias("pick_rank"), "mmr"
            )
        )
        # pick_i references sel_{i-1} three times (max-sim join,
        # anti-join, union): an unmaterialized recurrence nests 3^k
        # subplans and Catalyst re-analyzes the whole tree per step.
        # Truncate per round — the selection frame is <=10k rows.
        sel = sel.unionAll(pick).localCheckpoint(eager=True)
    return (
        sel.select(
            "query_id",
            F.col("pick_rank").cast("int").alias("pick_rank"),
            F.col("cid").alias("neighbor_id"),
            F.round("rel", 9).alias("cosine"),
            F.round("mmr", 9).alias("mmr"),
        )
        .orderBy("query_id", "pick_rank")
    )


# Squared-L2 folds (Spark HOF / DuckDB list form) for the coreset ops.
_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)
_SQL_SQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
)


def _kcenter_oracle(k: int = 8, pool: int = 64) -> str:
    """Unrolled greedy farthest-point (k-center) oracle over the
    md5-deterministic candidate pool; step i is a repeated CTE block
    mirroring the Spark loop exactly."""
    d_ab = _SQL_SQDIST.format(a="a.vec", b="b.vec")
    steps = []
    for i in range(2, k + 1):
        prev = f"sel{i-1}" if i > 2 else "sel1"
        steps.append(f"""
    far{i} AS MATERIALIZED (
      SELECT cid, mind FROM (
        SELECT d.ca AS cid, MIN(d.d2) AS mind,
               ROW_NUMBER() OVER (ORDER BY MIN(d.d2) DESC, d.ca) AS rk
        FROM dists d JOIN {prev} p ON p.cid = d.cb
        WHERE NOT EXISTS (SELECT 1 FROM {prev} q WHERE q.cid = d.ca)
        GROUP BY d.ca
      ) WHERE rk = 1
    ),
    sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL
               SELECT {i} AS pick_rank, cid, mind FROM far{i})""")
    return f"""
    WITH pool AS MATERIALIZED (
      SELECT vec_id, embedding AS vec FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                 ORDER BY md5(concat('kc:', CAST(vec_id AS VARCHAR))), vec_id
               ) AS rn
        FROM embeddings
      ) WHERE rn <= {pool}
    ),
    seed AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY md5(concat('kc:', CAST(vec_id AS VARCHAR))), vec_id
               ) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ),
    dists AS MATERIALIZED (
      SELECT a.vec_id AS ca, b.vec_id AS cb, {d_ab} AS d2
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    sel1 AS (
      SELECT 1 AS pick_rank, vec_id AS cid, CAST(0.0 AS DOUBLE) AS mind
      FROM seed
    ),{','.join(steps)}
    SELECT CAST(pick_rank AS INT) AS pick_rank, cid AS vec_id,
           ROUND(mind, 9) AS min_sq_dist
    FROM sel{k}
    ORDER BY pick_rank
    """


@query("sample_coreset_kcenter", oracle=_kcenter_oracle())
def sample_coreset_kcenter(spark, sf_dir, k: int = 8, pool: int = 64):
    """Greedy k-center (farthest-point) coreset over the embedding
    space — the diversity-first data-selection primitive (pick
    examples that COVER the space, the complement of SemDeDup's
    remove-what's-crowded): seed = md5-first candidate, then k−1
    rounds of "add the point farthest from everything selected",
    recording each pick's covering radius (min squared L2 to the
    prior picks — the classic 2-approximation certificate). The
    candidate pool is a 64-point md5-deterministic sample, so the
    quadratic distance matrix is 64² rows BY CONSTRUCTION at any
    corpus size and the greedy loop is unrolled to fixed depth over
    localCheckpoint-truncated frames (the vector_mmr_diversify
    lesson); the only corpus-sized work is the one ranking scan that
    builds the pool. Scale the pool with a cluster-sized fit budget,
    never with the corpus."""
    from pyspark.sql import Window as W

    e = load_tables(spark, sf_dir)["embeddings"]
    # pool selection via orderBy+limit (distributed top-k), then rank
    # WITHIN the 64-row pool — a row_number window over the whole
    # corpus would be a single-partition sort of every vector at
    # scale.
    pool0 = (
        e.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "vec"
            ),
            F.md5(
                F.concat(F.lit("kc:"), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(pool)
    )
    pool_df = (
        pool0.withColumn(
            "rn", F.row_number().over(W.orderBy("h", "vec_id"))
        )
        .select("vec_id", "vec", "rn")
        .localCheckpoint(eager=True)
    )
    a = pool_df.select(F.col("vec_id").alias("ca"), F.col("vec").alias("avec"))
    b = pool_df.select(F.col("vec_id").alias("cb"), F.col("vec").alias("bvec"))
    dists = (
        a.crossJoin(b)
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "ca",
            "cb",
            F.expr(_SQDIST.format(a="avec", b="bvec")).alias("d2"),
        )
        .localCheckpoint(eager=True)
    )
    sel = pool_df.filter(F.col("rn") == 1).select(
        F.lit(1).alias("pick_rank"),
        F.col("vec_id").alias("cid"),
        F.lit(0.0).alias("mind"),
    )
    for i in range(2, k + 1):
        far = (
            dists.join(sel.select(F.col("cid").alias("cb")), "cb")
            .join(sel.select("cid").withColumnRenamed("cid", "ca"), "ca", "left_anti")
            .groupBy("ca")
            .agg(F.min("d2").alias("mind"))
            .withColumn(
                "rk",
                F.row_number().over(W.orderBy(F.col("mind").desc(), "ca")),
            )
            .filter(F.col("rk") == 1)
            .select(
                F.lit(i).alias("pick_rank"),
                F.col("ca").alias("cid"),
                "mind",
            )
        )
        sel = sel.unionAll(far).localCheckpoint(eager=True)
    return sel.select(
        F.col("pick_rank").cast("int").alias("pick_rank"),
        F.col("cid").alias("vec_id"),
        F.round("mind", 9).alias("min_sq_dist"),
    ).orderBy("pick_rank")


@query(
    "embedding_ood_candidates",
    oracle=f"""
    WITH centroids AS ({_CENTROID_AGG_SQL}),
    carr AS (
      SELECT label, list(mean_val ORDER BY pos) AS cvec
      FROM centroids GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             {_SQL_SQDIST.format(a='e.embedding', b='c.cvec')} AS dist2
      FROM embeddings e JOIN carr c ON c.label = e.label
    )
    SELECT vec_id, label, ROUND(dist2, 9) AS dist2
    FROM scored
    ORDER BY dist2 DESC, vec_id
    LIMIT 20
    """,
)
def embedding_ood_candidates(spark, sf_dir):
    """Label-noise / out-of-distribution screen: the 20 vectors
    farthest (squared L2) from their OWN label centroid — the
    nearest-centroid mislabel heuristic every embedding-curation
    pass runs before training a classifier head. Reuses the
    hash-green `vector_label_centroids` aggregation as ONE definition
    on BOTH sides (Spark: called as a function; oracle: the shared
    `_CENTROID_AGG_SQL` fragment — round 8 removed a drifted verbatim
    copy that still carried the pre-r7 decimal-cast form), pivots the
    long centroid format
    into per-label arrays (|labels| rows, broadcast), and computes
    each distance with the SAME left-to-right fold the knn/kcenter
    queries certify — array folds are order-deterministic where a
    SQL SUM over exploded components is not. Ranking is
    orderBy+limit (distributed top-k), never a global window."""
    cent = vector_label_centroids(spark, sf_dir)
    carr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_val"))
            ).alias("ps")
        )
        .select(
            "label",
            F.expr("transform(ps, x -> x.mean_val)").alias("cvec"),
        )
    )
    e = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", "label", _as_double_array("embedding").alias("vec")
    )
    scored = e.join(F.broadcast(carr), "label").select(
        "vec_id",
        "label",
        F.expr(_SQDIST.format(a="vec", b="cvec")).alias("dist2"),
    )
    # rank on the RAW distance like the oracle's ORDER BY (ranking
    # the rounded column could flip the limit cutoff), round at the
    # output edge
    return (
        scored.orderBy(F.col("dist2").desc(), "vec_id")
        .limit(20)
        .select("vec_id", "label", F.round("dist2", 9).alias("dist2"))
    )
