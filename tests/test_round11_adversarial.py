"""Round-11 adversarial pins.

1. The new `neardup_embedding_lsh_portable` twin (the round-10 verdict's
   one sanctioned registry addition): fixture-exact vs its DuckDB
   oracle including the zero-vector NULLIF edge, the occupancy cap as
   the bounded-by-construction envelope, and the plane family's
   identity with the serving path's bitmask literals.
2. Evidence-pointer linter (round-10 verdict item 7): a ledger/PERF
   note saying "recorded below" / "see ledger" must resolve to a real
   line-anchored record — round 10 shipped a dangling
   minhash_estimate_calibration retry pointer that three review passes
   missed because nothing machine-checked it.
"""
import os
import re
import sys
import tempfile

sys.path.insert(0, "/root/repo")

REPO = "/root/repo"


# --- the LSH-bucketed embedding near-dup twin ------------------------------


def _write_embeddings(spark, d, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(os.path.join(d, "embeddings.parquet"))


def test_neardup_embedding_lsh_portable_fixture_exact(spark):
    """Fixture-exact vs the DuckDB oracle: duplicate groups (must pair
    inside a bucket), a near-orthogonal outlier (must not pass the
    threshold), and an all-zero vector whose NULL cosine must be
    filtered identically by both engines (the NULLIF guard — Spark
    ANSI mode would otherwise throw on the bare division)."""
    from elastic_freight_spark import registry
    from tests.oracle_util import oracle_df

    registry.load_all()
    base = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
    near = list(base)
    near[0] += 0.05
    alt = [float((i * 11 % 23) - 11) / 10.0 for i in range(64)]
    rows = (
        [(i, [float(x) for x in base], 0) for i in range(10)]
        + [(10, [float(x) for x in near], 0)]
        + [(i, [float(x) for x in alt], 1) for i in range(11, 16)]
        + [(16, [0.0] * 64, 2)]
        # a length-63 vector: must be EXCLUDED identically by both
        # engines' dim guards (a mismatched zip against the 64-element
        # plane literals is where Spark's NULL-poisoned fold and
        # DuckDB's NULL-skipping list_sum would diverge)
        + [(17, [float(x) for x in base[:63]], 0)]
    )
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, d, rows)
        sp = (
            registry.QUERIES["neardup_embedding_lsh_portable"](spark, d)
            .toPandas()
            .sort_values(["vec_a", "vec_b"])
            .reset_index(drop=True)
        )
        od = (
            oracle_df(d, registry.ORACLE["neardup_embedding_lsh_portable"])
            .sort_values(["vec_a", "vec_b"])
            .reset_index(drop=True)
        )
    assert list(sp.columns) == ["vec_a", "vec_b", "cosine"]
    assert sp[sorted(sp.columns)].to_csv(index=False) == od[
        sorted(od.columns)
    ].to_csv(index=False)
    # the duplicate group must be found; the zero vector and the
    # length-63 vector never paired
    assert len(sp) >= 45  # C(10,2) exact-dup pairs at minimum
    assert not sp.vec_a.isin([16, 17]).any()
    assert not sp.vec_b.isin([16, 17]).any()
    assert (sp.cosine > 0.35).all()


def test_neardup_embedding_lsh_portable_cap_bounds_identical_flood(spark):
    """100 byte-identical vectors (the salted-replica worst case that
    fenced neardup_embedding_cosine) must yield EXACTLY C(cap, 2)
    pairs: every table buckets the copies together, the md5 rank picks
    the same `_NDL_CAP` members in each table, and the cross-table
    DISTINCT collapses the four capped blocks into one — bounded by
    construction, not by data."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import _NDL_CAP

    registry.load_all()
    v = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
    rows = [(i, [float(x) for x in v], 0) for i in range(100)]
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, d, rows)
        out = registry.QUERIES["neardup_embedding_lsh_portable"](
            spark, d
        ).toPandas()
    assert len(out) == _NDL_CAP * (_NDL_CAP - 1) // 2
    assert (out.cosine == 1.0).all()


def test_neardup_embedding_lsh_portable_sound_vs_bruteforce(spark):
    """Soundness: every pair the twin reports must be a REAL near-dup
    — present in the brute-force all-pairs cosine > 0.35 set with the
    identical rounded cosine. (Completeness is not claimed: LSH
    recall is probabilistic and audited by ann_recall_report on the
    serving path; soundness is what the exact-rerank stage
    guarantees and what this pins.)"""
    import numpy as np

    from elastic_freight_spark import registry

    registry.load_all()
    rng_vals = [
        [float(((i * 13 + j * 7) % 21) - 10) / 10.0 for j in range(64)]
        for i in range(30)
    ]
    # three exact duplicate pairs guarantee a nonempty report
    rows = [(i, rng_vals[i], i % 3) for i in range(30)] + [
        (100 + i, rng_vals[i], i % 3) for i in range(3)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, d, rows)
        out = registry.QUERIES["neardup_embedding_lsh_portable"](
            spark, d
        ).toPandas()
    assert len(out) >= 3
    ids = [r[0] for r in rows]
    # the table stores array<float>: truncate through float32 first,
    # as the engines do before their cast-to-double
    V = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    idx = {v: i for i, v in enumerate(ids)}

    def fold_dot(x, y):
        # the engines' sequential LEFT fold (aggregate ≡ list_sum) —
        # numpy's SIMD/pairwise dot differs by ULPs at the 9th decimal
        acc = 0.0
        for xi, yi in zip(x, y):
            acc += float(xi) * float(yi)
        return acc

    import math

    for _, r in out.iterrows():
        a, b = idx[r.vec_a], idx[r.vec_b]
        cos = fold_dot(V[a], V[b]) / (
            math.sqrt(fold_dot(V[a], V[a])) * math.sqrt(fold_dot(V[b], V[b]))
        )
        assert cos > 0.35, (r.vec_a, r.vec_b)
        assert round(cos, 9) == r.cosine, (r.vec_a, r.vec_b)


def test_ndl_planes_match_serving_path_bitmasks():
    """The twin's baked ±1 sign literals must be the SAME plane family
    the serving path (`ann_lsh_cosine` / `lsh_bucket_table`) extracts
    from its packed bitmask literals — otherwise the twin certifies
    buckets nobody serves from."""
    from elastic_freight_spark.operators.vectors import (
        _NDL_DIM,
        _NDL_PLANES,
        _NDL_TABLES,
        _ndl_signs,
        _plane_masks,
    )

    for t in range(_NDL_TABLES):
        for p in range(_NDL_PLANES):
            masks = _plane_masks(t, p)
            lits = _ndl_signs(t, p).split(", ")
            assert len(lits) == _NDL_DIM
            for j, lit in enumerate(lits):
                word = masks[j // 64] & (2**64 - 1)
                mask_neg = bool((word >> (j % 64)) & 1)
                assert (lit == "-1.0") == mask_neg, (t, p, j)


# --- evidence-pointer linter ------------------------------------------------


def _registered_names():
    from elastic_freight_spark import registry

    registry.load_all()
    return list(registry.QUERIES)


def _nearest_name_before(text, pos, names):
    """Whole-word nearest preceding registered-query name (a bare
    rfind would match `neardup_ngram_jaccard` inside its
    `_uncapped_audit` sibling). KNOWN LIMIT: attribution is
    nearest-name, so a pointer sentence that mentions a sibling query
    LAST is checked against the sibling — the ledger-writing
    convention is therefore to keep the subject query's name nearest
    its own forward pointer. This is a tripwire for the round-10
    dangling-record class, not a proof system."""
    import re as _re

    best = None
    for n in names:
        for m in _re.finditer(rf"(?<![A-Za-z0-9_]){_re.escape(n)}(?![A-Za-z0-9_])", text[:pos]):
            cand = (m.start(), n)
            if best is None or cand > best:
                best = cand
    assert best, "no registered query name precedes the pointer"
    return best[1]


def test_ledger_recorded_below_pointers_resolve():
    """Every 'recorded below' in CORRECTNESS_LEDGER.md must resolve to
    a later LINE-ANCHORED record: a line starting with the query name
    the pointer is about (the convention the neardup_embedding_cosine
    'final status' paragraph set). Round 10's dangling
    minhash_estimate_calibration retry pointer is the motivating bug:
    prose promised a record that was never pasted."""
    led = open(os.path.join(REPO, "CORRECTNESS_LEDGER.md")).read()
    names = _registered_names()
    for m in re.finditer(r"recorded below", led):
        name = _nearest_name_before(led, m.start(), names)
        tail_lines = led[m.end():].splitlines()
        anchored = [
            ln
            for ln in tail_lines
            if re.match(rf"{re.escape(name)}(?![A-Za-z0-9_])", ln)
        ]
        assert anchored, f"dangling 'recorded below' for {name}"


def test_perf_see_ledger_pointers_resolve():
    """Every PERF.md table row whose timing cell says 'see ledger'
    must have a line-anchored record in CORRECTNESS_LEDGER.md for the
    query named in that row."""
    perf = open(os.path.join(REPO, "PERF.md")).read()
    led = open(os.path.join(REPO, "CORRECTNESS_LEDGER.md")).read()
    led_lines = led.splitlines()
    for ln in perf.splitlines():
        if "see ledger" not in ln:
            continue
        m = re.match(r"\|\s*(\w+)\s*\|", ln)
        assert m, f"'see ledger' outside a table row: {ln!r}"
        name = m.group(1)
        anchored = [
            l
            for l in led_lines
            if re.match(rf"{re.escape(name)}(?![A-Za-z0-9_])", l)
        ]
        assert anchored, f"PERF.md 'see ledger' dangling for {name}"


# --- optimization-phase wave-2 pins (fourth session) -----------------------


def test_pagerank_symmetric_flag_matches_default(spark):
    """pagerank(symmetric=True) drops the per-iteration vertex outer
    join on the invariant that a symmetrized edge list gives every
    vertex an in-edge — on such a graph it must produce EXACTLY the
    default path's ranks (the removed COALESCE arm was unreachable,
    so the float expression tree is unchanged)."""
    from elastic_freight_spark.operators.scale import pagerank

    und = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 5), (5, 0)]
    rows = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(rows, "src long, dst long")
    base = {r["v"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    fast = {
        r["v"]: r["rank"]
        for r in pagerank(edges, n_iter=5, symmetric=True).collect()
    }
    assert fast == base  # exact float equality, all vertices present


def test_bootstrap_weight_decode_is_bit_identical(spark):
    """The round-11 conv()+CASE weight derivation must reproduce the
    original instr/substr + threshold-cast decode byte-for-byte over
    real md5 digests (the replicate weights ARE the query's
    resample)."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators.relational import (
        _BOOTSTRAP_B,
        _POISSON_CUTS,
    )

    h = spark.range(0, 5000).select(
        F.md5(F.concat(F.lit("bs:"), F.col("id").cast("string"))).alias("h")
    )

    def hexv(pos):
        return f"(instr('0123456789abcdef', substr(h, {pos}, 1)) - 1)"

    def casew(x):
        c = _POISSON_CUTS
        return (
            f"CASE WHEN {x} < {c[0]} THEN 0 WHEN {x} < {c[1]} THEN 1 "
            f"WHEN {x} < {c[2]} THEN 2 WHEN {x} < {c[3]} THEN 3 "
            f"WHEN {x} < {c[4]} THEN 4 ELSE 5 END"
        )

    old_w = [
        " + ".join(
            f"cast(({hexv(2 * b + 1)} * 16 + {hexv(2 * b + 2)}) >= {c} as int)"
            for c in _POISSON_CUTS
        )
        for b in range(_BOOTSTRAP_B)
    ]
    new_w = [
        casew(f"cast(conv(substr(h, {2 * b + 1}, 2), 16, 10) as int)")
        for b in range(_BOOTSTRAP_B)
    ]
    diff = h.filter(
        " OR ".join(f"({o}) <> ({n})" for o, n in zip(old_w, new_w))
    ).count()
    assert diff == 0


def test_pq_coded_and_semdedup_assign_caches_serve_many(spark):
    """Wave-2 serve-many pins: the learned coded corpus and
    semdedup's multi-assigned frame are per-session persisted caches
    (second call returns the SAME DataFrame), and the coded frame's
    recon/rnorm columns equal the inline expressions they replaced."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators import vectors

    sf = "/root/testdata/sf0.001"
    c1 = vectors._pq_coded(spark, sf)
    assert vectors._pq_coded(spark, sf) is c1
    assert c1.storageLevel.useMemory

    # recon equals a fresh inline reconstruction of the same codes
    books = vectors._pq_books(spark, sf)
    diff = (
        c1.withColumn("recon2", vectors.pq_reconstruct_expr(books))
        .withColumn(
            "ne",
            F.expr(
                "exists(zip_with(recon, recon2, (x, y) -> x <> y), v -> v)"
            ),
        )
        .filter("ne")
        .count()
    )
    assert diff == 0

    vectors.semdedup_ivf_cells(spark, sf).count()
    a1 = vectors._semdedup_assigned(spark, sf)
    assert a1.storageLevel.useMemory
    vectors.semdedup_ivf_cells(spark, sf).count()
    assert vectors._semdedup_assigned(spark, sf) is a1
