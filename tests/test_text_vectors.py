"""Accuracy tests for the rows-only (non-oracle) operators: MinHash
LSH vs exact Jaccard, sign-LSH ANN recall vs brute force, SimHash
similarity behavior, approx_count_distinct error bound."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR_ORACLE


@pytest.fixture(scope="module")
def q():
    import __spark_entry__ as e

    return e.queries()


def test_minhash_signature_shape(spark):
    from elastic_freight_spark.operators.text import MINHASH_PERMS, minhash_signatures

    sigs = minhash_signatures(spark, SF_DIR_ORACLE)
    row = sigs.first()
    assert len(row["signature"]) == MINHASH_PERMS
    # signatures deterministic across recomputation
    a = {r["doc_id"]: tuple(r["signature"]) for r in sigs.collect()}
    b = {r["doc_id"]: tuple(r["signature"]) for r in minhash_signatures(spark, SF_DIR_ORACLE).collect()}
    assert a == b


def test_minhash_estimates_jaccard(spark, q):
    """Banded-LSH estimated Jaccard must track exact n-gram Jaccard:
    every exact pair ≥ 0.5 should be found by LSH with est within
    0.25 (32 perms → σ ≈ 0.09)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["neardup_ngram_jaccard"](spark, SF_DIR_ORACLE).collect()
    }
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in q["neardup_minhash_lsh"](spark, SF_DIR_ORACLE).collect()
    }
    strong = {p: j for p, j in exact.items() if j >= 0.5}
    missed = [p for p in strong if p not in est]
    assert len(missed) <= max(1, len(strong) // 10), f"LSH missed {missed}"
    for p, j in strong.items():
        if p in est:
            assert abs(est[p] - j) < 0.25, (p, est[p], j)


def test_ann_lsh_recall(spark, q):
    """Bucketed ANN must recover a reasonable share of true top-3
    neighbors (random 64-dim data is LSH-hostile; the plan shape is
    what's under test, with a sanity floor on recall of the #1)."""
    brute = q["knn_bruteforce_cosine"](spark, SF_DIR_ORACLE)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute.filter(F.col("cosine").isNotNull()).collect()
        if r["cosine"] is not None
    }
    ann = q["ann_lsh_cosine"](spark, SF_DIR_ORACLE).collect()
    ann_pairs = {(r["query_id"], r["neighbor_id"]) for r in ann}
    # every ANN hit must be a genuine same-bucket cosine (sanity: no dup pairs)
    assert len(ann_pairs) == len(ann)
    # and ANN returns results for most queries
    assert len({r["query_id"] for r in ann}) >= 5
    # multi-probe recall floor: ANN top-3 must recover a solid share
    # of the TRUE top-3 pairs (brute returns top-5, so cut it to 3
    # per query — dividing by the top-5 set would cap the metric at
    # 0.6). Measured 0.73 with 8 tables x 1-bit probes vs 0.33 for
    # 16 exact-probe tables; 0.4 leaves margin for data regen.
    by_q = {}
    for r in brute.collect():
        by_q.setdefault(r["query_id"], []).append((-r["cosine"], r["neighbor_id"]))
    true_pairs = {
        (qid, nid)
        for qid, lst in by_q.items()
        for _, nid in sorted(lst)[:3]
    }
    recall = len(ann_pairs & true_pairs) / max(len(true_pairs), 1)
    assert recall >= 0.4, f"top-3 recall {recall:.2f}"


def test_simhash_close_docs_have_close_hashes(spark, q):
    """Hamming distance of SimHashes must correlate with Jaccard:
    the most similar exact pair should have sub-median Hamming
    distance."""
    sims = {r["doc_id"]: r["simhash"] for r in q["text_simhash"](spark, SF_DIR_ORACLE).collect()}
    exact = sorted(
        q["neardup_ngram_jaccard"](spark, SF_DIR_ORACLE).collect(),
        key=lambda r: -r["jaccard"],
    )
    if not exact:
        pytest.skip("no near-dup pairs at this sf")

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    best = exact[0]
    d_best = ham(sims[best["doc_a"]], sims[best["doc_b"]])
    import random

    rng = random.Random(42)
    ids = list(sims)
    rand_d = [ham(sims[rng.choice(ids)], sims[rng.choice(ids)]) for _ in range(200)]
    rand_d.sort()
    median = rand_d[len(rand_d) // 2]
    assert d_best < median, (d_best, median)


def test_approx_count_distinct_error(spark, q):
    """A6: approx_count_distinct within its 2% rsd (loose 3x bound)."""
    rows = q["agg_approx_distinct"](spark, SF_DIR_ORACLE).collect()
    from elastic_freight_spark.session import load_tables

    li = load_tables(spark, SF_DIR_ORACLE)["lineitem"]
    exact = {
        r["l_returnflag"]: r["x"]
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("x")).collect()
    }
    for r in rows:
        e = exact[r["l_returnflag"]]
        assert abs(r["approx_parts"] - e) / e < 0.06, (r, e)


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF with 2-probe must recover most of the brute-force top-3
    (tiny sf: recall well above chance; exact threshold kept loose
    because KMeans cells on 2k vectors are coarse)."""
    from elastic_freight_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["knn_bruteforce_cosine"](spark, sf)
        .filter("cosine IS NOT NULL")
        .collect()
        if r is not None
    }
    # top-3 of the brute-force top-5 per query
    by_q = {}
    for q, n in sorted(brute):
        by_q.setdefault(q, []).append(n)
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["ann_ivf_cosine"](spark, sf).collect()
    }
    assert len(ivf) == 30  # 10 queries x top-3
    hits = sum(1 for pair in ivf if pair in brute)
    assert hits / len(ivf) >= 0.5, f"IVF recall too low: {hits}/{len(ivf)}"


def test_connected_components_matches_union_find(spark):
    """Distributed min-label CC must equal a driver-side union-find
    over the same exact-Jaccard pair graph."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.text import connected_components

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    pairs = registry.QUERIES["neardup_ngram_jaccard"](spark, sf).select(
        "doc_a", "doc_b"
    )
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {}
    for n in parent:
        want.setdefault(find(n), set()).add(n)

    got_rows = connected_components(pairs).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["component"], set()).add(r["node"])

    # same clusters under min-label naming
    want_named = {min(v): v for v in want.values()}
    got_named = {min(v): v for v in got.values()}
    assert got_named == want_named

    # semantic difference vs the greedy trim: greedy can drop a chain
    # middle AND end; CC keeps exactly one doc per cluster
    comp_q = registry.QUERIES["dedup_corpus_connected_components"](spark, sf)
    assert comp_q.count() == len(want_named)


def test_ivf_fit_sample_bounded_and_probe_distributed(spark):
    """Scale contract for IVF: the KMeans fit input is capped at
    fit_cap rows (exercised here with cap < table size) while
    assignment still covers the full table, and the broadcast-join
    probe table equals a driver-side nearest-cell computation."""
    from elastic_freight_spark.operators.vectors import (
        ivf_assign,
        ivf_probe_cells,
        with_unit_vectors,
    )
    from elastic_freight_spark.session import load_tables

    e = with_unit_vectors(load_tables(spark, "/root/testdata/sf0.01")["embeddings"])
    n = e.count()
    cap = max(50, n // 4)
    assert cap < n  # the sample path is actually exercised
    centroids, assigned = ivf_assign(e, n_cells=4, fit_cap=cap)
    assert len(centroids) == 4
    assert assigned.count() == n  # assignment is over the FULL table

    q = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probes = {
        (r["query_id"], r["ccell"])
        for r in ivf_probe_cells(spark, q, centroids, n_probe=2).collect()
    }
    expected = set()
    for r in q.collect():
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(r["qvec"], c)), i)
            for i, c in enumerate(centroids)
        )
        expected |= {(r["query_id"], i) for _, i in dists[:2]}
    assert probes == expected


def test_dedup_lsh_matches_exact_path(spark):
    """The LSH-fronted scale dedup (candidates → exact verify →
    greedy trim) must produce exactly the exact-path per-source
    kept/dropped counts at sf0.01 — banding recall covers the 0.35
    threshold."""
    from elastic_freight_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.01"

    def rows(name):
        return {
            r["source"]: (r["n_docs"], r["n_kept"], r["n_dropped"])
            for r in registry.QUERIES[name](spark, sf).collect()
        }

    exact = rows("dedup_corpus_greedy")
    lsh = rows("dedup_corpus_lsh")
    assert lsh == exact
    assert sum(v[2] for v in exact.values()) > 0  # dups actually exist


def test_lsh_candidate_and_verified_pair_caches_serve_many(spark):
    """Round-11 optimization pin: the banded-LSH candidate frame and
    the exact-verified pair frame are per-session serve-many caches —
    a second call returns the SAME persisted DataFrame (no rebuild),
    and the shared verified frame is value-identical to an inline
    recompute of the candidate⋈shingle-sets⋈Jaccard-rerank subtree it
    replaced in dedup_corpus_lsh / pretrain_pipeline_report."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators.text import (
        lsh_candidate_pairs,
        lsh_verified_pairs,
        shingle_sets,
    )

    sf = "/root/testdata/sf0.001"
    cand1 = lsh_candidate_pairs(spark, sf)
    assert lsh_candidate_pairs(spark, sf) is cand1
    assert cand1.storageLevel.useMemory  # persisted, not a re-plan
    ver1 = lsh_verified_pairs(spark, sf)
    assert lsh_verified_pairs(spark, sf) is ver1
    assert ver1.storageLevel.useMemory

    # semantics pin: the shared frame == the inline subtree it replaced
    sets = shingle_sets(spark, sf)
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"),
        F.col("n").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    inline = (
        cand1.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= 0.35)
        .select("doc_a", "doc_b")
    )
    got = {(r["doc_a"], r["doc_b"]) for r in ver1.collect()}
    want = {(r["doc_a"], r["doc_b"]) for r in inline.collect()}
    assert got == want and got  # identical, and non-empty on the fixture


def test_neardup_paths_single_corpus_tokenization(spark):
    """Scale contract (mirrors the search postings test): once the
    per-session shingle-set cache is built, every near-dup policy's
    executed plan reads the cache — none re-reads the documents
    `text` column (dedup_corpus_lsh alone had four text-tokenizing
    lineage branches before the cache)."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.text import shingle_sets
    from elastic_freight_spark.plans.metrics import executed_scans

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    shingle_sets(spark, sf).count()  # the one tokenizing scan, cached
    for name in (
        "neardup_ngram_jaccard",
        "neardup_minhash_lsh",
        "dedup_corpus_lsh",
    ):
        df = registry.QUERIES[name](spark, sf)
        text_scans = [s for s in executed_scans(df) if "text" in s]
        assert not text_scans, f"{name} re-reads corpus text: {text_scans}"


def test_semdedup_recall_vs_exact_pairs(spark):
    """Within-cell semantic dedup must recover nearly all truly
    similar pairs: recall vs the exact all-pairs cosine scan at the
    same threshold, on the small fixture."""
    import itertools
    import math

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["vec_a"], r["vec_b"])
        for r in registry.QUERIES["semdedup_ivf_cells"](spark, sf).collect()
    }
    rows = load_tables(spark, sf)["embeddings"].select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    want = set()
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        if dot / (na * nb) > 0.35:
            want.add((a, b))
    assert want, "fixture should contain similar pairs"
    assert got <= want  # no false positives: exact verify inside cells
    recall = len(got & want) / len(want)
    assert recall >= 0.8, f"recall {recall:.2f} too low"


def test_ann_ivfpq_recall_and_compression(spark):
    """IVF-PQ must (a) keep recall against the brute-force anchor at
    least as a 2-probe IVF would (the exact re-rank repairs PQ's
    ranking noise), and (b) actually compress: one packed BIGINT per
    vector, reconstructions within a bounded relative error."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import (
        _pq_books,
        ivf_index,
        pq_encode,
        pq_reconstruct_expr,
    )
    from pyspark.sql import functions as F

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["knn_bruteforce_cosine"](spark, sf).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["ann_ivfpq_cosine"](spark, sf).collect()
    }
    assert len(pq) == 30
    hits = sum(1 for pair in pq if pair in brute)
    assert hits / len(pq) >= 0.5, f"IVF-PQ recall too low: {hits}/{len(pq)}"

    # compression honesty: codes fit n_sub * n_bits = 48 bits, and the
    # registered error audit reports sane per-cell relative error
    _, assigned = ivf_index(spark, sf, n_cells=16)
    books = _pq_books(spark, sf)
    coded = pq_encode(assigned, books)
    mx = coded.agg(F.max("pq_code")).first()[0]
    assert 0 <= mx < (1 << 48)
    err = registry.QUERIES["pq_quantization_error"](spark, sf).collect()
    assert err and all(0.0 <= r["mean_rel_err"] <= 1.0 for r in err)
    # reconstruction round-trips through the packed code
    recon_norm = (
        coded.withColumn("recon", pq_reconstruct_expr(books))
        .agg(F.min(F.expr("size(recon)")), F.max(F.expr("size(recon)")))
        .first()
    )
    assert recon_norm[0] == recon_norm[1]  # constant dim


def test_pq_portable_twins_certify_machinery(spark):
    """The round-5 portable PQ twins (md5-ranked deterministic
    codebook) are hash-checked vs DuckDB by the driver; this pins
    what the oracle can't express: codebook determinism across
    rebuilds, the packed-code bit budget, and the structural contract
    of both queries. Quantization QUALITY is deliberately not pinned
    here — with 16 unlearned codewords the reconstruction is poor by
    design; quality belongs to the learned ``ann_ivfpq_cosine`` path
    (test above)."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import (
        PQP_K,
        PQP_NSUB,
        _pq_books_portable,
    )

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    books = _pq_books_portable(spark, sf)
    _pq_books_portable.release(spark, sf)
    books2 = _pq_books_portable(spark, sf)
    assert books == books2  # md5-rank selection is deterministic
    assert len(books) == PQP_NSUB and all(len(b) == PQP_K for b in books)

    err = registry.QUERIES["pq_error_portable"](spark, sf).collect()
    assert len(err) == 500
    assert all(0 <= r["pq_code"] < (1 << 32) for r in err)  # 8×4 bits
    assert all(0.0 <= r["rel_err"] <= 1.5 for r in err)

    ann = registry.QUERIES["ann_pq_portable"](spark, sf).collect()
    assert len(ann) == 30  # 10 queries × top-3
    per_q = {}
    for r in ann:
        per_q.setdefault(r["query_id"], []).append(r["pq_score"])
    assert all(
        scores == sorted(scores, reverse=True) and len(scores) == 3
        for scores in per_q.values()
    )


def test_doc_spans_matches_python_twin(spark):
    """Differential pin for the span family's core expression: the
    JVM transform/slice span construction must equal a plain-Python
    reimplementation on adversarial inputs (empty strings, repeated
    separators, multi-space runs, exact-multiple and off-by-one
    token counts)."""
    import random

    from elastic_freight_spark.operators.text import SPAN_TOKENS, doc_spans

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "dd", "e", ""]
    docs = []
    for i in range(200):
        n = rng.choice([0, 1, 9, 10, 11, 19, 20, 21, rng.randint(0, 50)])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plus exact edge strings
    docs += [(200, ""), (201, " "), (202, "x " * 10), (203, "Y " * 9 + "Y")]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_text"])
        for r in doc_spans(df).collect()
    }

    want = set()
    for doc_id, text in docs:
        toks = text.lower().split(" ")
        if len(toks) >= SPAN_TOKENS:
            for s in range(len(toks) // SPAN_TOKENS):
                span = " ".join(toks[s * SPAN_TOKENS : (s + 1) * SPAN_TOKENS])
                want.add((doc_id, span))
    assert got == want


def test_capped_jaccard_matches_uncapped(spark, q):
    """The df-capped candidate generator must reproduce the uncapped
    exact-Jaccard result set on the fixture corpus (the cap only
    prunes candidates whose every shared shingle is ultra-common —
    none of which clear the 0.35 threshold here)."""
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in q["neardup_ngram_jaccard"](spark, SF_DIR_ORACLE).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in q["neardup_ngram_jaccard_uncapped_audit"](spark, SF_DIR_ORACLE).collect()
    }
    assert got == want


def test_power_iteration_matches_numpy(spark, q):
    """On controlled anisotropic data (one dominant direction,
    lambda1/lambda2 ~ 25) the distributed power iteration must align
    with numpy's exact top eigenvector (|cos| > 0.99) and agree on
    the eigenvalue within 2%. (The sf fixture embeddings are
    isotropic — lambda1/lambda2 = 1.013 measured — where a "top
    component" is not identifiable by ANY method, so the registered
    query gets a smoke check only.)"""
    import numpy as np

    from elastic_freight_spark.operators.vectors import (
        power_iteration_top_component,
    )

    rng = np.random.default_rng(7)
    u = rng.normal(size=16)
    u /= np.linalg.norm(u)
    X = rng.normal(size=(2000, 16)) * 0.5 + np.outer(rng.normal(size=2000) * 2.5, u)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, vec array<double>",
    )
    v, eig = power_iteration_top_component(df, n_iter=12)
    Xc = X - X.mean(axis=0)
    vals, vecs = np.linalg.eigh((Xc.T @ Xc) / len(Xc))
    assert vals[-1] / vals[-2] > 5  # the fixture really is anisotropic
    assert abs(float(np.array(v) @ vecs[:, -1])) > 0.99
    assert abs(eig - vals[-1]) / vals[-1] < 0.02


def test_embedding_top_component_query_smoke(spark, q):
    """Registered-query surface: unit-norm component, one row per
    dimension, eigenvalue within the (isotropic) spectrum bounds."""
    import numpy as np

    out = q["embedding_top_component"](spark, SF_DIR_ORACLE).collect()
    v = np.array([r["component"] for r in sorted(out, key=lambda r: r["dim"])])
    assert len(v) == 64
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6
    assert 0 < out[0]["eigenvalue"] < 1


def test_portable_minhash_tracks_exact_jaccard(spark, q):
    """The md5-portable LSH twin must find the same strong pairs the
    exact path scores >= 0.6 (16 perms -> sigma ~0.12, so the 0.5
    estimate gate keeps nearly all of them)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["neardup_ngram_jaccard"](spark, SF_DIR_ORACLE).collect()
    }
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in q["neardup_minhash_portable"](spark, SF_DIR_ORACLE).collect()
    }
    strong = {p: j for p, j in exact.items() if j >= 0.6}
    missed = [p for p in strong if p not in est]
    assert len(missed) <= max(1, len(strong) // 5), f"portable LSH missed {missed}"
    for p in est:
        assert 0.5 <= est[p] <= 1.0


def test_portable_simhash_matches_python_twin(spark):
    """Bit-for-bit check of the 32-bit md5 SimHash against a plain
    Python recomputation on a sample of docs."""
    import hashlib

    from elastic_freight_spark.operators.text import (
        SIMHASH_PORTABLE_BITS,
        text_simhash_portable,
    )
    from elastic_freight_spark.session import load_tables

    got = {
        r["doc_id"]: r["simhash"]
        for r in text_simhash_portable(spark, SF_DIR_ORACLE).collect()
    }
    docs = (
        load_tables(spark, SF_DIR_ORACLE)["documents"]
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    for row in docs:
        votes = [0] * SIMHASH_PORTABLE_BITS
        for tok in row["text"].lower().split(" "):
            if tok == "":
                continue
            for b in range(SIMHASH_PORTABLE_BITS):
                h = hashlib.md5(f"{b}:{tok}".encode()).hexdigest()
                votes[b] += 1 if h[0] >= "8" else -1
        want = sum(1 << b for b in range(SIMHASH_PORTABLE_BITS) if votes[b] > 0)
        assert got[row["doc_id"]] == want, row["doc_id"]


def test_containment_catches_embedded_doc(spark, tmp_path):
    """A short doc fully embedded in a long one must surface with
    contain ~1.0 on the short side even when symmetric Jaccard is
    far below threshold."""
    import shutil, os

    from elastic_freight_spark.operators import text as T

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    base = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(40, 60))
    spark.createDataFrame(
        [
            (1, base, "en", "web", len(base)),
            (2, quote, "en", "web", len(quote)),
            (3, "completely different text " + " ".join(f"z{i}" for i in range(30)), "en", "web", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    out = {
        (r["doc_a"], r["doc_b"]): (r["contain_a"], r["contain_b"])
        for r in T.neardup_containment(spark, sf).collect()
    }
    assert (1, 2) in out
    ca, cb = out[(1, 2)]
    # doc 2's shingles are a subset of doc 1's: containment on the
    # b side is exactly 1.0, while Jaccard is ~18/198 < 0.1
    assert cb == 1.0 and ca < 0.2
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in T.exact_jaccard_pairs(spark, sf).collect()
    }
    assert (1, 2) not in jac


def test_minhash_calibration_separates_dups_from_noise(spark):
    """The calibration curve's reason to exist: high signature
    agreement must correspond to high true Jaccard and low agreement
    to low true Jaccard, with buckets partitioning the exact capped
    candidate set."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.text import (
        PORTABLE_PERMS,
        capped_pair_intersections,
    )

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["minhash_estimate_calibration"](spark, sf).collect()
    assert all(0 <= r["matches"] <= PORTABLE_PERMS for r in rows)
    assert sum(r["n_pairs"] for r in rows) == capped_pair_intersections(
        spark, sf
    ).count()
    hi = [r for r in rows if r["matches"] * 2 >= PORTABLE_PERMS]
    lo = [r for r in rows if r["matches"] * 4 <= PORTABLE_PERMS]
    assert hi and lo
    mean_hi = sum(r["mean_true_jaccard"] * r["n_pairs"] for r in hi) / sum(
        r["n_pairs"] for r in hi
    )
    mean_lo = sum(r["mean_true_jaccard"] * r["n_pairs"] for r in lo) / sum(
        r["n_pairs"] for r in lo
    )
    assert mean_hi > 0.5 and mean_lo < 0.1 and mean_hi > mean_lo * 5


def test_semantic_decontamination_matches_python_recompute(spark):
    """Flagged set must equal a plain-Python brute force over the same
    vectors: same eval cutoff, same threshold, same argmax tie-break.
    (The driver oracle pins values vs DuckDB; this pins the semantics
    against an implementation with no shared code.)"""
    import math

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import (
        SEMDECON_EVAL_CUTOFF,
        SEMDECON_TAU,
    )
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = load_tables(spark, sf)["embeddings"].select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    norms = {k: math.sqrt(sum(float(x) * float(x) for x in v)) for k, v in vecs.items()}
    want = {}
    for cid, cv in vecs.items():
        if cid < SEMDECON_EVAL_CUTOFF:
            continue
        best = None
        for eid in sorted(k for k in vecs if k < SEMDECON_EVAL_CUTOFF):
            dot = sum(float(x) * float(y) for x, y in zip(cv, vecs[eid]))
            cos = dot / (norms[cid] * norms[eid])
            if best is None or cos > best[1]:
                best = (eid, cos)
        if best and best[1] >= SEMDECON_TAU:
            want[cid] = best[0]
    got = {
        r["vec_id"]: r["best_eval_id"]
        for r in registry.QUERIES["decontaminate_semantic"](spark, sf).collect()
    }
    assert got == want


def test_ann_ivf_portable_runs_learned_plan_shape(spark):
    """The portable IVF twin must return the full top-3-per-query
    contract and its deterministic centers must be exactly the PQ
    twin's codebook vectors stitched back together (one shared
    md5-ranked driver pull certifies both families)."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import (
        PQP_K,
        PQP_NSUB,
        _pq_books_portable,
    )

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["ann_ivf_portable"](spark, sf).collect()
    assert len(rows) == 30  # 10 queries x top-3
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["cosine"])
    assert len(per_q) == 10
    assert all(
        scores == sorted(scores, reverse=True) for scores in per_q.values()
    )
    books = _pq_books_portable(spark, sf)
    centers = [
        [x for s in range(PQP_NSUB) for x in books[s][j]] for j in range(PQP_K)
    ]
    assert len(centers) == PQP_K and all(len(c) == 64 for c in centers)


def test_power_iteration_portable_matches_numpy_two_step(spark):
    """The fixed-point portable power iteration must align with
    numpy running the SAME two float matvecs (A^T A)^2 . 1 to
    |cosine| > 0.9999 — the fixed-point quantization is the only
    difference, so tighter than any convergence claim (the fixture
    is isotropic, lambda1/lambda2 ~ 1.02: NO fixed iteration count
    finds the true eigenvector, which is exactly why the query
    certifies the matvec chain, not the limit). The exact BIGINT pin
    is the DuckDB oracle itself; this pins the linear-algebra
    meaning the oracle treats as opaque integers."""
    import numpy as np
    import pyarrow.parquet as pq

    from elastic_freight_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["power_iteration_portable"](spark, sf).collect()
    assert len(rows) == 64
    got = np.array(
        [r["component"] for r in sorted(rows, key=lambda r: r["dim"])]
    )
    assert max(abs(got)) == 1.0  # sign-canonical: largest-|v| comp = 1
    A = np.array(
        pq.read_table(f"{sf}/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    G = A.T @ A
    want = G @ (G @ np.ones(64))
    cos = abs(got @ want) / (np.linalg.norm(got) * np.linalg.norm(want))
    assert cos > 0.9999, cos


def test_bpe_merge_pairs_matches_python_recompute(spark):
    """The top-20 BPE merge candidates must equal an exact Python
    recompute of frequency-weighted adjacent character pairs over
    the raw corpus (integer counts, deterministic tie-break)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.text import BPE_PAIR_TOPK

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = [
        (r["pair"], r["n_occurrences"])
        for r in registry.QUERIES["bpe_merge_pairs"](spark, sf).collect()
    ]
    texts = pq.read_table(f"{sf}/documents.parquet").column("text").to_pylist()
    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[w] += 1
    pairs = Counter()
    for w, n in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += n
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_PAIR_TOPK]
    assert got == want


def test_ann_ivfpq_portable_consistent_with_component_twins(spark):
    """The combined IVF-PQ twin must agree with its two component
    certifications: any (query, neighbor) pair it shares with
    ann_pq_portable carries the IDENTICAL pq_score (same codebook
    reconstruction, same scorer), and its candidate set respects the
    IVF pruning (every neighbor's cell is among the query's 2 probed
    cells under the shared md5 centers)."""
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import (
        PQP_K,
        PQP_NSUB,
        _pq_books_portable,
        assign_cells,
        ivf_probe_cells,
        with_unit_vectors,
    )
    from elastic_freight_spark.session import load_tables
    from pyspark.sql import functions as F

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["ann_ivfpq_portable"](spark, sf).collect()
    assert len(rows) == 30  # 10 queries x top-3
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["pq_score"])
    assert all(v == sorted(v, reverse=True) for v in per_q.values())
    pq = {
        (r["query_id"], r["neighbor_id"]): r["pq_score"]
        for r in registry.QUERIES["ann_pq_portable"](spark, sf).collect()
    }
    shared = [
        r for r in rows if (r["query_id"], r["neighbor_id"]) in pq
    ]
    assert shared  # the unpruned top-3 overlaps the probed top-3
    for r in shared:
        assert r["pq_score"] == pq[(r["query_id"], r["neighbor_id"])]
    books = _pq_books_portable(spark, sf)
    centers = [
        [x for s in range(PQP_NSUB) for x in books[s][j]] for j in range(PQP_K)
    ]
    e = with_unit_vectors(load_tables(spark, sf)["embeddings"])
    cells = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(e, centers).select("vec_id", "cell").collect()
    }
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probed = {}
    for r in ivf_probe_cells(spark, q, centers, n_probe=2).collect():
        probed.setdefault(r["query_id"], set()).add(r["ccell"])
    for r in rows:
        assert cells[r["neighbor_id"]] in probed[r["query_id"]]


def test_embedding_int8_quantize_matches_python_recompute(spark):
    """Exact recompute of the symmetric int8 quantization report in
    plain Python (same floor(+0.5) rounding, same clamp) — the
    per-label rounded aggregates must match bit-for-bit."""
    import math
    from collections import defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        r["label"]: (r["n_vecs"], r["avg_qerr"], r["max_qerr"], r["avg_scale"])
        for r in registry.QUERIES["embedding_int8_quantize"](spark, sf).collect()
    }
    per_label = defaultdict(list)
    for row in load_tables(spark, sf)["embeddings"].collect():
        vec = [float(x) for x in row["embedding"]]
        scale = max(abs(x) for x in vec) / 127.0
        err2 = 0.0
        for x in vec:
            q = min(max(math.floor(x / scale + 0.5), -127.0), 127.0)
            err2 += (x - q * scale) * (x - q * scale)
        per_label[row["label"]].append((math.sqrt(err2), scale))
    want = {
        lab: (
            len(v),
            round(sum(e for e, _ in v) / len(v), 9),
            round(max(e for e, _ in v), 9),
            round(sum(s for _, s in v) / len(v), 9),
        )
        for lab, v in per_label.items()
    }
    assert set(got) == set(want)
    for lab in want:
        assert got[lab][0] == want[lab][0]
        for i in (1, 2, 3):
            assert abs(got[lab][i] - want[lab][i]) < 1e-9, (lab, i)


def test_embedding_dim_truncation_recall_matches_python_recompute(spark):
    """numpy recompute of the truncation recall curve: same ranking
    rule (cosine desc, neighbor_id asc), same prefix lengths."""
    import numpy as np

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.vectors import TRUNC_DIMS
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["embedding_dim_truncation_recall"](
        spark, sf
    ).collect()
    vecs = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in load_tables(spark, sf)["embeddings"].collect()
    }
    qids = sorted(v for v in vecs if v < 10)
    cids = sorted(v for v in vecs if v >= 10)

    def top5(qid, k=None):
        scored = []
        for cid in cids:
            a = vecs[qid] if k is None else vecs[qid][:k]
            b = vecs[cid] if k is None else vecs[cid][:k]
            denom = float(np.linalg.norm(a)) * float(np.linalg.norm(b))
            cos = float(a @ b) / denom if denom else -2.0
            scored.append((-cos, cid))
        return {cid for _, cid in sorted(scored)[:5]}

    want = {}
    for qid in qids:
        full = top5(qid)
        want[qid] = tuple(len(full & top5(qid, k)) for k in TRUNC_DIMS)
    got = {
        r["query_id"]: tuple(r[f"hits_{k}"] for k in TRUNC_DIMS) for r in rows
    }
    assert got == want


def test_embedding_int8_quantize_cross_engine_on_adversarial_vectors(
    spark, tmp_path
):
    """Spark vs DuckDB on hand-built hostile vectors: exact .5
    rounding-boundary quotients (positive and negative), a zero
    vector (NULL-qerr path), and tiny magnitudes — the inputs where
    an engine-rounding or NULL-handling divergence would hide. The
    driver compares by value hash, so the assertion here is exact
    equality of the rounded outputs."""
    import duckdb

    from elastic_freight_spark import registry

    registry.load_all()
    rows = [
        # scale = 1.0 exactly; 63.5/1 and -63.5/1 sit ON the .5 boundary
        (0, [127.0, 63.5, -63.5, -127.0], 0),
        (1, [1.0, 0.5, -0.25, 0.125], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 1),  # zero vector: NULL qerr
        (3, [2.0**-20, -(2.0**-20), 2.0**-24, 0.0], 1),
        (4, [100.0, -50.0, 25.0, -12.5], 2),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")
    # bypass the per-session table cache for this synthetic dir
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["embedding_int8_quantize"](
            spark, sf_dir
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            registry.ORACLE["embedding_int8_quantize"]
        ).fetchall()
    )
    assert len(got) == 3
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1]
        for i in (2, 3, 4):
            if g[i] is None or w[i] is None:
                assert g[i] is None and w[i] is None
            else:
                assert g[i] == w[i], (g, w, i)


def test_embedding_variance_profile_matches_numpy(spark):
    """numpy recompute of the per-dimension variance profile
    (population variance, DECIMAL-routed sums on the Spark side)."""
    import numpy as np

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["embedding_variance_profile"](spark, sf).collect()
    m = np.array(
        [
            [float(x) for x in r["embedding"]]
            for r in load_tables(spark, sf)["embeddings"].collect()
        ]
    )
    mean = m.mean(axis=0)
    var = m.var(axis=0)
    var_r = np.round(var, 9)
    share = var_r / var_r.sum()
    assert len(rows) == m.shape[1]
    for r in rows:
        d = r["dim"]
        assert r["n"] == m.shape[0]
        assert abs(r["mean_x"] - round(float(mean[d]), 9)) < 1e-8
        assert abs(r["var_x"] - round(float(var[d]), 9)) < 1e-8
        assert abs(r["var_share"] - round(float(share[d]), 9)) < 1e-7
    assert abs(sum(r["var_share"] for r in rows) - 1.0) < 1e-6
