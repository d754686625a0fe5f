"""The per-(session, corpus) artifact memo (``session.per_corpus``):
param normalization, the release rule, and that dropping every
cached frame changes no consumer's result, only its cost."""
import hashlib

import pandas as pd

from conftest import SF_DIR

# one consumer query per memoized artifact (tables, co-supply edges,
# shingle sets, capped pairs, both signature families, LSH candidates
# and verified pairs, postings + doc_len + token df, LSH / IVF / PQ
# indexes, the semdedup corpus count and multi-assigned frame)
CONSUMERS = (
    "graph_degree_histogram",
    "neardup_ngram_jaccard",
    "dedup_corpus_lsh",
    "neardup_minhash_portable",
    "search_bm25_topk",
    "ann_lsh_cosine",
    "ann_ivf_cosine",
    "semdedup_ivf_cells",
    "pq_quantization_error",
    "pq_error_portable",
)


def _vhash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash — tools/drive_contract.py's norm +
    vhash, less its timestamp step (no consumer here emits one)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def test_params_bind_to_one_entry(spark, tmp_path):
    from elastic_freight_spark.session import per_corpus

    @per_corpus
    def probe(spark, sf_dir, k: int = 3):
        return object()

    hit = probe(spark, SF_DIR)
    assert probe(spark, SF_DIR, 3) is hit
    assert probe(spark, SF_DIR, k=3) is hit
    assert probe(spark, SF_DIR.rstrip("/") + "/.", k=3) is hit  # abspath key
    assert probe(spark, SF_DIR, k=4) is not hit
    assert probe(spark, str(tmp_path)) is not hit
    probe.release(spark, SF_DIR, k=3)
    assert probe(spark, SF_DIR) is not hit


def test_candidates_release_their_signatures(spark):
    from elastic_freight_spark.operators import text

    text.lsh_candidate_pairs.release(spark, SF_DIR)
    sigs = text.minhash_signatures(spark, SF_DIR)
    assert sigs.is_cached
    text.lsh_candidate_pairs(spark, SF_DIR)
    assert not sigs.is_cached
    assert text.minhash_signatures(spark, SF_DIR) is not sigs


def test_cleared_artifacts_recompute_identically(spark):
    from elastic_freight_spark import registry
    from elastic_freight_spark.operators import vectors
    from elastic_freight_spark.session import clear_per_corpus, warm_per_corpus

    registry.load_all()
    warm_per_corpus(spark, SF_DIR)
    held = [vectors.ivf_index(spark, SF_DIR)[1], vectors._pq_coded(spark, SF_DIR)]
    before = {n: _vhash(registry.QUERIES[n](spark, SF_DIR).toPandas()) for n in CONSUMERS}
    held += [vectors._semdedup_assigned(spark, SF_DIR)]
    assert all(df.is_cached for df in held)

    clear_per_corpus()
    assert not any(df.is_cached for df in held)
    after = {n: _vhash(registry.QUERIES[n](spark, SF_DIR).toPandas()) for n in CONSUMERS}
    assert after == before
