"""Search-style relevance scoring (SURVEY.md §0: the query surface
the reference's artifact exists to serve — ES term search with
TF-IDF/BM25 ranking — owned natively).

The reference builds a Lucene index and delegates scoring to
Elasticsearch after restore. Here the inverted index is a DataFrame
(token → doc postings with term frequencies), built in one pass, and
scoring is a join + aggregate:

    score(q, d) = Σ_t∈q  tf(t,d) · idf(t)        (TF-IDF)
    bm25(q, d)  = Σ_t∈q  idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl))

Scale shape: the postings build is the word-count shuffle and the ONE
corpus-text scan — it is persisted per (session, corpus) so every
scoring query (and every global scalar: N, avgdl, fg/bg totals) reads
the cached index, never the corpus again; this is the DataFrame face
of "build the Lucene index once, serve many queries" that the
reference's whole artifact exists for. Global scalars ride the plan
as 1-row-aggregate crossJoins (no driver-side .count()/.first()
jobs), so each query is a single job. The query side is a handful of
terms — broadcast it. Top-k lands in TakeOrderedAndProject (no
global sort). ln() is IEEE libm in both engines; scores are rounded
to 9 decimals like every float-scoring query in this engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables, per_corpus

QUERY_TERMS = ("data", "system", "model", "index")

# Terms for the scorer-agreement diagnostic: all four OCCUR in the
# synthetic corpus (three of the legacy QUERY_TERMS have df=0, which
# is fine for the scoring queries' semantics but would leave the
# agreement report with a single row).
AGREEMENT_TERMS = ("data", "hash", "join", "table")


def build_postings(docs):
    """Inverted index: (token, doc_id, tf) + per-doc length — the
    DataFrame face of what Lucene builds from the same corpus.
    ``doc_len`` derives from the postings (Σ tf per doc ≡ token
    count), so a cached postings table serves both."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    postings = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doc_len = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return postings, doc_len


# MEMORY_AND_DISK (persist default): at 100 TB the postings spill to
# local disk, which is still ~corpus-size I/O paid ONCE instead of
# once per scoring query per scalar.
@per_corpus
def indexed_postings(spark, sf_dir):
    """(postings, doc_len) BOTH persisted per (session, corpus) — the
    serve-many-queries entry point. All downstream scoring plans read
    the cache via InMemoryTableScan; the documents parquet's ``text``
    column is scanned exactly once per session. Round 11: doc_len used
    to be re-derived per call — a full groupBy shuffle over the
    persisted postings for EVERY plan branch referencing it (the BM25
    family references it twice per query: the avgdl scalar + the
    per-doc join). A Lucene index stores per-doc lengths in its norms
    file; persisting the doc-sized frame is the same move."""
    docs = load_tables(spark, sf_dir)["documents"]
    postings, _ = build_postings(docs)
    postings = postings.persist()
    doc_len = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
    return postings, doc_len


@per_corpus
def token_df(spark, sf_dir):
    """Vocab-sized (token, df) document-frequency dictionary,
    persisted per (session, corpus) — the term-dictionary face of the
    same index (round 11). ``search_more_like_this`` referenced the
    full-vocab df aggregate from two plan branches per run and
    ``search_fuzzy_suggest`` from another; each re-shuffled the whole
    postings frame."""
    postings, _ = indexed_postings(spark, sf_dir)
    return postings.groupBy("token").agg(F.count(F.lit(1)).alias("df")).persist()


@query(
    "search_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    postings AS (
      SELECT token, doc_id, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    idf AS (
      SELECT token, ln(n / CAST(COUNT(*) AS DOUBLE)) AS idf
      FROM postings CROSS JOIN n_docs
      WHERE token IN ('data', 'system', 'model', 'index')
      GROUP BY token, n
    )
    SELECT doc_id,
           ROUND(SUM(p.tf * idf.idf), 9) AS score,
           CAST(COUNT(*) AS INT) AS n_terms_hit
    FROM postings p JOIN idf USING (token)
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def search_tfidf_topk(spark, sf_dir):
    """TF-IDF ranked retrieval for a 4-term query, top-10: the ES
    `match` query the reference's artifact serves, as postings-join →
    per-doc score sum → TakeOrderedAndProject. The tiny idf table
    broadcasts; the corpus never re-shuffles for the query. N rides
    in as a broadcast 1-row count-star aggregate (column-pruned scan,
    reads no text) instead of a separate driver-side docs.count()
    job — the whole query is one job over the cached postings."""
    docs = load_tables(spark, sf_dir)["documents"]
    postings, _ = indexed_postings(spark, sf_dir)
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # df comes from the persisted term-df dictionary (token_df) — the
    # same integer COUNT per token the old postings re-aggregation
    # computed, read as a 4-row filter of the vocab-sized cache
    # instead of a full postings pass per run (round 11, guide §2.4)
    idf = (
        token_df(spark, sf_dir)
        .filter(F.col("token").isin(*QUERY_TERMS))
        .crossJoin(F.broadcast(n_df))
        .select("token", F.log(F.col("n") / F.col("df")).alias("idf"))
    )
    scored = (
        postings.join(F.broadcast(idf), "token")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("idf")), 9).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(10)


@query(
    "search_bm25_topk",
    # Promoted from rows-only in round 3: the full k1/b scoring chain
    # (ln, three divisions, 4-term sum) measured bit-identical to
    # DuckDB at sf0.001/0.01/0.1 once both sides round to 9 decimals —
    # the python-recomputation unit test stays as belt-and-braces.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    idf AS (
      SELECT token, ln(1 + (n - COUNT(*) + 0.5) / (COUNT(*) + 0.5)) AS idf
      FROM postings CROSS JOIN n_docs
      WHERE token IN ('data', 'system', 'model', 'index')
      GROUP BY token, n
    )
    SELECT p.doc_id,
           ROUND(SUM(idf.idf * (p.tf * (1.2 + 1))
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 9) AS score,
           CAST(COUNT(*) AS INT) AS n_terms_hit
    FROM postings p
    JOIN idf USING (token) JOIN doc_len USING (doc_id) CROSS JOIN avgdl
    GROUP BY p.doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_bm25_topk(spark, sf_dir, k1: float = 1.2, b: float = 0.75):
    """BM25 ranked retrieval, top-10 — same postings, saturation-tf
    scoring with length normalization (the default ES similarity
    since 5.x, which the reference's artifact would serve). N and
    avgdl ride in as broadcast 1-row aggregates over the cached index
    (no driver-side count()/first() jobs re-deriving the corpus —
    round 1 paid 3 corpus scans per call here)."""
    docs = load_tables(spark, sf_dir)["documents"]
    postings, doc_len = indexed_postings(spark, sf_dir)
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    stats = postings.filter(F.col("token").isin(*QUERY_TERMS))
    # Lucene/ES BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5)); df reads
    # the persisted term-df dictionary (4 rows) instead of re-counting
    # the filtered postings per run (round 11, guide §2.4)
    idf = (
        token_df(spark, sf_dir)
        .filter(F.col("token").isin(*QUERY_TERMS))
        .crossJoin(F.broadcast(n_df))
        .select(
            "token",
            F.log(
                1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    scored = (
        stats.join(F.broadcast(idf), "token")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 9).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(10)


PHRASE = ("table", "hash")  # most frequent bigram in the synthetic corpus


@query(
    "search_phrase_match",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok[i] AS token, i
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents),
           LATERAL (SELECT unnest(range(1, len(tok) + 1)) AS i)
      WHERE tok[i] <> ''
    ),
    p1 AS (
      SELECT doc_id, list_sort(list(i)) AS pos FROM toks
      WHERE token = 'table' GROUP BY doc_id
    ),
    p2 AS (
      SELECT doc_id, list_sort(list(i)) AS pos FROM toks
      WHERE token = 'hash' GROUP BY doc_id
    )
    SELECT p1.doc_id,
           CAST(len(list_intersect(list_transform(p1.pos, x -> x + 1), p2.pos))
                AS INT) AS n_phrase_hits
    FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    WHERE len(list_intersect(list_transform(p1.pos, x -> x + 1), p2.pos)) > 0
    """,
)
def search_phrase_match(spark, sf_dir):
    """Positional phrase matching — the ES `match_phrase` analogue:
    per-term position lists (the positional postings Lucene stores),
    adjacency via intersect(positions(t1)+1, positions(t2)). All
    JVM array functions; both terms' position lists come out of ONE
    conditional aggregation (one corpus scan, one shuffle — not a
    per-term branch + join re-deriving the tokenize lineage), and
    each term's positions ride one array row per doc (no
    per-position join blowup at scale)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("i0", "token"),
        )
        .filter(F.col("token").isin(*PHRASE))
        # 1-based positions to mirror the oracle's array subscripts
        .select("doc_id", "token", (F.col("i0") + 1).alias("i"))
    )
    # collect_list drops nulls → one pass yields both position lists
    pos = (
        toks.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("token") == PHRASE[0], F.col("i")))
            ).alias("pos1"),
            F.array_sort(
                F.collect_list(F.when(F.col("token") == PHRASE[1], F.col("i")))
            ).alias("pos2"),
        )
        .filter((F.size("pos1") > 0) & (F.size("pos2") > 0))
    )
    hits = F.size(
        F.array_intersect(
            F.transform(F.col("pos1"), lambda x: x + 1), F.col("pos2")
        )
    )
    return pos.select("doc_id", hits.cast("int").alias("n_phrase_hits")).filter(
        F.col("n_phrase_hits") > 0
    )


@query(
    "search_significant_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    fg AS (
      SELECT token, COUNT(*) AS fg_n FROM toks
      WHERE source = 'src0' AND token <> '' GROUP BY token
    ),
    bg AS (
      SELECT token, COUNT(*) AS bg_n FROM toks
      WHERE token <> '' GROUP BY token
    ),
    totals AS (
      SELECT (SELECT CAST(SUM(fg_n) AS DOUBLE) FROM fg) AS fg_total,
             (SELECT CAST(SUM(bg_n) AS DOUBLE) FROM bg) AS bg_total
    )
    SELECT token,
           CAST(fg_n AS BIGINT) AS fg_n,
           CAST(bg_n AS BIGINT) AS bg_n,
           ROUND((fg_n / fg_total) / (bg_n / bg_total), 9) AS lift
    FROM fg JOIN bg USING (token) CROSS JOIN totals
    WHERE fg_n >= 5
    ORDER BY lift DESC, token
    LIMIT 15
    """,
)
def search_significant_terms(spark, sf_dir):
    """ES `significant_terms` analogue: tokens over-represented in a
    foreground subset (source='src0') vs the whole corpus, scored by
    frequency lift. Both word-counts (fg via a text-free doc_id →
    source join, bg directly) and both totals derive from the cached
    postings index — no corpus re-scan, no driver-side .first()
    pulls; totals ride the plan as a broadcast 1-row crossJoin."""
    docs = load_tables(spark, sf_dir)["documents"]
    postings, _ = indexed_postings(spark, sf_dir)
    src = docs.select("doc_id", "source")  # column-pruned: no text read
    fg = (
        postings.join(src, "doc_id")
        .filter(F.col("source") == "src0")
        .groupBy("token")
        .agg(F.sum("tf").alias("fg_n"))
    )
    bg = postings.groupBy("token").agg(F.sum("tf").alias("bg_n"))
    totals = F.broadcast(
        fg.agg(F.sum("fg_n").cast("double").alias("fg_total")).crossJoin(
            bg.agg(F.sum("bg_n").cast("double").alias("bg_total"))
        )
    )
    return (
        F.broadcast(fg.filter(F.col("fg_n") >= 5))
        .join(bg, "token")
        .crossJoin(totals)
        .select(
            "token",
            "fg_n",
            "bg_n",
            F.round(
                (F.col("fg_n") / F.col("fg_total"))
                / (F.col("bg_n") / F.col("bg_total")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("token"))
        .limit(15)
    )


@query(
    "search_prefix_suggest",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    )
    WHERE token LIKE 'c%' AND token <> ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 10
    """,
)
def search_prefix_suggest(spark, sf_dir):
    """Prefix completion suggester (ES `completion`/`terms` prefix
    analogue): top-10 corpus terms under a prefix by frequency. The
    LIKE 'c%' predicate is a leading-prefix range — sargable, pushed
    below the aggregation; on a postings-indexed layout this reads
    one term range, never the corpus."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter((F.col("token") != "") & F.col("token").like("c%"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(10)
    )


@query(
    "search_keywords_per_doc",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ), n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    idf AS (
      SELECT token, ln(n / COUNT(*)) AS idf
      FROM postings CROSS JOIN n_docs GROUP BY token, n
    ), scored AS (
      SELECT p.doc_id, p.token,
             ROUND(p.tf * idf.idf, 9) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                ORDER BY p.tf * idf.idf DESC, p.token) AS rn
      FROM postings p JOIN idf USING (token)
    )
    SELECT doc_id, token, tfidf, CAST(rn AS INT) AS rank
    FROM scored WHERE rn <= 3
    """,
)
def search_keywords_per_doc(spark, sf_dir):
    """Per-document keyword extraction: top-3 TF-IDF terms per doc —
    the ES significant-text / more-like-this seed, and the
    "what is this document about" column an LLM-data catalog keeps.
    Reuses the cached postings index (no new corpus scan); idf is a
    token-level aggregate joined back postings-sized; the per-doc
    top-3 is one window over the postings partitioned by doc.
    Deterministic tie-break on the token string."""
    docs = load_tables(spark, sf_dir)["documents"]
    postings, _ = indexed_postings(spark, sf_dir)
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # full-vocab idf rides the persisted term-df dictionary — the old
    # form re-ran the vocab groupBy shuffle over the whole postings
    # frame on every call (round 11, guide §2.4)
    idf = (
        token_df(spark, sf_dir)
        .crossJoin(F.broadcast(n_df))
        .select("token", F.log(F.col("n") / F.col("df")).alias("idf"))
    )
    scored = postings.join(idf, "token").select(
        "doc_id", "token", (F.col("tf") * F.col("idf")).alias("tfidf_raw")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "token",
            F.round("tfidf_raw", 9).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@query(
    "search_snippet_extract",
    oracle="""
    SELECT doc_id,
           CAST(strpos(lower(text), 'merge') AS INTEGER) AS match_pos,
           substring(text, GREATEST(1, strpos(lower(text), 'merge') - 30), 80)
             AS snippet
    FROM documents
    WHERE strpos(lower(text), 'merge') > 0
    ORDER BY doc_id
    """,
)
def search_snippet_extract(spark, sf_dir):
    """Hit highlighting: for every document matching the term
    'merge', the first match position and an 80-char context window
    around it — the result-page snippet ES renders from stored
    fields. Pure per-row JVM string expressions (locate + substring)
    after a pushable LIKE-shaped filter: no shuffle at all except the
    output sort; at 100 TB this is a map-only pass over matching
    docs."""
    docs = load_tables(spark, sf_dir)["documents"]
    pos = F.locate("merge", F.lower("text"))
    return (
        docs.filter(pos > 0)
        .select(
            "doc_id",
            pos.cast("int").alias("match_pos"),
            F.substring(
                "text", F.greatest(F.lit(1), pos - 30), F.lit(80)
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )


@query(
    "search_query_expansion",
    oracle="""
    WITH doc_tokens AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    seed_docs AS (SELECT doc_id FROM doc_tokens WHERE token = 'data'),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
          FROM doc_tokens),
    df AS (SELECT token, COUNT(*) AS df FROM doc_tokens
           WHERE token <> '' GROUP BY token),
    co AS (
      SELECT t.token, COUNT(*) AS co_df
      FROM doc_tokens t JOIN seed_docs s ON t.doc_id = s.doc_id
      WHERE t.token <> '' AND t.token <> 'data'
      GROUP BY t.token
    )
    SELECT co.token,
           CAST(co.co_df AS BIGINT) AS co_df,
           CAST(df.df AS BIGINT) AS df,
           ROUND(ln(co.co_df * n.n_docs
                    / (CAST(df.df AS DOUBLE)
                       * (SELECT COUNT(*) FROM seed_docs))), 9) AS pmi
    FROM co JOIN df ON df.token = co.token CROSS JOIN n
    WHERE co.co_df >= 5
    ORDER BY pmi DESC, co.token
    LIMIT 15
    """,
)
def search_query_expansion(spark, sf_dir):
    """Co-occurrence query expansion for the seed term 'data': terms
    whose documents overlap the seed's documents far above chance
    (document-level PMI), the classic pseudo-relevance-feedback
    expansion list. Reads the per-session postings cache (zero corpus
    re-scan): seed doc set → semi-ish join to co-occurring tokens →
    PMI against document frequencies, with the global doc count and
    seed df riding the plan as 1-row crossJoins. Top-15 lands in
    TakeOrderedAndProject."""
    postings, _ = indexed_postings(spark, sf_dir)
    doc_tokens = postings.select("doc_id", "token")
    seed_docs = doc_tokens.filter(F.col("token") == "data").select("doc_id")
    # N = documents with non-NULL text, counted on the documents
    # table: the postings cache additionally drops docs whose text
    # has no non-empty tokens (undercounting vs the oracle on
    # empty/whitespace-only texts), while COUNT(*) would overcount
    # NULL-text docs the oracle's string_split drops — COUNT(text)
    # matches the oracle universe on every corpus
    n_docs = (
        load_tables(spark, sf_dir)["documents"]
        .agg(F.count("text").cast("double").alias("n_docs"))
    )
    n_seed = seed_docs.agg(F.count(F.lit(1)).alias("n_seed"))
    # document frequencies from the persisted term-df dictionary —
    # identical integer counts, no per-run vocab aggregation over the
    # postings (round 11, guide §2.4)
    df = token_df(spark, sf_dir)
    co = (
        doc_tokens.join(seed_docs, "doc_id")
        .filter(F.col("token") != "data")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= 5)
    )
    return (
        co.join(df, "token")
        .crossJoin(n_docs)
        .crossJoin(n_seed)
        .select(
            "token",
            F.col("co_df").cast("bigint").alias("co_df"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.log(
                    F.col("co_df")
                    * F.col("n_docs")
                    / (F.col("df").cast("double") * F.col("n_seed"))
                ),
                9,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "token")
        .limit(15)
    )


@query(
    "search_scorer_agreement",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    hits AS (
      SELECT p.token, p.doc_id, p.tf,
             (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS bscore
      FROM postings p JOIN doc_len USING (doc_id) CROSS JOIN avgdl
      WHERE p.token IN ('data', 'hash', 'join', 'table')
    ),
    ranked AS (
      SELECT token, doc_id,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY tf DESC, doc_id) AS rank_tf,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY bscore DESC, doc_id) AS rank_bm25
      FROM hits
    )
    SELECT token,
           CAST(SUM(CASE WHEN rank_tf <= 10 AND rank_bm25 <= 10
                    THEN 1 ELSE 0 END) AS INT) AS n_overlap,
           CAST(SUM(CASE WHEN rank_tf <= 10 AND rank_bm25 <= 10
                    THEN abs(rank_tf - rank_bm25) ELSE 0 END)
                AS BIGINT) AS footrule
    FROM ranked
    GROUP BY token
    ORDER BY token
    """,
)
def search_scorer_agreement(spark, sf_dir):
    """Per-term agreement between raw-tf ranking and BM25 ranking,
    top-10 — the diagnostic that isolates what BM25's length
    normalization actually reorders (for a single-term query the two
    scorers differ ONLY by the dl/avgdl saturation term, so overlap@10
    and rank displacement measure its effect directly; an ES operator
    would eyeball this when tuning b). Output per query term:
    n_overlap = |top10_tf ∩ top10_bm25| and footrule =
    Σ|rank_tf − rank_bm25| over the shared docs — both pure integers (a term with empty overlap keeps its row:
    0/0 — that IS the signal),
    so the only float in play is the bit-exact BM25 expression the
    hash-green search_bm25_topk already certifies. Runs on the cached
    postings (one corpus scan per session); per-term candidate sets
    are the 4-term postings slice, two same-partition windows rank
    them, the aggregate is |terms|-rows."""
    from pyspark.sql import Window as W

    postings, doc_len = indexed_postings(spark, sf_dir)
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    k1, b = 1.2, 0.75
    hits = (
        postings.filter(F.col("token").isin(*AGREEMENT_TERMS))
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            "token",
            "doc_id",
            "tf",
            (
                (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bscore"),
        )
    )
    ranked = hits.select(
        "token",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("token").orderBy(F.col("tf").desc(), "doc_id"))
        .alias("rank_tf"),
        F.row_number()
        .over(
            W.partitionBy("token").orderBy(F.col("bscore").desc(), "doc_id")
        )
        .alias("rank_bm25"),
    )
    both = (F.col("rank_tf") <= 10) & (F.col("rank_bm25") <= 10)
    return (
        ranked.groupBy("token")
        .agg(
            F.sum(F.when(both, 1).otherwise(0)).cast("int").alias("n_overlap"),
            F.sum(
                F.when(
                    both, F.abs(F.col("rank_tf") - F.col("rank_bm25"))
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("footrule"),
        )
        .orderBy("token")
    )


# Misspelled inputs for the fuzzy suggester — chosen so the vocab
# contains 1-edit and 2-edit candidates (ES `suggest` with
# fuzziness=2 over the same analyzed token stream).
SUGGEST_QUERIES = ("dat", "hask", "joim")


@query(
    "search_fuzzy_suggest",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), v AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM toks WHERE token <> '' GROUP BY 1
    ), q(query_term) AS (VALUES ('dat'), ('hask'), ('joim')),
    cand AS (
      SELECT q.query_term, v.token AS suggestion,
             levenshtein(v.token, q.query_term) AS distance, v.df
      FROM v CROSS JOIN q
      WHERE levenshtein(v.token, q.query_term) <= 2
        AND v.token <> q.query_term
    )
    SELECT query_term, suggestion,
           CAST(distance AS INT) AS distance,
           CAST(df AS BIGINT) AS df
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_term
                 ORDER BY distance, df DESC, suggestion) AS rn
      FROM cand
    ) WHERE rn <= 3
    ORDER BY query_term, distance, df DESC, suggestion
    """,
)
def search_fuzzy_suggest(spark, sf_dir):
    """Fuzzy term suggestion — the ES `suggest`/`fuzziness:2` feature
    the reference's served index would answer: for each misspelled
    input, the top-3 vocabulary terms within edit distance 2, ranked
    by (distance, document frequency). The candidate scan runs on the
    VOCABULARY (distinct tokens from the cached postings — vocab-sized,
    not corpus-sized; Heaps' law keeps it sublinear in the corpus) with
    the 3-term query side broadcast by construction (literal VALUES),
    so this is one map pass + a |queries|-partition window. Both
    engines implement classic Levenshtein (no transposition
    discount), certified by f_fuzzy_levenshtein; df/distance are pure
    integers."""
    from pyspark.sql import Window as W

    vocab = token_df(spark, sf_dir)
    q = spark.createDataFrame(
        [(t,) for t in SUGGEST_QUERIES], "query_term string"
    )
    cand = (
        vocab.crossJoin(F.broadcast(q))
        .withColumn("distance", F.levenshtein("token", "query_term"))
        .filter(
            (F.col("distance") <= 2) & (F.col("token") != F.col("query_term"))
        )
    )
    rn = F.row_number().over(
        W.partitionBy("query_term").orderBy(
            "distance", F.col("df").desc(), "token"
        )
    )
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select(
            "query_term",
            F.col("token").alias("suggestion"),
            F.col("distance").cast("int").alias("distance"),
            F.col("df").cast("bigint").alias("df"),
        )
        .orderBy("query_term", "distance", F.col("df").desc(), "suggestion")
    )


MLT_SEED_DOC = 0
MLT_SEED_TERMS = 5


@query(
    "search_more_like_this",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    df AS (SELECT token, COUNT(*) AS df FROM postings GROUP BY 1),
    seed AS (
      SELECT p.token,
             p.tf * ln(n / df.df) AS seed_score
      FROM postings p JOIN df USING (token) CROSS JOIN n_docs
      WHERE p.doc_id = {MLT_SEED_DOC}
      ORDER BY seed_score DESC, p.token
      LIMIT {MLT_SEED_TERMS}
    ),
    idf AS (
      SELECT df.token, ln(1 + (n - df.df + 0.5) / (df.df + 0.5)) AS idf
      FROM df CROSS JOIN n_docs
      WHERE df.token IN (SELECT token FROM seed)
    )
    SELECT p.doc_id,
           ROUND(SUM(idf.idf * (p.tf * (1.2 + 1))
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 9) AS score,
           CAST(COUNT(*) AS INT) AS n_terms_hit
    FROM postings p
    JOIN idf USING (token) JOIN doc_len USING (doc_id) CROSS JOIN avgdl
    WHERE p.doc_id <> {MLT_SEED_DOC}
    GROUP BY p.doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_more_like_this(spark, sf_dir):
    """ES `more_like_this` over the cached postings: extract the seed
    document's top-{MLT_SEED_TERMS} terms by tf·ln(N/df) (the MLT
    interestingness ranking), then BM25-score every OTHER document
    over that derived term set, top-10. Everything derives from the
    one persisted postings frame: the seed's term vector is
    doc-sized, rides back in as a broadcast join (no driver pull —
    the seed terms stay a DataFrame), and the scoring pass is the
    same saturation-tf chain search_bm25_topk certifies, so the whole
    feature is one extra broadcast join deep. At 100 TB the seed
    extraction touches one posting partition per seed term, the
    scoring join only the candidate postings of 5 terms."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir)["documents"]
    postings, doc_len = indexed_postings(spark, sf_dir)
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    df = token_df(spark, sf_dir)
    seed = (
        postings.filter(F.col("doc_id") == MLT_SEED_DOC)
        .join(df, "token")
        .crossJoin(F.broadcast(n_df))
        .select(
            "token",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias(
                "seed_score"
            ),
        )
        .orderBy(F.col("seed_score").desc(), "token")
        .limit(MLT_SEED_TERMS)
        .select("token")
    )
    k1, b = 1.2, 0.75
    idf = (
        df.join(F.broadcast(seed), "token", "left_semi")
        .crossJoin(F.broadcast(n_df))
        .select(
            "token",
            F.log(
                1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    scored = (
        postings.filter(F.col("doc_id") != MLT_SEED_DOC)
        .join(F.broadcast(idf), "token")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 9).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(10)


# ES bool-query clauses for the composed-query demo: must all appear,
# must_not excludes, should terms only boost.
BOOL_MUST = ("data",)
BOOL_MUST_NOT = ("dup",)
BOOL_SHOULD = ("hash", "join")


@query(
    "search_bool_query",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    eligible AS (
      SELECT doc_id FROM postings WHERE token = 'data'
      EXCEPT
      SELECT doc_id FROM postings WHERE token = 'dup'
    ),
    idf AS (
      SELECT token, ln(1 + (n - COUNT(*) + 0.5) / (COUNT(*) + 0.5)) AS idf
      FROM postings CROSS JOIN n_docs
      WHERE token IN ('data', 'hash', 'join')
      GROUP BY token, n
    )
    SELECT p.doc_id,
           ROUND(SUM(idf.idf * (p.tf * (1.2 + 1))
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 9) AS score,
           CAST(COUNT(*) AS INT) AS n_terms_hit
    FROM postings p
    JOIN idf USING (token) JOIN doc_len USING (doc_id) CROSS JOIN avgdl
    WHERE p.doc_id IN (SELECT doc_id FROM eligible)
    GROUP BY p.doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_bool_query(spark, sf_dir):
    """ES `bool` query composition — must / must_not / should — as
    postings algebra: eligibility = semi-join on every must term,
    anti-join on every must_not term (set work on doc-id lists, the
    text never rescans); scoring = the certified BM25 chain over
    must+should terms restricted to eligible docs, so should terms
    boost without gating, exactly ES semantics (minimum_should_match
    = 0). Top-10 by (score, doc_id). The eligibility frames are
    single-term posting slices — at 100 TB each is one posting-list
    read, and the anti side is the smaller list by construction."""
    from pyspark.sql import Window as W  # noqa: F401  (parity with siblings)

    docs = load_tables(spark, sf_dir)["documents"]
    postings, doc_len = indexed_postings(spark, sf_dir)
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    terms = tuple(BOOL_MUST + BOOL_SHOULD)
    eligible = postings.filter(
        F.col("token") == BOOL_MUST[0]
    ).select("doc_id")
    for t in BOOL_MUST[1:]:
        eligible = eligible.join(
            postings.filter(F.col("token") == t).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    for t in BOOL_MUST_NOT:
        eligible = eligible.join(
            postings.filter(F.col("token") == t).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    # df from the persisted term-df dictionary — same integer counts,
    # no postings re-aggregation per run (round 11, guide §2.4)
    idf = (
        token_df(spark, sf_dir)
        .filter(F.col("token").isin(*terms))
        .crossJoin(F.broadcast(n_df))
        .select(
            "token",
            F.log(
                1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    k1, b = 1.2, 0.75
    scored = (
        postings.join(F.broadcast(idf), "token")
        .join(eligible, "doc_id", "left_semi")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 9).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(10)


@query(
    "search_rrf_fusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    hits AS (
      SELECT p.token, p.doc_id, p.tf,
             (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS bscore
      FROM postings p JOIN doc_len USING (doc_id) CROSS JOIN avgdl
      WHERE p.token IN ('data', 'hash', 'join', 'table')
    ),
    ranked AS (
      SELECT token, doc_id,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY tf DESC, doc_id) AS rank_tf,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY bscore DESC, doc_id) AS rank_bm25
      FROM hits
    ),
    fused AS (
      SELECT token, doc_id, rank_tf, rank_bm25,
             1.0 / (60 + rank_tf) + 1.0 / (60 + rank_bm25) AS rrf
      FROM ranked
    )
    SELECT token, doc_id, rank_tf, rank_bm25, ROUND(rrf, 9) AS rrf,
           CAST(fused_rank AS INT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY token
                                   ORDER BY rrf DESC, doc_id) AS fused_rank
      FROM fused
    )
    WHERE fused_rank <= 5
    ORDER BY token, fused_rank
    """,
)
def search_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (k=60, the Cormack/Clarke constant) of
    the raw-tf and BM25 rankings per query term — the standard way ES
    8 combines lexical and secondary scorers without score
    calibration. Both input rankings are integer row_numbers with
    doc_id tie-breaks, so the only float is 1/(60+r1) + 1/(60+r2) —
    a 3-flop fixed IEEE expression, bit-identical across engines;
    ties in the fused score (symmetric rank pairs) break on doc_id.
    Runs on the session-cached postings: candidate sets are the
    4-term postings slice, three same-partition windows, output is
    (terms x 5) rows."""
    from pyspark.sql import Window as W

    postings, doc_len = indexed_postings(spark, sf_dir)
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    k1, b = 1.2, 0.75
    hits = (
        postings.filter(F.col("token").isin(*AGREEMENT_TERMS))
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            "token",
            "doc_id",
            "tf",
            (
                (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bscore"),
        )
    )
    ranked = hits.select(
        "token",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("token").orderBy(F.col("tf").desc(), "doc_id"))
        .alias("rank_tf"),
        F.row_number()
        .over(
            W.partitionBy("token").orderBy(F.col("bscore").desc(), "doc_id")
        )
        .alias("rank_bm25"),
    )
    fused = ranked.withColumn(
        "rrf",
        F.lit(1.0) / (60 + F.col("rank_tf"))
        + F.lit(1.0) / (60 + F.col("rank_bm25")),
    )
    wf = W.partitionBy("token").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= 5)
        .select(
            "token",
            "doc_id",
            "rank_tf",
            "rank_bm25",
            F.round("rrf", 9).alias("rrf"),
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
        .orderBy("token", "fused_rank")
    )


# Portable doc→shard routing for the sharded-aggregation simulations:
# 16 hex chars of md5 fold evenly onto 8 shards. (The engine's REAL
# routing is ES murmur3 — sharding.py — but murmur3 has no DuckDB
# twin, so oracle-paired shard simulations use this md5 face.)
_SHARD8_SQL = (
    "(instr('0123456789abcdef', "
    "substr(md5(concat('sh:', cast(doc_id as string))), 1, 1)) - 1) % 8"
)


@query(
    "search_terms_agg_error_bound",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHARD8_SQL} AS shard,
             unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    pershard AS (
      SELECT shard, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT shard, token, n,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY n DESC, token) AS rk
      FROM pershard
    ),
    reported AS (SELECT shard, token, n FROM ranked WHERE rk <= 5),
    kth AS (
      SELECT shard, MIN(n) AS kth_n FROM reported GROUP BY shard
    ),
    tot_kth AS (SELECT CAST(SUM(kth_n) AS BIGINT) AS all_kth FROM kth),
    merged AS (
      SELECT r.token,
             CAST(SUM(r.n) AS BIGINT) AS est_count,
             CAST(SUM(k.kth_n) AS BIGINT) AS reported_kth
      FROM reported r JOIN kth k ON k.shard = r.shard
      GROUP BY r.token
    ),
    truth AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM toks WHERE token <> '' GROUP BY token
    )
    SELECT m.token, m.est_count,
           CAST((SELECT all_kth FROM tot_kth) - m.reported_kth AS BIGINT)
             AS err_bound,
           t.true_count,
           CAST(t.true_count - m.est_count AS BIGINT) AS underestimate
    FROM merged m JOIN truth t ON t.token = m.token
    ORDER BY m.est_count DESC, m.token
    LIMIT 10
    """,
)
def search_terms_agg_error_bound(spark, sf_dir):
    """ES `terms` aggregation accuracy contract, simulated end to end:
    each of 8 document shards reports only its local top-5 terms
    (shard_size=5), the coordinator sums what was reported, and —
    exactly as Elasticsearch computes `doc_count_error_upper_bound` —
    a term's error bound is the sum of the 5th-largest counts of the
    shards that did NOT report it (a non-reporting shard can hide at
    most its k-th count). The query emits estimate, bound, and TRUE
    count side by side, so `underestimate <= err_bound` is checkable
    row by row (pinned in tests) — the distributed-top-k
    approximation argument made auditable. Every quantity is an
    integer; shard routing is the portable md5 face (the murmur3
    production routing has no SQL twin). At 100 TB: one token scan,
    per-shard partial top-k, coordinator merge is
    (shards x k)-sized — the exact ES execution shape."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        F.expr(_SHARD8_SQL).alias("shard"),
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    pershard = toks.groupBy("shard", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    reported = (
        pershard.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("shard").orderBy(F.col("n").desc(), "token")
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("shard", "token", "n")
    )
    kth = reported.groupBy("shard").agg(F.min("n").alias("kth_n"))
    tot_kth = kth.agg(F.sum("kth_n").cast("bigint").alias("all_kth"))
    merged = (
        reported.join(F.broadcast(kth), "shard")
        .groupBy("token")
        .agg(
            F.sum("n").cast("bigint").alias("est_count"),
            F.sum("kth_n").cast("bigint").alias("reported_kth"),
        )
    )
    truth = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    return (
        merged.crossJoin(F.broadcast(tot_kth))
        .join(truth, "token")
        .select(
            "token",
            "est_count",
            (F.col("all_kth") - F.col("reported_kth"))
            .cast("bigint")
            .alias("err_bound"),
            "true_count",
            (F.col("true_count") - F.col("est_count"))
            .cast("bigint")
            .alias("underestimate"),
        )
        .orderBy(F.col("est_count").desc(), "token")
        .limit(10)
    )


@query(
    "search_rescore_window",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    hits AS (
      SELECT p.token, p.doc_id, p.tf,
             (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS bscore
      FROM postings p JOIN doc_len USING (doc_id) CROSS JOIN avgdl
      WHERE p.token IN ('data', 'hash', 'join', 'table')
    ),
    base AS (
      SELECT token, doc_id, tf, bscore,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY bscore DESC, doc_id) AS orig_rank
      FROM hits
    ),
    rescored AS (
      SELECT token, doc_id, orig_rank,
             1.0 * bscore + 2.0 * tf AS combined,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY 1.0 * bscore + 2.0 * tf DESC,
                                         doc_id) AS new_rank
      FROM base WHERE orig_rank <= 10
    )
    SELECT token, doc_id, CAST(orig_rank AS INT) AS orig_rank,
           CAST(new_rank AS INT) AS new_rank,
           ROUND(combined, 9) AS combined
    FROM rescored
    ORDER BY token, new_rank
    """,
)
def search_rescore_window(spark, sf_dir):
    """ES `rescore` phase: the cheap scorer (BM25) ranks everything,
    then ONLY the top-`window_size`=10 hits per query are re-scored
    with the expensive combination (query_weight·bm25 +
    rescore_weight·secondary, here 1.0/2.0 with raw tf standing in
    for the phrase/proximity pass) and re-ordered within the window —
    documents outside the window keep their positions, which is the
    whole point: the expensive scorer's cost is bounded by the window,
    not the corpus. Runs on the session-cached postings; the window
    re-rank is 10 rows per term. The combined score is a 3-flop fixed
    IEEE expression, tie-broken on doc_id."""
    from pyspark.sql import Window as W

    postings, doc_len = indexed_postings(spark, sf_dir)
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    k1, b = 1.2, 0.75
    hits = (
        postings.filter(F.col("token").isin(*AGREEMENT_TERMS))
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            "token",
            "doc_id",
            "tf",
            (
                (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bscore"),
        )
    )
    base = hits.withColumn(
        "orig_rank",
        F.row_number().over(
            W.partitionBy("token").orderBy(F.col("bscore").desc(), "doc_id")
        ),
    ).filter(F.col("orig_rank") <= 10)
    combined = F.lit(1.0) * F.col("bscore") + F.lit(2.0) * F.col("tf")
    return (
        base.withColumn("combined", combined)
        .withColumn(
            "new_rank",
            F.row_number().over(
                W.partitionBy("token").orderBy(
                    F.col("combined").desc(), "doc_id"
                )
            ),
        )
        .select(
            "token",
            "doc_id",
            F.col("orig_rank").cast("int").alias("orig_rank"),
            F.col("new_rank").cast("int").alias("new_rank"),
            F.round("combined", 9).alias("combined"),
        )
        .orderBy("token", "new_rank")
    )


# Stored percolator queries: (query_id, must-term). A row per
# required term — doc matches a query iff it contains EVERY term.
_PERCOLATE_QUERIES = [
    (1, "data"), (1, "hash"),
    (2, "join"), (2, "table"),
    (3, "data"), (3, "join"), (3, "table"),
    (4, "hash"),
    (5, "data"), (5, "quantum"),   # unsatisfiable on this corpus half
    (6, "the"),
]
_PERCOLATE_SQL_VALUES = ", ".join(
    f"({q}, '{t}')" for q, t in _PERCOLATE_QUERIES
)


def percolate_matches(docs, stored, qsize):
    """(query_id, doc_id) matches of documents against the stored
    must-term queries — the per-document match core of the percolate
    report (percolation is local to a document, so the plan never
    joins documents with each other)."""
    doc_terms = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    hits = (
        doc_terms.join(
            F.broadcast(stored), F.col("token") == F.col("term")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_matched"))
    )
    return hits.join(F.broadcast(qsize), "query_id").filter(
        F.col("n_matched") == F.col("n_terms")
    ).select("query_id", "doc_id")


def percolate_frames(spark):
    """(stored, qsize) literal frames for _PERCOLATE_QUERIES."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    stored = spark.createDataFrame(
        _PERCOLATE_QUERIES,
        StructType(
            [
                StructField("query_id", IntegerType()),
                StructField("term", StringType()),
            ]
        ),
    )
    qsize = stored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms")
    )
    return stored, qsize


@query(
    "search_percolate",
    oracle=f"""
    WITH stored(query_id, term) AS (VALUES {_PERCOLATE_SQL_VALUES}),
    qsize AS (
      SELECT query_id, CAST(COUNT(*) AS INT) AS n_terms
      FROM stored GROUP BY 1
    ),
    doc_terms AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    hits AS (
      SELECT s.query_id, d.doc_id,
             CAST(COUNT(*) AS INT) AS n_matched
      FROM stored s JOIN doc_terms d ON d.token = s.term
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT h.query_id, h.doc_id
      FROM hits h JOIN qsize q ON q.query_id = h.query_id
      WHERE h.n_matched = q.n_terms
    )
    SELECT q.query_id, q.n_terms,
           CAST(COUNT(m.doc_id) AS BIGINT) AS n_matching_docs,
           MIN(m.doc_id) AS first_match
    FROM qsize q LEFT JOIN matches m ON m.query_id = q.query_id
    GROUP BY q.query_id, q.n_terms
    ORDER BY q.query_id
    """,
)
def search_percolate(spark, sf_dir):
    """ES percolator, inverted search: queries are STORED (as
    must-term conjunctions) and incoming documents are matched
    against them — the alerting/routing primitive ("which saved
    searches does this doc trigger"). Set-cover matching as posting
    algebra: distinct (doc, token) joins the broadcast stored-term
    table, a doc satisfies a query iff its matched-term count equals
    the query's term count (integer threshold, never a float score).
    Includes an unsatisfiable query (LEFT JOIN keeps its zero row —
    that IS the signal) and a stopword query matching nearly
    everything. At 100 TB the stored-query side is tiny and
    broadcast; the doc side collapses to distinct tokens map-side
    before the join — percolating a NEW batch is the same plan over
    the batch instead of the corpus."""
    docs = load_tables(spark, sf_dir)["documents"]
    stored, qsize = percolate_frames(spark)
    matches = percolate_matches(docs, stored, qsize)
    # aggregate matches to query-sized rows BEFORE the zero-keeping
    # left join: joining qsize LEFT against doc-sized match rows
    # would route every matched doc through the left join (and a
    # broadcast hint on a left join's preserved side is unsupported —
    # Spark logs HintErrorLogger and falls back, observed at 100x).
    counts = matches.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("doc_id").alias("first_match"),
    )
    return (
        qsize.join(F.broadcast(counts), "query_id", "left")
        .select(
            "query_id",
            "n_terms",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias(
                "n_matching_docs"
            ),
            "first_match",
        )
        .orderBy("query_id")
    )


@query(
    "search_span_near",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok[i] AS token, i
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
            FROM documents),
           LATERAL (SELECT unnest(range(1, len(tok) + 1)) AS i)
      WHERE tok[i] <> ''
    ),
    t1 AS (SELECT doc_id, i FROM toks WHERE token = 'data'),
    t2 AS (SELECT doc_id, i FROM toks WHERE token = 'join'),
    spans AS (
      SELECT t1.doc_id,
             CAST(ABS(t1.i - t2.i) - 1 AS BIGINT) AS gap
      FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
    )
    SELECT doc_id,
           CAST(MIN(gap) AS BIGINT) AS min_gap,
           CAST(SUM(CASE WHEN gap <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_windows
    FROM spans
    GROUP BY doc_id
    HAVING SUM(CASE WHEN gap <= 3 THEN 1 ELSE 0 END) > 0
    ORDER BY min_gap, doc_id
    LIMIT 25
    """,
)
def search_span_near(spark, sf_dir):
    """ES `span_near` (slop=3, in_order=false): both terms within a
    3-token window — the proximity generalization of
    `search_phrase_match`'s exact adjacency. Position lists are
    per-(doc, term) slices of the tokenized scan; the position join is
    keyed on doc_id so each doc's cost is |pos1|·|pos2| for ITS OWN
    occurrences only (per-doc-bounded, not corpus-quadratic). All
    gaps are integers; ranking is min-gap with doc_id tie-break."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "token"),
    ).filter(F.col("token") != "")
    # DuckDB positions are 1-based list indices; mirror that
    t1 = toks.filter(F.col("token") == "data").select(
        "doc_id", (F.col("pos0") + 1).alias("i1")
    )
    t2 = toks.filter(F.col("token") == "join").select(
        "doc_id", (F.col("pos0") + 1).alias("i2")
    )
    spans = t1.join(t2, "doc_id").select(
        "doc_id",
        (F.abs(F.col("i1") - F.col("i2")) - 1).cast("bigint").alias("gap"),
    )
    near = F.sum(F.when(F.col("gap") <= 3, 1).otherwise(0))
    return (
        spans.groupBy("doc_id")
        .agg(
            F.min("gap").cast("bigint").alias("min_gap"),
            near.cast("bigint").alias("n_windows"),
        )
        .filter(F.col("n_windows") > 0)
        .orderBy("min_gap", "doc_id")
        .limit(25)
    )


@query(
    "search_function_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    hits AS (
      SELECT p.token, p.doc_id, p.tf,
             (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS bscore
      FROM postings p JOIN doc_len USING (doc_id) CROSS JOIN avgdl
      WHERE p.token IN ('data', 'hash', 'join', 'table')
    ),
    boosted AS (
      SELECT h.token, h.doc_id,
             h.bscore * SQRT(CAST(d.n_chars AS DOUBLE)) AS fscore
      FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    )
    SELECT token, doc_id, ROUND(fscore, 9) AS fscore,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT token, doc_id, fscore,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY fscore DESC, doc_id) AS rk
      FROM boosted
    ) WHERE rk <= 5
    ORDER BY token, rank
    """,
)
def search_function_score(spark, sf_dir):
    """ES `function_score` with a field_value_factor
    (modifier=sqrt): relevance multiplied by a per-document signal —
    the standard popularity/length boost (here sqrt(n_chars), the
    real column in a production feed would be clicks or recency).
    The boost join reads the stored doc metadata column, NOT the
    postings, so the multiplier costs one broadcast-sized hash join
    per candidate set; the combined score is bm25·sqrt(field), a
    fixed IEEE tree over the hash-green BM25 expression, doc_id
    tie-broken."""
    from pyspark.sql import Window as W

    postings, doc_len = indexed_postings(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    k1, b = 1.2, 0.75
    hits = (
        postings.filter(F.col("token").isin(*AGREEMENT_TERMS))
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            "token",
            "doc_id",
            (
                (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bscore"),
        )
    )
    boosted = hits.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).select(
        "token",
        "doc_id",
        (
            F.col("bscore") * F.sqrt(F.col("n_chars").cast("double"))
        ).alias("fscore"),
    )
    return (
        boosted.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("token").orderBy(
                    F.col("fscore").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rank") <= 5)
        .select(
            "token",
            "doc_id",
            F.round("fscore", 9).alias("fscore"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("token", "rank")
    )


@query(
    "agg_rare_terms",
    oracle="""
    WITH df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      ) WHERE token <> ''
      GROUP BY token
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    rare AS (SELECT token, n_docs FROM df
             WHERE n_docs * 20 <= (SELECT n_total FROM tot))
    SELECT CAST((SELECT COUNT(*) FROM rare) AS BIGINT) AS n_rare_terms,
           token, n_docs
    FROM (
      SELECT token, n_docs,
             ROW_NUMBER() OVER (ORDER BY token) AS rk
      FROM rare
    ) WHERE rk <= 15
    ORDER BY token
    """,
)
def agg_rare_terms(spark, sf_dir):
    """ES `rare_terms` aggregation: the LONG-TAIL complement of the
    `terms` agg — terms appearing in at most max_doc_count=2
    documents — rarity is RELATIVE (df·20 <= corpus size, an integer
    threshold per the thresholds-as-integers rule) because an
    absolute max_doc_count is meaningless across scale factors
    (typo mining, anomaly strings, PII-ish identifiers).
    ES implements it with a CuckooFilter + multiple passes precisely
    because "bottom-k by df" does not shard the way top-k does; the
    engine computes the exact answer in one df aggregate + filter,
    which IS the Spark-native advantage (no bounded-memory
    coordinator constraint). Emits the global rare count and the 15
    lexicographically-first rare terms — integer-only output."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir)["documents"]
    # per-token document frequency = row count per token of the
    # postings index (grain (token, doc)) — read from the persisted
    # term-df dictionary instead of re-exploding the corpus text per
    # run (round 11, guide §2.4; identical integer counts: postings
    # dedups (token, doc) exactly like COUNT(DISTINCT doc_id))
    df_ = token_df(spark, sf_dir).select(
        "token", F.col("df").cast("bigint").alias("n_docs")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    rare = df_.crossJoin(F.broadcast(tot)).filter(
        F.col("n_docs") * 20 <= F.col("n_total")
    ).select("token", "n_docs")
    n_rare = rare.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rare_terms")
    )
    # top-15 via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k per partition), NOT a global row_number window:
    # on a real long-tail corpus MOST tokens are relatively rare, so
    # the rare set is vocabulary-sized and a single-partition window
    # over it would be the scale killer.
    return (
        rare.orderBy("token")
        .limit(15)
        .crossJoin(F.broadcast(n_rare))
        .select("n_rare_terms", "token", "n_docs")
        .orderBy("token")
    )


@query(
    "search_explain",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text),' ')) AS token
      FROM documents
    ), postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks WHERE token <> ''
      GROUP BY 1, 2
    ), doc_len AS (
      SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1
    ), avgdl AS (SELECT AVG(dl) AS avgdl FROM doc_len),
    hits AS (
      SELECT p.token, p.doc_id,
             CAST(p.tf AS BIGINT) AS tf,
             CAST(dl AS BIGINT) AS dl,
             avgdl,
             1 - 0.75 + 0.75 * dl / avgdl AS len_norm,
             (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS bscore
      FROM postings p JOIN doc_len USING (doc_id) CROSS JOIN avgdl
      WHERE p.token IN ('data', 'hash', 'join', 'table')
    )
    SELECT token, doc_id, tf, dl,
           ROUND(avgdl, 9) AS avgdl,
           ROUND(len_norm, 9) AS len_norm,
           ROUND(bscore / 2.2, 9) AS saturation,
           ROUND(bscore, 9) AS bscore,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY token
                                   ORDER BY bscore DESC, doc_id) AS rk
      FROM hits
    ) WHERE rk <= 3
    ORDER BY token, rank
    """,
)
def search_explain(spark, sf_dir):
    """The ES `_explain` API face: for each query term's top-3 hits,
    the full BM25 score DECOMPOSITION — raw tf, doc length, corpus
    avgdl, the length-normalization factor (1−b+b·dl/avgdl), the
    saturation ratio score/(k1+1) (how close the hit sits to the tf
    ceiling), and the final score — the debugging surface relevance
    engineers read when a ranking looks wrong. Same cached postings,
    same bit-exact BM25 expression the hash-green scorers certify;
    every component is either an integer or a fixed IEEE expression
    rounded at the edge."""
    from pyspark.sql import Window as W

    postings, doc_len = indexed_postings(spark, sf_dir)
    avgdl_df = doc_len.agg(F.avg("dl").alias("avgdl"))
    k1, b = 1.2, 0.75
    len_norm = 1 - b + b * F.col("dl") / F.col("avgdl")
    bscore = (F.col("tf") * (k1 + 1)) / (F.col("tf") + k1 * len_norm)
    hits = (
        postings.filter(F.col("token").isin(*AGREEMENT_TERMS))
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            "token",
            "doc_id",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("dl").cast("bigint").alias("dl"),
            "avgdl",
            len_norm.alias("len_norm"),
            bscore.alias("bscore"),
        )
    )
    return (
        hits.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("token").orderBy(
                    F.col("bscore").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rank") <= 3)
        .select(
            "token",
            "doc_id",
            "tf",
            "dl",
            F.round("avgdl", 9).alias("avgdl"),
            F.round("len_norm", 9).alias("len_norm"),
            F.round(F.col("bscore") / 2.2, 9).alias("saturation"),
            F.round("bscore", 9).alias("bscore"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("token", "rank")
    )
