"""Text-analysis + deduplication operators over the ``documents``
table (SURVEY.md §2.12 X1/X2/X5 and the north-star text tier):
exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash, token
counting, quality scoring, language-ID heuristic, fingerprinting.

Design per 100 TB:

* Exact dedup hashes once (sha256) and aggregates on the digest —
  a single shuffle keyed on a uniformly distributed 64-char key (no
  skew by construction).
* Pairwise similarity is never all-pairs: n-gram Jaccard goes
  through an inverted shingle index (explode → self-join on shingle
  → count), so cost scales with shingle collisions, not n². MinHash
  LSH cuts the candidate set further via band buckets.
* Everything except the MinHash/SimHash signatures is built-in JVM
  expressions; signatures use xxhash64 (still JVM) — no Python in
  any hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables, per_corpus

# ---------------------------------------------------------------------------
# Exact dedup (X1)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: normalize → sha256 → keep min doc id per digest.
    ``dropDuplicates`` would pick an arbitrary survivor; min-by is
    deterministic (and what a reproducible 100 TB pipeline wants)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
            F.col("doc_id"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenization / counting (X5)
# ---------------------------------------------------------------------------


@query(
    "text_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS n, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def text_token_counts(spark, sf_dir):
    """Token counting (the classic word count; ES analyzer
    analogue): lower → split → explode → count, top-50."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LENGTH(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_spaces,
           (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
             / CAST(LENGTH(text) AS DOUBLE) AS space_ratio,
           (LENGTH(lower(text)) - LENGTH(REPLACE(lower(text), 'the', '')))
             / 3 AS stopword_hits
    FROM documents
    """,
)
def text_quality_scores(spark, sf_dir):
    """Quality-scoring features (length, token count, whitespace
    ratio, stopword hits) — the length/punct/stopword heuristics a
    training-data pipeline filters on."""
    t = load_tables(spark, sf_dir)
    text = F.col("text")
    lower = F.lower(text)
    return t["documents"].select(
        "doc_id",
        F.length(text).cast("bigint").alias("n_chars"),
        F.size(F.split(text, " ")).alias("n_tokens"),
        (F.length(text) - F.length(F.regexp_replace(text, " ", "")))
        .cast("bigint")
        .alias("n_spaces"),
        (
            (F.length(text) - F.length(F.regexp_replace(text, " ", "")))
            / F.length(text).cast("double")
        ).alias("space_ratio"),
        (
            (F.length(lower) - F.length(F.regexp_replace(lower, "the", ""))) / F.lit(3)
        ).alias("stopword_hits"),
    )


def quality_stage_col():
    """First-rejecting-stage attribution for a `text` column — the
    single expression both the batch query and the streaming gate
    apply (write the rule once, run it in either engine mode)."""
    text = F.col("text")
    lower = F.lower(text)
    n_chars = F.length(text)
    n_tokens = F.size(F.split(text, " "))
    space_ratio = (
        (F.length(text) - F.length(F.regexp_replace(text, " ", "")))
        / F.length(text).cast("double")
    )
    stop_hits = (
        F.length(lower) - F.length(F.regexp_replace(lower, "the", ""))
    ) / F.lit(3)
    return (
        F.when(n_tokens < 20, "1_too_short")
        .when(n_chars > 500, "2_too_long")
        .when(space_ratio < 0.15, "3_low_space")
        .when(stop_hits < 1, "4_no_stopword")
        .otherwise("pass")
    )


@query(
    "quality_filter_chain",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars,
             LENGTH(string_split(text, ' ')) AS n_tokens,
             (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
               / CAST(LENGTH(text) AS DOUBLE) AS space_ratio,
             (LENGTH(lower(text)) - LENGTH(REPLACE(lower(text), 'the', '')))
               / 3 AS stop_hits
      FROM documents
    )
    SELECT CASE WHEN n_tokens < 20 THEN '1_too_short'
                WHEN n_chars > 500 THEN '2_too_long'
                WHEN space_ratio < 0.15 THEN '3_low_space'
                WHEN stop_hits < 1 THEN '4_no_stopword'
                ELSE 'pass' END AS stage,
           COUNT(*) AS n_docs
    FROM feat GROUP BY 1
    """,
)
def quality_filter_chain(spark, sf_dir):
    """C4-style staged quality filter with per-stage drop accounting:
    each document is attributed to the FIRST stage that rejects it
    (too short → too long → low whitespace ratio → no stopword
    signal), survivors to 'pass'. The whole chain is ONE scan + one
    tiny aggregate — per-stage counters come from a CASE attribution,
    not one filter-then-count job per stage (a pipeline with k stages
    must not pay k corpus scans at 100 TB). The attribution expression
    (`quality_stage_col`) is shared verbatim with the streaming gate
    (tests/test_streaming.py)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(quality_stage_col().alias("stage"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "pack_contexts_plan",
    oracle="""
    WITH tok AS (
      SELECT source, LENGTH(string_split(text, ' ')) AS n FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(n) // 2048 AS BIGINT) AS n_full_contexts,
           CAST(SUM(n) % 2048 AS BIGINT) AS tail_tokens
    FROM tok GROUP BY source
    """,
)
def pack_contexts_plan(spark, sf_dir):
    """Sequence-packing plan (GPT-style concat-and-chunk): per
    source, how many full 2048-token training contexts the corpus
    fills and what remains. Concat-chunk packing has zero padding
    waste by construction, so the plan is a pure aggregate — the
    pre-flight a training-data pipeline runs before materializing
    packed batches. One scan, group-count-sized shuffle."""
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "source", F.size(F.split(F.col("text"), " ")).alias("n")
    )
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.expr("CAST(SUM(n) DIV 2048 AS BIGINT)").alias("n_full_contexts"),
        F.expr("CAST(SUM(n) % 2048 AS BIGINT)").alias("tail_tokens"),
    )


@query(
    "text_langid_heuristic",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             LENGTH(' ' || lower(text) || ' ')
               - LENGTH(REPLACE(' ' || lower(text) || ' ', ' the ', '')) AS en_sig,
             LENGTH(' ' || lower(text) || ' ')
               - LENGTH(REPLACE(' ' || lower(text) || ' ', ' a ', '')) AS a_sig
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_sig >= 5 THEN 'en'
                WHEN a_sig >= 3 THEN 'en'
                ELSE 'unknown' END AS predicted,
           CAST(en_sig / 5 AS BIGINT) AS en_hits,
           CAST(a_sig / 3 AS BIGINT) AS a_hits
    FROM scored
    """,
)
def text_langid_heuristic(spark, sf_dir):
    """Language-ID by n-gram/stopword markers. Real corpora would use
    per-language marker tables with the same plumbing; the point the
    oracle pins is the operator shape (marker counting + argmax),
    deterministic in pure SQL expressions."""
    t = load_tables(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    en_sig = F.length(padded) - F.length(F.regexp_replace(padded, " the ", ""))
    a_sig = F.length(padded) - F.length(F.regexp_replace(padded, " a ", ""))
    return t["documents"].select(
        "doc_id",
        "lang",
        F.when(en_sig >= 5, "en").when(a_sig >= 3, "en").otherwise("unknown").alias(
            "predicted"
        ),
        (en_sig / 5).cast("bigint").alias("en_hits"),
        (a_sig / 3).cast("bigint").alias("a_hits"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection (X2): exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
      SELECT DISTINCT doc_id,
             tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
            FROM documents WHERE LENGTH(string_split(lower(text), ' ')) >= 3),
           LATERAL (SELECT unnest(range(1, LENGTH(tok) - 1)) AS i)
"""

# Spark-side 3-gram shingle expression over a token array column named
# `tok` (guarded: <3 tokens → empty array; sequence() must not see a
# descending range).
_SHINGLE_EXPR = (
    "CASE WHEN size(tok) >= 3 THEN "
    "transform(sequence(1, size(tok) - 2), "
    "i -> concat_ws(' ', tok[i-1], tok[i], tok[i+1])) "
    "ELSE array() END"
)

# shingle-set frame persisted per (session, corpus) — the same
# serve-many-policies discipline as search's postings: every
# near-dup path (signature build, band join sides, exact-verify join
# sides) re-reads the cached sets, so the documents `text` column is
# tokenized+shingled exactly once per session instead of once per
# lineage branch (dedup_corpus_lsh alone has four such branches).
@per_corpus
def shingle_sets(spark, sf_dir):
    """doc_id → (sh: distinct 3-gram shingle array, n: set size),
    persisted per (session, corpus)."""
    toks = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.split(F.lower("text"), " ").alias("tok")
    )
    return (
        toks.select("doc_id", F.array_distinct(F.expr(_SHINGLE_EXPR)).alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n"))
        .persist()
    )


NGRAM_DF_CAP = 50  # default df cap: shingles in more docs propose no pairs


def exact_jaccard_pairs(
    spark,
    sf_dir,
    df_cap: int | None = NGRAM_DF_CAP,
    threshold: float = 0.35,
):
    """(doc_a, doc_b, jaccard) — exact 3-gram Jaccard near-dup pairs
    through an inverted shingle index.

    Candidate generation is DF-CAPPED by default: shingles appearing
    in more than ``df_cap`` documents propose no pairs (they are
    non-discriminative — the stop-shingle analogue of stop-word
    removal), which bounds per-shingle join work at df·cap instead of
    df². Once a pair is proposed by any rare shingle its Jaccard is
    computed over ALL shingles via an array_intersect rerank on the
    cached shingle sets, so reported scores are always exact.

    ``df_cap=None`` re-enables the uncapped Σ df² pair generator —
    measured at 78× cost growth for 10× docs (PERF.md), it is an
    OPT-IN micro-audit for small corpora, never the default: at
    corpus scale use the default cap or the LSH candidate path
    (``dedup_corpus_lsh``)."""
    sets = shingle_sets(spark, sf_dir)
    shingles = sets.select("doc_id", F.explode("sh").alias("shingle"))
    if df_cap is None:
        # uncapped audit: count pair intersections directly in the
        # shingle self-join's aggregate — one shuffle, no candidate
        # materialization, no set-array joins (measured ~2.4× faster
        # than candidates+rerank when every shingle proposes pairs)
        a = shingles.alias("a")
        b = shingles.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sizes = sets.select("doc_id", "n")
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("inter")
                    / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= float(threshold))
        )
    inter = capped_pair_intersections(spark, sf_dir, df_cap)
    return (
        inter.select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= float(threshold))
    )


CAND_MIN_SUPPORT = 2  # a pair must share >= 2 rare shingles to be scored

# scored candidate-pair frame persisted per (session, corpus, cap,
# support) — the round-11 extension of the serve-many discipline one
# level up the dedup stack: THREE registered policies (exact Jaccard,
# containment, minhash calibration truth side — plus the split-leakage
# audit) consume the identical (doc_a, doc_b, na, nb, inter) frame and
# each used to re-run candidate generation + exact rerank from the
# shingle cache (~3 s per query at sf0.1, the dominant cost of every
# consumer). One materialization now serves them all; the build is
# charged once in bench.py's warm pre-pass like the other index
# builds. At 100 TB this frame is the candidate-pair table a dedup
# pipeline materializes once and scores many policies against —
# corpus-linear by the df-cap bound, so persisting it is the
# production shape, not a bench trick.
@per_corpus
def capped_pair_intersections(
    spark, sf_dir, df_cap: int = NGRAM_DF_CAP, min_support: int = CAND_MIN_SUPPORT
):
    """(doc_a, doc_b, na, nb, inter) — df-capped candidate pairs with
    exact shingle-set intersections; the shared scoring core of every
    exact near-dup policy (Jaccard, containment, threshold grids).

    Candidate generation runs in ONE shuffle: group the inverted
    index by shingle, keep buckets with 2..df_cap docs (the cap
    bounds collect_set memory at df_cap ids), and emit each bucket's
    i<j pairs with a JVM higher-order expression — no df-side join,
    no shingle self-join. This is the same bucket→pairs shape the
    LSH band join uses, applied to raw rare shingles.

    MIN-SUPPORT pruning (default 2): the pair aggregate the dedup
    step needs anyway counts how many rare shingles proposed each
    pair, and pairs proposed by a single shared shingle are dropped
    before the exact rerank. Near-dup pairs at useful thresholds
    share dozens of shingles, so support-1 candidates are almost
    entirely noise: measured at sf0.1, support>=2 cuts candidates
    1,130,536 → 112,009 (10.1×) and the full query ~8.4 s → ~3.5 s
    (and the rerank still scores every survivor over ALL its
    shingles, so emitted scores stay exact). ``min_support=1``
    restores the prune-free generator.

    SHORT-DOC EXEMPTION: a doc with fewer than ``min_support``
    shingles can never reach the support floor, yet a single shared
    shingle may be 100% of its set (containment 1.0 — e.g. the same
    two-word title twice). The effective per-pair floor is therefore
    ``min(min_support, na, nb)``: support-1 pairs survive iff at
    least one side is short. The short flag rides the bucket→pairs
    aggregation itself, bit-packed into the posting long
    (``enc = doc_id*2 + short`` — same shuffle payload as a plain
    doc_id posting, monotone in doc_id so bucket sort order and the
    i<j pair generation are unchanged; decode is two integer ops in
    the same JVM transform), so the exemption adds ZERO
    joins/shuffles/bytes and the 10× candidate prune is preserved
    for the bulk of the corpus."""
    sets = shingle_sets(spark, sf_dir)
    shingles = sets.select(
        (
            F.col("doc_id") * 2
            + (F.col("n") < int(min_support)).cast("long")
        ).alias("enc"),
        F.explode("sh").alias("shingle"),
    )
    cand = (
        shingles.groupBy("shingle")
        .agg(F.collect_set("enc").alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= int(df_cap)))
        .select(F.array_sort("docs").alias("ds"))
        .select(
            F.explode(
                F.expr(
                    # (enc - pmod(enc,2)) div 2 decodes doc_id exactly
                    # for negative ids too (div truncates toward zero)
                    "flatten(transform(ds, (x, i) -> "
                    "  transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "            y -> struct("
                    "              (x - pmod(x, 2)) div 2 AS doc_a, "
                    "              (y - pmod(y, 2)) div 2 AS doc_b, "
                    "              pmod(x, 2) = 1 OR pmod(y, 2) = 1 AS any_short))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(
            F.count(F.lit(1)).alias("_support"),
            F.max("p.any_short").alias("_any_short"),
        )
        .filter(
            (F.col("_support") >= int(min_support)) | F.col("_any_short")
        )
        .select("doc_a", "doc_b")
    )
    # exact rerank over the cached shingle-SET arrays: two id joins
    # bring each pair's (already-distinct) sets side by side, then
    # array_intersect scores the pair map-side — per-pair cost
    # O(|set|), no shingle-level join row explosion (the exploded
    # version re-joined |cand|×|shingles/doc| rows and measured 12 s
    # at sf0.1 where this one is ~2 s, same result set).
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    # Sort-merge is the right rerank shape here: candidates number
    # Σ min(df,cap)² pairs — ~1.1M at sf0.1, far beyond broadcast
    # size (measured: an id-broadcast variant recomputed the
    # candidate stage per broadcast and ran 5× slower) — while each
    # set array joins in exactly twice regardless of how many pairs
    # reference it.
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
        .persist()
    )


_PAIRS_CAPPED_ORACLE = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_rare
      FROM shingles a
      JOIN rare USING (shingle)
      JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes za ON za.doc_id = a.doc_id
      JOIN sizes zb ON zb.doc_id = b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= LEAST({CAND_MIN_SUPPORT}, MIN(za.n), MIN(zb.n))
    ),
    exact AS (
      SELECT p.doc_a, p.doc_b,
             (SELECT COUNT(*) FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle
              WHERE x.doc_id = p.doc_a AND y.doc_id = p.doc_b) AS inter
      FROM pairs p
    )
    SELECT doc_a, doc_b,
           inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
    FROM exact
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.35
"""

_PAIRS_UNCAPPED_ORACLE = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.35
"""


@query("neardup_ngram_jaccard", oracle=_PAIRS_CAPPED_ORACLE)
def neardup_ngram_jaccard(spark, sf_dir, df_cap: int | None = NGRAM_DF_CAP):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.35) — the
    DEFAULT plan is df-capped candidate generation + exact rerank
    (see ``exact_jaccard_pairs``): scores are exact, cost is bounded
    at df·cap per shingle, measured 15.8× cheaper than the uncapped
    generator at 10× corpus size with identical results. Pass
    ``df_cap=None`` explicitly for the uncapped Σ df² micro-audit
    (registered separately as ``neardup_ngram_jaccard_uncapped_audit``).

    Semantics note (documented, deliberate): a pair sharing ONLY
    ultra-common shingles is not proposed. Such pairs have large
    unions of common vocabulary and (in every measured corpus here)
    sit far below the 0.35 threshold; parity with the uncapped path
    is pinned by test_capped_jaccard_parity."""
    return exact_jaccard_pairs(spark, sf_dir, df_cap=df_cap)


@query("neardup_ngram_jaccard_uncapped_audit", oracle=_PAIRS_UNCAPPED_ORACLE)
def neardup_ngram_jaccard_uncapped_audit(spark, sf_dir):
    """The uncapped Σ df² exact pair generator — OPT-IN micro-audit
    of the capped default and the LSH candidate path on small
    corpora. By construction its cost grows with the sum of squared
    shingle document frequencies (measured 78× for 10× docs,
    PERF.md); it exists to certify the scale paths' results, not to
    run at scale."""
    return exact_jaccard_pairs(spark, sf_dir, df_cap=None)


# ---------------------------------------------------------------------------
# MinHash + LSH (X2 scale path) and SimHash — JVM xxhash64 signatures,
# rows-only (hash constants aren't SQL-portable); accuracy asserted in
# tests/test_text.py against the exact Jaccard query above.
# ---------------------------------------------------------------------------

MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands × 4 rows


# signature frames persisted per (session, corpus, perms) — round 11:
# the signature build is a full pass over the shingle explosion with
# num_perms hash+MIN aggregates per row, and every banded-LSH consumer
# references its signature frame from SEVERAL plan branches (bands +
# both verify-join sides), each of which re-ran the build (plan-branch
# expression-id drift defeats ReuseExchange). One materialization per
# hash family now serves all branches and all consumer queries; both
# builds are charged once in the serve-many warm pass
# (session.warm_per_corpus).
@per_corpus
def minhash_signatures(spark, sf_dir, num_perms: int = MINHASH_PERMS):
    """doc_id → minhash signature array (xxhash64-based permutations).

    signature[p] = min over the doc's shingles of hash_p(shingle),
    computed as ``num_perms`` parallel MIN aggregates over ONE pass of
    the shingle stream — no (shingle × perm) explosion. Partial
    (map-side) aggregation collapses each partition to one row per
    doc before the shuffle, so the exchanged data is
    |docs| × num_perms longs regardless of shingle count: the property
    that makes this the 100 TB signature plan. Reads the per-session
    shingle-set cache, so the corpus text is shingled once across all
    near-dup policies; the result is itself memoized per session
    so the LSH/dedup family shares one build."""
    shingles = shingle_sets(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    mins = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(p), F.col("shingle"))).alias(f"_m{p}")
            for p in range(num_perms)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[f"_m{p}" for p in range(num_perms)]).alias("signature")
    ).persist()


@per_corpus
def lsh_candidate_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs: band the 32-perm signature into
    8 buckets of 4, hash each band, join docs sharing any band
    bucket. Returns distinct (doc_a, doc_b, sig_a, sig_b). The
    banded equi-join replaces the all-pairs product — the candidate
    generator for every downstream near-dup policy.

    Persisted per (session, corpus) since round 11: three consumers
    (`neardup_minhash_lsh`, `dedup_corpus_lsh`,
    `pretrain_pipeline_report`) each re-ran the band explode + the
    banded self-join + the pair dropDuplicates per call — and the
    `bands` frame additionally feeds BOTH self-join sides, so each
    rebuild executed the band-hash subtree twice (expression-id drift
    defeats ReuseExchange, the round's documented defect class). The
    frame is near-dup-pair-bounded: |pairs sharing a band bucket|,
    the same candidate table a 100 TB dedup pipeline materializes
    once per corpus snapshot."""
    sigs = minhash_signatures(spark, sf_dir)
    r = MINHASH_PERMS // LSH_BANDS
    bands = sigs.select(
        "doc_id",
        "signature",
        F.explode(F.expr(f"sequence(0, {LSH_BANDS - 1})")).alias("band"),
    ).select(
        "doc_id",
        "signature",
        "band",
        F.xxhash64(
            F.col("band"), F.expr(f"slice(signature, band * {r} + 1, {r})").cast("string")
        ).alias("bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .persist()
    )
    # Round 12 (r11 verdict item 1 — unpersist superseded frames):
    # the xxhash signature cache's ONLY consumer is this candidate
    # build (the signatures every downstream policy needs ride along
    # as cand's sig_a/sig_b columns), so once the banded candidates
    # are materialized the corpus-sized signature frame (|docs| × 32
    # longs at 100 TB) has no reader left — release it from storage
    # and from the memo (a hypothetical later direct caller rebuilds
    # and re-persists correctly). persist() is lazy: the eager count
    # below makes sure the candidate blocks exist before the frame
    # they derive from is released.
    cand.count()
    minhash_signatures.release(spark, sf_dir)
    return cand


@per_corpus
def lsh_verified_pairs(spark, sf_dir, threshold: float = 0.35):
    """(doc_a, doc_b) banded-LSH candidates whose EXACT 3-gram Jaccard
    clears ``threshold`` — the shared verify stage of the scale-default
    dedup policy. `dedup_corpus_lsh` and `pretrain_pipeline_report`
    carried verbatim copies of this candidate⋈shingle-sets⋈rerank
    subtree (the shared-fragment rule: copies desynchronize silently),
    and each re-executed it per call. Persisted per
    (session, corpus, threshold); duplicate-pair-sized output."""
    cand = lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sets = shingle_sets(spark, sf_dir)
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
        .persist()
    )


@query("neardup_minhash_lsh")  # rows-only: xxhash64 signatures aren't SQL-portable
def neardup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs verified by estimated Jaccard
    (signature agreement) — this is the 100 TB near-dup plan."""
    cand = lsh_candidate_pairs(spark, sf_dir)
    est = cand.select(
        "doc_a",
        "doc_b",
        F.expr(
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) "
            f"/ cast({MINHASH_PERMS} as double)"
        ).alias("est_jaccard"),
    )
    return est.filter(F.col("est_jaccard") >= 0.3)


@query("text_simhash")  # rows-only: xxhash64 bit-mixing isn't SQL-portable
def text_simhash(spark, sf_dir):
    """64-bit SimHash per document: token hashes vote per bit
    position, majority wins. Pure JVM: explode (token × bit) is
    traded away by aggregating bit-counts with a 64-slot array
    accumulator in one pass.

    Round 11 note: the vocab-dictionary rewrite that won 3× for
    text_simhash_portable (32 md5s per occurrence → per distinct
    term) was A/B-measured HERE and reverted — one xxhash64 per
    occurrence is cheaper than the postings join it would save
    (2.3-2.5 s vs 2.6-3.6 s warm at sf0.1)."""
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .select("doc_id", F.xxhash64("token").alias("h"))
    )
    # 64 conditional sums in ONE aggregation (no bit explosion):
    # map-side partial agg collapses each partition to one row per
    # doc, so the shuffle carries |docs| rows, not |tokens| x 64
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    packed = sum(
        (
            F.when(F.col(f"_v{b}") > 0, F.expr(f"shiftleft(1L, {b})")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(64)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select("doc_id", packed.alias("simhash"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(lower(text), ' '),
                              t -> CAST(LENGTH(t) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 2147483647
           ) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: polynomial rolling hash over the token
    length sequence, mod 2^31-1 — pure fold arithmetic, so the same
    computation runs on any engine (the production variant folds
    xxhash64(token) instead; same plan, stronger hash)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.expr(
            "aggregate(transform(split(lower(text), ' '), t -> cast(length(t) as bigint)), "
            "cast(0 as bigint), (acc, x) -> (acc * 131 + x) % 2147483647)"
        ).alias("fingerprint"),
    )


BPE_PAT = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


@query(
    "text_token_bpe",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
             AS n_bpe_tokens,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens
    FROM documents
    WHERE doc_id < 300
    """,
)
def text_token_bpe(spark, sf_dir):
    """Token counting with a GPT-2-style BPE pre-tokenizer regex
    (contractions | space+letters | space+digits | space+punct-runs |
    whitespace) next to plain whitespace counts — the two token
    budgets every training-data pipeline tracks per document. Both
    engines run the identical RE2-compatible pattern."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
    )


# The capped + min-support candidate CTE every downstream dedup
# oracle must share with the engine default (neardup_ngram_jaccard):
# rare shingles propose, pairs need >= CAND_MIN_SUPPORT proposers,
# survivors are rescored exactly over ALL shingles. Consumers that
# feed on the default pair set MUST use this fragment — a
# plain uncapped pair enumeration silently diverges the moment a
# corpus contains a pair the pruned generator (by design) skips.
_CAPPED_PAIRS_FRAGMENT = f"""
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingles a
      JOIN rare USING (shingle)
      JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes za ON za.doc_id = a.doc_id
      JOIN sizes zb ON zb.doc_id = b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= LEAST({CAND_MIN_SUPPORT}, MIN(za.n), MIN(zb.n))
    ),
    doclists AS MATERIALIZED (
      SELECT doc_id, list(shingle) AS sh FROM shingles GROUP BY doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(la.sh, lb.sh)) AS inter
      FROM cand c
      JOIN doclists la ON la.doc_id = c.doc_a
      JOIN doclists lb ON lb.doc_id = c.doc_b
    )
"""
# ^ round 9: `inter` was a correlated COUNT(*) subquery over
# shingles x shingles — DuckDB decorrelates that into cand x shingles
# x shingles, a ~10^9-row intermediate at the 100x salted replica
# (20M candidates x ~52 shingles each) that exhausted 76 GB of temp
# disk. list_intersect over per-doc DISTINCT-shingle lists computes
# the IDENTICAL intersection count per candidate row with no
# intermediate blowup (build side: one 500k-row doc->list table);
# cand/doclists are MATERIALIZED so multi-reference consumers (the
# CC recursion, the calibration join) evaluate them once.

# Shared tail of the per-source kept/dropped oracles: the greedy trim
# over whatever `pairs` CTE the caller supplies.
_DEDUP_COUNTS_TAIL = """
    dropped AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.35
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN dr.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_kept,
           CAST(COUNT(dr.doc_id) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
"""

# Greedy-trim oracle over the engine DEFAULT pair generator
# (capped + min-support): the contract for dedup_corpus_greedy, which
# consumes neardup_ngram_jaccard.
_DEDUP_COUNTS_SQL = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    {_CAPPED_PAIRS_FRAGMENT},
    {_DEDUP_COUNTS_TAIL}
"""

# Greedy-trim oracle over the UNCAPPED exact pair universe: the
# contract for dedup_corpus_lsh, whose banded-LSH candidate generator
# has NO df-cap or support floor — banding recall over ALL pairs is
# exactly what that path promises, so auditing it against the pruned
# generator would hide (not test) a recall gap on prune-sensitive
# pairs.
_DEDUP_COUNTS_UNCAPPED_SQL = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    {_DEDUP_COUNTS_TAIL}
"""


@query("dedup_corpus_greedy", oracle=_DEDUP_COUNTS_SQL)
def dedup_corpus_greedy(spark, sf_dir):
    """End-to-end near-dup corpus dedup, greedy policy: a document is
    dropped iff it is the HIGHER doc_id of any pair with exact 3-gram
    Jaccard ≥ 0.35 (lowest id in a duplicate cluster always survives;
    chains are trimmed greedily rather than by full connected
    components — the standard large-corpus compromise: one
    anti-join instead of an iterative CC fixpoint). Output: per-source
    kept/dropped counts."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = neardup_ngram_jaccard(spark, sf_dir)  # exact pairs ≥ 0.35
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.join(dropped.withColumn("_d", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("_d").isNull(), 1)).alias("n_kept"),
            F.count(F.col("_d")).alias("n_dropped"),
        )
    )


@query("dedup_corpus_lsh", oracle=_DEDUP_COUNTS_UNCAPPED_SQL)
def dedup_corpus_lsh(spark, sf_dir, threshold: float = 0.35):
    """Scale-default corpus dedup: banded MinHash-LSH candidate
    generation → exact 3-gram Jaccard verification of ONLY the
    candidate pairs → greedy trim; per-source kept/dropped counts.

    This is the 100 TB default policy. The exact path
    (`dedup_corpus_greedy`, kept as the audit) joins every co-shingle
    pair through the inverted shingle index — correct, but a hot
    shingle fans out quadratically. Here the corpus-wide join is on
    (band, bucket), |candidates| ≪ |co-shingle pairs|, and the exact
    Jaccard is computed only for candidates by intersecting the two
    docs' array-packed shingle sets (shuffle carries candidate rows,
    not the shingle stream). Shares the exact path's oracle: banding
    recall covers the 0.35 threshold (8 bands × 4 rows catches every
    true pair in the test corpora; the differential test pins
    LSH-path == exact-path output)."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # candidate generation + exact verify live in the shared
    # per-session lsh_verified_pairs frame (round 11) — this query and
    # pretrain_pipeline_report previously re-executed verbatim copies
    verified = lsh_verified_pairs(spark, sf_dir, threshold=threshold)
    dropped = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.join(dropped.withColumn("_d", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("_d").isNull(), 1)).alias("n_kept"),
            F.count(F.col("_d")).alias("n_dropped"),
        )
    )


def connected_components(edges, max_iter: int = 20):
    """Minimum-label propagation over an undirected edge list
    ``(doc_a, doc_b)`` → ``(doc_id, component)`` where component is
    the smallest doc_id reachable from each node.

    The iterative fixpoint a full-cluster dedup needs (vs the greedy
    one-join trim in dedup_corpus_greedy): each round joins every
    node's current label against its neighbors' and keeps the min;
    rounds needed = graph diameter (near-dup clusters are shallow, so
    this converges in 2-4 rounds in practice). Each round is one
    shuffle join + one aggregate — the standard large-graph CC plan
    (same shape as GraphX/GraphFrames CC without the dependency).
    Label frames are cached per round and the loop exits early via a
    driver-side convergence count."""
    sym = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    sym = sym.cache()
    labels = labels.cache()
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
            )
            .cache()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels


@query(
    "dedup_corpus_connected_components",
    # Promoted from rows-only in round 3: the iterative min-label
    # fixpoint is deterministic (labels converge to the component
    # minimum), so DuckDB's recursive CTE reachability reproduces it
    # exactly — UNION-distinct recursion terminates, and
    # MIN(reachable id) IS the component label.
    # MATERIALIZED (round 9): `edges` is referenced from the recursive
    # term, and without materialization DuckDB re-executes the whole
    # shingle→capped-pair→Jaccard prelude on EVERY fixpoint iteration
    # — at the 100x replica each re-execution spills tens of GB and
    # the accumulated temp exhausts the disk (the kcore/khop CTE
    # re-inlining mechanism, round 8). One forced evaluation bounds it.
    oracle=f"""
    WITH RECURSIVE shingles AS MATERIALIZED ({_SHINGLE_SQL}),
    sizes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    {_CAPPED_PAIRS_FRAGMENT}, jac AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.35
    ), edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM jac
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM jac
    ), nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, comp) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.doc
    ), labels AS (
      SELECT doc, MIN(comp) AS component_id FROM reach GROUP BY doc
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MIN(doc) AS keeper_doc_id
    FROM labels
    GROUP BY component_id
    """,
)
def dedup_corpus_connected_components(spark, sf_dir):
    """Full-cluster near-dup dedup: connected components over the
    exact-Jaccard pair graph; the minimum doc_id of each component
    survives. Per-component sizes returned (clusters of 1 pair or a
    chain collapse to ONE survivor — the semantic difference from
    the greedy trim, asserted in tests)."""
    pairs = neardup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("keeper_doc_id"),
        )
        .withColumnRenamed("component", "component_id")
    )


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
             || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           LENGTH(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                 '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_len
    FROM enriched
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails/phones → placeholder tokens) — the
    redaction pass every training-data pipeline runs before tokenizing.
    Deterministic synthetic PII is appended per doc so the redaction
    path actually exercises; the same RE2-compatible patterns run in
    both engines. Output: per-doc redaction counts + scrubbed length.
    """
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 300)
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-0"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    return enriched.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


CHUNK_SIZE = 50
CHUNK_STRIDE = 40  # 10-token overlap


@query(
    "text_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tok
      FROM documents WHERE doc_id < 200
    ),
    chunks AS (
      SELECT doc_id,
             CAST(c AS INT) AS chunk_idx,
             list_slice(tok, c * {CHUNK_STRIDE} + 1,
                        c * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS chunk
      FROM toks,
           LATERAL (SELECT unnest(range(0,
             CAST(ceil(greatest(len(tok) - {CHUNK_SIZE}, 0)
                       / {CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS c)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks WHERE len(chunk) > 0
    """,
)
def text_chunking(spark, sf_dir):
    """Overlapping-window document chunking (50-token chunks, stride
    40) — the RAG/training-example prep operator: tokens → slice per
    chunk index → one row per chunk. Pure JVM array functions; the
    fan-out is bounded at ~len/stride rows per doc and chunk ids are
    deterministic, so re-chunking is reproducible at any scale."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("tok"))
    n_chunks = (
        F.ceil(
            F.greatest(F.size("tok") - CHUNK_SIZE, F.lit(0)) / float(CHUNK_STRIDE)
        ).cast("int")
        + 1
    )
    chunks = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col("tok"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.slice(
            "tok", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
        ).alias("chunk"),
    )
    return chunks.filter(F.size("chunk") > 0).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


@query(
    "text_vocab_df_prune",
    oracle="""
    WITH df_counts AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT CASE WHEN df < 3 THEN 'rare'
                WHEN df > 0.5 * n.n_docs THEN 'stop'
                ELSE 'keep' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS total_df
    FROM df_counts CROSS JOIN n
    GROUP BY 1
    """,
)
def text_vocab_df_prune(spark, sf_dir):
    """Vocabulary pruning by document frequency — the tokenizer-
    training prep step: terms with df < min_df are 'rare' (typo/noise
    tail, dropped), terms in > 50% of docs are 'stop' (no signal),
    the rest is the trainable vocab. One explode+agg over the corpus;
    the doc count rides the plan as a broadcast 1-row crossJoin, so
    no second scan for the normalizer. Returns per-bucket term and
    posting totals (the numbers that size a BPE training run)."""
    docs = load_tables(spark, sf_dir)["documents"]
    df_counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    bucket = (
        F.when(F.col("df") < 3, "rare")
        .when(F.col("df") > 0.5 * F.col("n_docs"), "stop")
        .otherwise("keep")
    )
    return (
        df_counts.crossJoin(F.broadcast(n))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").cast("bigint").alias("total_df"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — drop training docs that share an n-gram
# with the held-out eval set (the step every LLM data pipeline runs
# before training; 13-grams at production scale, 5-grams here because
# the synthetic docs are ~55 tokens).
# ---------------------------------------------------------------------------

_GRAM5_EXPR = (
    "CASE WHEN size(tok) >= 5 THEN "
    "transform(sequence(0, size(tok) - 5), "
    "i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2], tok[i+3], tok[i+4])) "
    "ELSE array() END"
)


def decontaminate(train_docs, eval_docs, n_tokens: int = 5):
    """(clean_train_docs, contaminated_ids): semi-join the training
    corpus's n-gram stream against the eval set's n-gram set. The
    eval side is a benchmark — tiny by construction — so its gram set
    is broadcast and the training corpus is never shuffled: each task
    checks its own docs' grams against the broadcast set and only the
    contaminated doc_ids (rare by design) move."""
    def grams(docs):
        return (
            docs.select("doc_id", F.split(F.lower("text"), " ").alias("tok"))
            .select("doc_id", F.explode(F.expr(_GRAM5_EXPR)).alias("gram"))
        )

    eval_grams = grams(eval_docs).select("gram").distinct()
    contaminated = (
        grams(train_docs)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = train_docs.join(contaminated, "doc_id", "left_anti")
    return clean, contaminated


@query(
    "decontaminate_eval_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS tok
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tok) >= 5 THEN
               [array_to_string(tok[i:i+4], ' ') FOR i IN range(1, len(tok) - 3)]
             ELSE [] END) AS gram
      FROM toks
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM grams t
      JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0) e
        ON t.gram = e.gram
      WHERE t.doc_id % 20 <> 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COUNT(*) - COUNT(c.doc_id) AS BIGINT) AS n_clean
    FROM documents LEFT JOIN contaminated c USING (doc_id)
    WHERE doc_id % 20 <> 0
    GROUP BY source
    """,
)
def decontaminate_eval_overlap(spark, sf_dir):
    """Decontamination report: documents with doc_id ≡ 0 (mod 20)
    play the held-out benchmark; the rest is the training corpus.
    Per-source counts of training docs sharing any 5-gram with the
    eval set (the synthetic corpus's planted near-dup pairs are
    exactly what this catches)."""
    docs = load_tables(spark, sf_dir)["documents"]
    is_eval = F.pmod(F.col("doc_id"), F.lit(20)) == 0
    train = docs.filter(~is_eval)
    _, contaminated = decontaminate(train, docs.filter(is_eval))
    flagged = contaminated.withColumn("_c", F.lit(1))
    return (
        train.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count(F.col("_c")).alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count(F.col("_c"))).alias("n_clean"),
        )
    )


@query(
    "pack_contexts_assign",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             LENGTH(string_split(text, ' ')) AS n_tokens,
             md5(concat('pack:', CAST(doc_id AS VARCHAR))) AS pack_key
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY pack_key, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM tok
    )
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS start_context,
           CAST((cum_tokens - 1) // 2048 AS BIGINT) AS end_context
    FROM cum
    """,
)
def pack_contexts_assign(spark, sf_dir):
    """Materialized concat-and-chunk packing (the GPT-style zero-pad
    packing whose yield `pack_contexts_plan` estimates): docs are laid
    on a per-source token tape in deterministic md5 order, and each
    doc's byte-range maps to its covering 2048-token contexts
    (start/end context ids; a doc spanning a boundary appears in
    both). The running total is a window cumsum PARTITIONED BY source
    — each source packs independently, so at 100 TB the window never
    sees a global order, just one source's slice per partition group
    (pre-partition a huge source by a hash prefix the same way)."""
    docs = load_tables(spark, sf_dir)["documents"]
    from pyspark.sql import Window as W

    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias(
            "pack_key"
        ),
    )
    w = (
        W.partitionBy("source")
        .orderBy("pack_key", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = tok.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2048).alias("start_context"),
        F.floor((F.col("cum_tokens") - 1) / 2048).alias("end_context"),
    )


@query(
    "text_repetition_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tok_counts AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks
      WHERE token <> '' GROUP BY doc_id, token
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(MAX(c) AS BIGINT) AS top_token_count,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
      FROM tok_counts GROUP BY doc_id
    ),
    big AS (
      SELECT doc_id,
             [concat(tok[i], ' ', tok[i+1]) FOR i IN range(1, len(tok))] AS bigrams
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents)
      WHERE len(tok) >= 2
    ),
    big_stats AS (
      SELECT doc_id,
             CAST(len(bigrams) AS BIGINT) AS n_bigrams,
             CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
      FROM big
    )
    SELECT p.doc_id, p.n_tokens, p.n_distinct_tokens,
           ROUND(p.top_token_count / CAST(p.n_tokens AS DOUBLE), 9)
             AS top_token_frac,
           ROUND(1.0 - p.n_distinct_tokens / CAST(p.n_tokens AS DOUBLE), 9)
             AS dup_token_frac,
           ROUND(1.0 - b.n_distinct_bigrams / CAST(b.n_bigrams AS DOUBLE), 9)
             AS dup_bigram_frac
    FROM per_doc p JOIN big_stats b USING (doc_id)
    """,
)
def text_repetition_scores(spark, sf_dir):
    """Gopher-style repetition signals per document: top-token
    concentration, duplicate-token fraction, duplicate-bigram
    fraction — the 'repetitious text' axis of pretraining quality
    filters (Rae et al. 2021 §A1.1 use exactly these shapes). Token
    stats come from one explode+groupBy; bigram dup-rate needs no
    explode at all — `array_distinct` sizes computed per row, map-
    side. Both branches join on doc_id, the only shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok_counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_token_count"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )
    big_stats = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("tok"))
        .filter(F.size("tok") >= 2)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, size(tok) - 2), "
                "i -> concat(tok[i], ' ', tok[i+1]))"
            ).alias("bigrams"),
        )
        .select(
            "doc_id",
            F.size("bigrams").cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct("bigrams")).cast("bigint").alias(
                "n_distinct_bigrams"
            ),
        )
    )
    return per_doc.join(big_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round(
            F.col("top_token_count") / F.col("n_tokens").cast("double"), 9
        ).alias("top_token_frac"),
        F.round(
            F.lit(1.0) - F.col("n_distinct_tokens") / F.col("n_tokens").cast("double"),
            9,
        ).alias("dup_token_frac"),
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_bigrams") / F.col("n_bigrams").cast("double"),
            9,
        ).alias("dup_bigram_frac"),
    )


_PIPELINE_SQL = f"""
    WITH feat AS (
      SELECT doc_id, source,
             LENGTH(text) AS n_chars,
             LENGTH(string_split(text, ' ')) AS n_tokens,
             (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
               / CAST(LENGTH(text) AS DOUBLE) AS space_ratio,
             (LENGTH(lower(text)) - LENGTH(REPLACE(lower(text), 'the', '')))
               / 3 AS stop_hits
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tok) >= 5 THEN
               [array_to_string(tok[i:i+4], ' ') FOR i IN range(1, len(tok) - 3)]
             ELSE [] END) AS gram
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents)
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM grams t
      JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0) e
        ON t.gram = e.gram
      WHERE t.doc_id % 20 <> 0
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY sha256(lower(trim(text)))
    ),
    shingles AS ({{SHINGLE}}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near_dropped AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.35
    )
    SELECT CASE
             WHEN f.doc_id % 20 = 0 THEN 'eval_holdout'
             WHEN f.n_tokens < 20 THEN 'quality_too_short'
             WHEN f.n_chars > 500 THEN 'quality_too_long'
             WHEN f.space_ratio < 0.15 THEN 'quality_low_space'
             WHEN f.stop_hits < 1 THEN 'quality_no_stopword'
             WHEN c.doc_id IS NOT NULL THEN 'contaminated'
             WHEN k.doc_id IS NULL THEN 'exact_dup'
             WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
             ELSE 'kept' END AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM feat f
    LEFT JOIN contaminated c ON f.doc_id = c.doc_id
    LEFT JOIN keepers k ON f.doc_id = k.doc_id
    LEFT JOIN near_dropped nd ON f.doc_id = nd.doc_id
    GROUP BY stage
"""


@query("pretrain_pipeline_report", oracle=_PIPELINE_SQL.format(SHINGLE=_SHINGLE_SQL))
def pretrain_pipeline_report(spark, sf_dir):
    """The full pretraining-data pipeline as ONE attributed report:
    every document lands in exactly one bucket by filter precedence —
    eval holdout → staged quality rules (C4) → benchmark
    decontamination (5-gram overlap, broadcast eval set) → exact
    dedup (sha256 min-id keeper) → near-dup (MinHash-LSH candidates,
    exact-Jaccard verify, greedy trim) → kept. Each membership set is
    computed independently on the full corpus (so the report is
    order-deterministic and each set reuses its operator's plan —
    shingle cache included), then one CASE attributes the first
    rejecting stage. This is the composition a 100 TB pretraining run
    executes; the per-stage counts are its yield audit."""
    docs = load_tables(spark, sf_dir)["documents"]

    text = F.col("text")
    lower = F.lower(text)
    feat = docs.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        F.size(F.split(text, " ")).alias("n_tokens"),
        (
            (F.length(text) - F.length(F.regexp_replace(text, " ", "")))
            / F.length(text).cast("double")
        ).alias("space_ratio"),
        (
            (F.length(lower) - F.length(F.regexp_replace(lower, "the", ""))) / F.lit(3)
        ).alias("stop_hits"),
    )

    is_eval = F.pmod(F.col("doc_id"), F.lit(20)) == 0
    _, contaminated = decontaminate(docs.filter(~is_eval), docs.filter(is_eval))
    contaminated = contaminated.withColumn("_cont", F.lit(1))

    keepers = (
        docs.select(
            F.sha2(F.lower(F.trim(text)), 256).alias("_h"), "doc_id"
        )
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("_keep", F.lit(1))
    )

    # the LSH candidate → exact-verify pair stream (the scale-default
    # near-dup policy): the SAME shared per-session frame
    # dedup_corpus_lsh consumes (round 11 — was a verbatim copy of
    # the candidate⋈shingle-sets⋈rerank subtree, re-executed per call)
    verified = lsh_verified_pairs(spark, sf_dir, threshold=0.35)
    near = verified.select(F.col("doc_b").alias("doc_id")).distinct().withColumn(
        "_near", F.lit(1)
    )

    stage = (
        F.when(is_eval, "eval_holdout")
        .when(F.col("n_tokens") < 20, "quality_too_short")
        .when(F.col("n_chars") > 500, "quality_too_long")
        .when(F.col("space_ratio") < 0.15, "quality_low_space")
        .when(F.col("stop_hits") < 1, "quality_no_stopword")
        .when(F.col("_cont").isNotNull(), "contaminated")
        .when(F.col("_keep").isNull(), "exact_dup")
        .when(F.col("_near").isNotNull(), "near_dup")
        .otherwise("kept")
    )
    return (
        feat.join(contaminated, "doc_id", "left")
        .join(keepers, "doc_id", "left")
        .join(near, "doc_id", "left")
        .groupBy(stage.alias("stage"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "dedup_exact_priority",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             sha256(lower(trim(text))) AS content_hash,
             CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0 ELSE 1 END
               AS tier
      FROM documents
    )
    SELECT content_hash,
           MIN(doc_id) FILTER (WHERE (tier, doc_id) = best) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM (
      SELECT *, MIN((tier, doc_id)) OVER (PARTITION BY content_hash) AS best
      FROM ranked
    )
    GROUP BY content_hash
    """,
)
def dedup_exact_priority(spark, sf_dir):
    """Exact dedup with source priority: when copies of the same
    content exist in several sources, keep the copy from the
    preferred tier (curated sources beat crawl tiers — the standard
    cross-source dedup policy in pretraining pipelines), breaking
    ties by min doc_id. One `min_by` on a (tier, doc_id) struct —
    struct ordering is lexicographic in both engines, so the keeper
    is deterministic; same single uniform-key shuffle as plain
    `dedup_exact`."""
    docs = load_tables(spark, sf_dir)["documents"]
    tier = F.when(F.col("source").isin("src0", "src1", "src2"), 0).otherwise(1)
    return (
        docs.select(
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
            "doc_id",
            F.struct(tier.alias("tier"), F.col("doc_id").alias("doc_id")).alias(
                "pri"
            ),
        )
        .groupBy("content_hash")
        .agg(
            F.min_by("doc_id", "pri").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Span-level (paragraph-analogue) exact dedup — C4-style
# ---------------------------------------------------------------------------



SPAN_TOKENS = 10

def doc_spans(docs, extra_cols=()):
    """(doc_id, *extra, span_text) — consecutive ``SPAN_TOKENS``-token
    spans of each document, built row-locally with JVM higher-order
    functions (split → sequence → transform(slice)): nothing
    token-level ever reaches a shuffle. Shared by the span-dedup
    family (corpus report, incremental gate, streaming admission)."""
    span_expr = F.expr(
        "CASE WHEN size(toks) >= 10 THEN "
        "  transform(sequence(1, size(toks) div 10), "
        "            i -> array_join(slice(toks, (i-1)*10 + 1, 10), ' ')) "
        "ELSE array() END"
    )
    return docs.select(
        "doc_id",
        *extra_cols,
        F.split(F.lower(F.col("text")), " ").alias("toks"),
    ).select("doc_id", *extra_cols, F.explode(span_expr).alias("span_text"))


@query(
    "dedup_paragraph_spans",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), spans AS (
      SELECT doc_id,
             array_to_string(toks[(i-1)*10+1 : i*10], ' ') AS span_text
      FROM tok, UNNEST(range(1, CAST(len(toks)//10 AS BIGINT)+1)) AS r(i)
    )
    SELECT span_text,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM spans
    GROUP BY span_text
    HAVING COUNT(*) >= 2
    """,
)
def dedup_paragraph_spans(spark, sf_dir):
    """Span-level exact dedup, the C4-paper "three-sentence span"
    policy adapted to whitespace corpora: cut each document into
    consecutive 10-token spans, hash-group spans corpus-wide, report
    every span that occurs more than once with its deterministic
    keeper (min doc_id). Near-duplicate documents that survive
    doc-level exact dedup (one edited word changes the sha256) still
    collide on most of their unedited spans, so this is the signal a
    pipeline uses to trim partially-copied text.

    Scale shape: span construction is pure JVM higher-order functions
    on each row (split → sequence → transform(slice)) — no explode
    before the shuffle boundary and no Python anywhere. The single
    shuffle groups by span text whose hash is uniform by
    construction; output is only the duplicated tail, so the reduce
    side is collision-sized, not corpus-sized. At 100 TB you'd group
    on ``xxhash64(span)`` and drop the text column; the text is kept
    here because the driver oracle compares values."""
    docs = load_tables(spark, sf_dir)["documents"]
    spans = doc_spans(docs)
    return (
        spans.groupBy("span_text")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_occ") >= 2)
    )


@query(
    "dedup_incremental_gate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      FROM documents
    ), spans AS (
      SELECT doc_id, source,
             array_to_string(toks[(i-1)*10+1 : i*10], ' ') AS span_text
      FROM tok, UNNEST(range(1, CAST(len(toks)//10 AS BIGINT)+1)) AS r(i)
    ), corpus_spans AS (
      SELECT DISTINCT span_text FROM spans
      WHERE CAST(substr(source, 4) AS INTEGER) < 10
    ), batch AS (
      SELECT s.doc_id, s.span_text,
             CASE WHEN c.span_text IS NOT NULL THEN 1 ELSE 0 END AS seen
      FROM spans s LEFT JOIN corpus_spans c USING (span_text)
      WHERE CAST(substr(s.source, 4) AS INTEGER) >= 10
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(seen) AS BIGINT) AS n_seen_spans,
           ROUND(SUM(seen) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
           CASE WHEN SUM(seen) / CAST(COUNT(*) AS DOUBLE) >= 0.5
                THEN 'reject' ELSE 'accept' END AS verdict
    FROM batch
    GROUP BY doc_id
    """,
)
def dedup_incremental_gate(spark, sf_dir):
    """Incremental dedup against an already-indexed corpus — the
    admission gate a continuously-fed pretraining pipeline runs on
    every new crawl batch: has this content (or most of it) been
    ingested before? Sources src0-9 stand in for the indexed corpus,
    src10-19 for the incoming batch; a batch document is rejected
    when ≥50% of its 10-token spans already exist corpus-side, which
    catches exact copies AND partial/near copies that a whole-doc
    hash anti-join misses.

    Scale shape: the corpus side reduces to a DISTINCT span-hash set
    (built once per ingest cycle — in production it persists as the
    span index and the new batch only JOINS against it, never
    rescans corpus text). One equi-join on the uniform span key, one
    per-doc aggregate; at 100 TB the span index is the thing you
    keep, exactly like the manifest the reference carries between
    rebuilds."""
    docs = load_tables(spark, sf_dir)["documents"]
    src_num = F.substring("source", 4, 10).cast("int")
    spans = doc_spans(docs.withColumn("src_num", src_num), extra_cols=("src_num",))
    corpus = spans.filter(F.col("src_num") < 10).select("span_text").distinct()
    batch = spans.filter(F.col("src_num") >= 10)
    seen = batch.join(
        corpus.withColumn("seen_flag", F.lit(1)), "span_text", "left"
    ).select("doc_id", F.coalesce("seen_flag", F.lit(0)).alias("seen"))
    dup_frac = F.sum("seen") / F.count(F.lit(1)).cast("double")
    return seen.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("seen").cast("bigint").alias("n_seen_spans"),
        F.round(dup_frac, 6).alias("dup_frac"),
        F.when(dup_frac >= 0.5, "reject").otherwise("accept").alias("verdict"),
    )


@query(
    "text_unigram_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), dt AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ), tf AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS n FROM dt GROUP BY 1
    ), tot AS (SELECT SUM(n) AS total FROM tf),
    doc_scores AS (
      SELECT dt.doc_id,
             CAST(SUM(dt.c) AS BIGINT) AS n_tokens,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(
                   k := dt.token,
                   v := CAST(dt.c AS DOUBLE)
                        * ln(tf.n / CAST(tot.total AS DOUBLE))))),
                 x -> x.v),
               (a, b) -> a + b) AS log_prob
      FROM dt JOIN tf ON dt.token = tf.token CROSS JOIN tot
      GROUP BY dt.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(-log_prob / n_tokens, 9) AS mean_nll
    FROM doc_scores
    """,
)
def text_unigram_lm_score(spark, sf_dir):
    """Corpus-derived unigram LM scoring — the CCNet/Wikipedia-LM
    quality-filter shape, model-free: token probabilities come from
    the corpus itself (tf / total), each document is scored by mean
    negative log-likelihood. Low mean-NLL ≈ in-distribution prose;
    high ≈ boilerplate/garbage — the ranking a pipeline thresholds
    or buckets for curriculum mixing.

    Plan shape: the term-frequency table is the SAME postings
    aggregate the search tier caches (one corpus scan), the total
    rides as a broadcast 1-row aggregate, and scoring is one
    postings-sized join — no second pass over text. At 100 TB the tf
    table is the artifact you persist beside the span/postings
    indexes.

    Exactness (round 10): per-doc scoring folds c·ln(tf/total) over
    the doc's DISTINCT tokens in token order (``sorted_fold`` here,
    ``list(... ORDER BY token)`` + ``list_reduce`` in DuckDB) — the
    salted-100x battery caught the original order-unspecified
    ``SUM(ln(...))`` flipping mean_nll's ROUND(9) boundary
    run-to-run. The distinct-token regroup also shrinks the fold to
    doc-vocabulary size (bounded by doc length)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    dt = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    tf = dt.groupBy("token").agg(F.sum("c").cast("bigint").alias("n"))
    tot = tf.agg(F.sum("n").cast("double").alias("total"))
    term = F.col("c").cast("double") * F.log(F.col("n") / F.col("total"))
    return (
        dt.join(tf, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.collect_list(
                F.struct(F.col("token").alias("k"), term.alias("v"))
            ).alias("terms"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                -sorted_fold(F.col("terms")) / F.col("n_tokens"), 9
            ).alias("mean_nll"),
        )
    )


@query(
    "text_entropy_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS n
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, SUM(n) AS total FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           CAST(dl.total AS BIGINT) AS n_tokens,
           ROUND(-list_reduce(
               list_transform(
                 list_sort(list(struct_pack(
                   k := tf.token,
                   v := (tf.n / CAST(dl.total AS DOUBLE))
                        * ln(tf.n / CAST(dl.total AS DOUBLE))))),
                 x -> x.v),
               (a, b) -> a + b), 9) AS entropy
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id
    GROUP BY tf.doc_id, dl.total
    """,
)
def text_entropy_score(spark, sf_dir):
    """Per-document token-distribution entropy — the self-information
    twin of ``text_unigram_lm_score``'s cross-entropy: low entropy =
    repetitive/templated text (the Gopher repetition signals as one
    number), high entropy ≈ diverse vocabulary. The LM score asks
    "how surprising is this doc to the corpus"; entropy asks "how
    surprising is this doc to itself" — pipelines threshold both.

    Plan: per-doc term frequencies (the within-doc postings), doc
    length by one more aggregate on the same frame, entropy as a
    p·ln p sum — two shuffles on doc-sized keys, no corpus-global
    state at all (embarrassingly parallel at 100 TB).

    Exactness (round 10): the p·ln p reduction is a token-ORDERED
    fold on both sides (same family as text_unigram_lm_score — the
    plain float SUM is order-unspecified and can flip the ROUND(9)
    boundary run-to-run; caught by the salted-100x battery)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
    dl = tf.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total").cast("double")
    return (
        tf.join(dl, "doc_id")
        .groupBy("doc_id", "total")
        .agg(
            F.collect_list(
                F.struct(F.col("token").alias("k"), (p * F.log(p)).alias("v"))
            ).alias("terms")
        )
        .select(
            "doc_id",
            F.col("total").cast("bigint").alias("n_tokens"),
            F.round(-sorted_fold(F.col("terms")), 9).alias("entropy"),
        )
    )


@query(
    "text_source_drift_kl",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), src_tf AS (
      SELECT source, token, COUNT(*) AS n
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, SUM(n) AS total FROM src_tf GROUP BY 1
    ), glob_tf AS (
      SELECT token, SUM(n) AS gn FROM src_tf GROUP BY 1
    ), glob_tot AS (SELECT SUM(gn) AS gtotal FROM glob_tf),
    bucketed AS (
      SELECT s.source, substr(md5(s.token), 1, 2) AS bucket,
             CAST(SUM(s.n) AS BIGINT) AS bn,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(
                   k := s.token,
                   v := (s.n / CAST(st.total AS DOUBLE))
                        * ln((s.n / CAST(st.total AS DOUBLE))
                             / (g.gn / CAST(gt.gtotal AS DOUBLE)))))),
                 x -> x.v),
               (a, b) -> a + b) AS sub
      FROM src_tf s
      JOIN src_tot st USING (source)
      JOIN glob_tf g USING (token)
      CROSS JOIN glob_tot gt
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(bn) AS BIGINT) AS n_tokens,
           ROUND(list_reduce(
               list_transform(
                 list_sort(list(struct_pack(k := bucket, v := sub))),
                 x -> x.v),
               (a, b) -> a + b), 9)
             AS kl_vs_corpus
    FROM bucketed
    GROUP BY source
    ORDER BY source
    """,
)
def text_source_drift_kl(spark, sf_dir):
    """Per-source distribution drift: KL(source token distribution ‖
    corpus distribution) — the monitoring metric a continuously-fed
    pipeline alarms on when a crawl source changes character
    (boilerplate injection, language shift, template rot). KL is
    finite here by construction: every source token is in the corpus
    distribution (the source is part of the corpus).

    Plan: ONE corpus scan builds (source, token) counts; source
    totals, global token counts, and the global total all derive
    from that aggregate (token-sized, not corpus-sized); the global
    total rides as a broadcast 1-row crossJoin. At 100 TB the same
    query runs with the new batch as the foreground and the span/
    postings index as the background — the shape is identical to
    ``search_significant_terms``.

    Exactness (round 10): the KL reduction is ordered on both sides,
    but a per-SOURCE group is corpus-vocabulary-sized (Heaps-growing,
    unlike the per-doc queries in this family), so a single
    collect_list would be an unbounded fan-in. Two-level fold
    instead: fold token-ordered WITHIN each of 256 md5-prefix buckets
    (the dsir_importance_weights hashing trick), then fold the 256
    bucket subtotals bucket-ordered — both levels deterministic,
    every array bounded by vocab/256 (level 1) or 256 (level 2)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    src_tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    src_tot = src_tf.groupBy("source").agg(F.sum("n").alias("total"))
    glob_tf = src_tf.groupBy("token").agg(F.sum("n").alias("gn"))
    glob_tot = glob_tf.agg(F.sum("gn").cast("double").alias("gtotal"))
    p = F.col("n") / F.col("total").cast("double")
    q = F.col("gn") / F.col("gtotal")
    bucketed = (
        src_tf.join(src_tot, "source")
        .join(glob_tf, "token")
        .crossJoin(F.broadcast(glob_tot))
        .groupBy("source", F.substring(F.md5("token"), 1, 2).alias("bucket"))
        .agg(
            F.sum("n").cast("bigint").alias("bn"),
            F.collect_list(
                F.struct(
                    F.col("token").alias("k"), (p * F.log(p / q)).alias("v")
                )
            ).alias("terms"),
        )
        .select("source", "bucket", "bn", sorted_fold(F.col("terms")).alias("sub"))
    )
    return (
        bucketed.groupBy("source")
        .agg(
            F.sum("bn").cast("bigint").alias("n_tokens"),
            F.collect_list(
                F.struct(F.col("bucket").alias("k"), F.col("sub").alias("v"))
            ).alias("subs"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(sorted_fold(F.col("subs")), 9).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


@query(
    "text_bigram_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i,
             tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
            FROM documents WHERE LENGTH(string_split(lower(text), ' ')) >= 2),
           LATERAL (SELECT unnest(range(1, LENGTH(tok))) AS i)
      WHERE tok[i] <> '' AND tok[i+1] <> ''
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS n12 FROM toks GROUP BY 1, 2
    ),
    uni AS (
      SELECT w, SUM(c) AS n1 FROM (
        SELECT w1 AS w, COUNT(*) AS c FROM toks GROUP BY 1
        UNION ALL
        SELECT w2 AS w, COUNT(*) AS c FROM toks GROUP BY 1
      ) GROUP BY w
    ),
    tot AS (SELECT SUM(n12) AS nb FROM big)
    SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
           ROUND(ln((n12 / CAST(nb AS DOUBLE))
                    / ((u1.n1 / CAST(2 * nb AS DOUBLE))
                       * (u2.n1 / CAST(2 * nb AS DOUBLE)))), 9) AS pmi
    FROM big
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN tot
    WHERE n12 >= 25
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def text_bigram_pmi(spark, sf_dir):
    """Collocation mining: top bigrams by pointwise mutual
    information — the measure behind phrase detection in tokenizer /
    vocab construction (merge "new york" into one unit when
    P(w1,w2) ≫ P(w1)P(w2)). One pass builds adjacent pairs with a
    slide-by-one zip (JVM higher-order functions, no pre-shuffle
    token explode); bigram and unigram counts are token-sized
    aggregates; the grand total rides as a broadcast 1-row crossJoin;
    a min-count floor (25) keeps the PMI estimator out of its
    low-count noise regime. Same marginals convention both sides
    (positional occurrences, ×2 total)."""
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = (
        docs.select(F.split(F.lower("text"), " ").alias("tok"))
        .filter(F.size("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(zip_with(slice(tok, 1, size(tok) - 1), "
                    "slice(tok, 2, size(tok) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2)), "
                    "p -> p.w1 <> '' AND p.w2 <> '')"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uni = (
        pairs.select(F.col("w1").alias("w"))
        .unionAll(pairs.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    tot = big.agg(F.sum("n12").cast("double").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n1").alias("m1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n1").alias("m2"))
    return (
        big.filter(F.col("n12") >= 25)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n12").cast("bigint").alias("n12"),
            F.round(
                F.log(
                    (F.col("n12") / F.col("nb"))
                    / (
                        (F.col("m1") / (2 * F.col("nb")))
                        * (F.col("m2") / (2 * F.col("nb")))
                    )
                ),
                9,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "text_vocab_growth_curve",
    oracle="""
    WITH firsts AS (
      SELECT token, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
    ), milestones AS (
      SELECT CAST(m AS BIGINT) AS docs_seen
      FROM UNNEST([50, 100, 200, 300, 400, 500]) AS t(m)
    )
    SELECT docs_seen,
           CAST(COUNT(f.token) AS BIGINT) AS vocab_size
    FROM milestones m LEFT JOIN firsts f ON f.first_doc < m.docs_seen
    GROUP BY docs_seen
    ORDER BY docs_seen
    """,
)
def text_vocab_growth_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth: distinct-token count after the
    first N documents, at fixed milestones — the curve that tells a
    tokenizer builder whether vocabulary is saturating (curve
    flattens: closed domain) or still growing in a power law (open
    vocab: budget for byte-level fallback). Each token reduces to its
    FIRST document (one token-keyed aggregate — no running-distinct
    state); the milestone join then counts tokens whose first
    appearance precedes each cut. The theta join is
    milestones×vocab — bounded by the tiny milestone list."""
    docs = load_tables(spark, sf_dir)["documents"]
    firsts = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    milestones = load_tables(spark, sf_dir)["documents"].sparkSession.createDataFrame(
        [(m,) for m in (50, 100, 200, 300, 400, 500)], "docs_seen long"
    )
    return (
        F.broadcast(milestones)
        .join(firsts, F.col("first_doc") < F.col("docs_seen"), "left")
        .groupBy("docs_seen")
        .agg(F.count("token").cast("bigint").alias("vocab_size"))
        .orderBy("docs_seen")
    )


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    ipairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT doc_a, doc_b,
             inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS j
      FROM ipairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ), grid AS (
      SELECT CAST(t AS DOUBLE) / 100 AS threshold
      FROM UNNEST([25, 35, 45, 55, 65, 75]) AS g(t)
    ), corpus AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT threshold,
           CAST(COUNT(j.doc_a) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT j.doc_b) AS BIGINT) AS n_dropped,
           CAST(MAX(c.n_docs) - COUNT(DISTINCT j.doc_b) AS BIGINT) AS n_kept
    FROM grid
    LEFT JOIN jac j ON j.j >= threshold
    CROSS JOIN corpus c
    GROUP BY threshold
    ORDER BY threshold
    """,
)
def dedup_threshold_sensitivity(spark, sf_dir):
    """Dedup knob tuning: corpus yield as a function of the Jaccard
    threshold, on one grid pass — pairs are scored ONCE (the same
    inverted-index plan as the exact near-dup query), then a tiny
    broadcast threshold grid classifies them; n_dropped uses the
    simple higher-doc-loses policy so the curve is deterministic.
    This is the query a pipeline owner runs before committing a
    threshold: the cliff between "dedup removes copies" and "dedup
    eats paraphrases" is visible as the kept-count knee."""
    sets = shingle_sets(spark, sf_dir)
    shingles = sets.select("doc_id", F.explode("sh").alias("shingle"))
    sizes = sets.select("doc_id", "n")
    a = shingles.alias("a")
    b = shingles.alias("b")
    ipairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        ipairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("j"),
        )
    )
    spark_sess = sets.sparkSession
    grid = spark_sess.createDataFrame(
        [(t / 100.0,) for t in (25, 35, 45, 55, 65, 75)], "threshold double"
    )
    n_docs = load_tables(spark, sf_dir)["documents"].agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        F.broadcast(grid)
        .join(jac, F.col("j") >= F.col("threshold"), "left")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("threshold")
        .agg(
            F.count("doc_a").cast("bigint").alias("n_pairs"),
            F.countDistinct("doc_b").cast("bigint").alias("n_dropped"),
            (F.max("n_docs") - F.countDistinct("doc_b"))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("threshold")
    )


@query(
    "langid_confusion_report",
    oracle="""
    WITH scored AS (
      SELECT lang,
             CASE WHEN LENGTH(' ' || lower(text) || ' ')
                       - LENGTH(REPLACE(' ' || lower(text) || ' ', ' the ', ''))
                       >= 5 THEN 'en'
                  WHEN LENGTH(' ' || lower(text) || ' ')
                       - LENGTH(REPLACE(' ' || lower(text) || ' ', ' a ', ''))
                       >= 3 THEN 'en'
                  ELSE 'unknown' END AS predicted
      FROM documents
    )
    SELECT lang, predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang)
                                 AS DOUBLE), 9) AS frac_of_lang
    FROM scored
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def langid_confusion_report(spark, sf_dir):
    """Self-evaluation of the language-ID heuristic: confusion matrix
    of predicted vs labeled language with per-label fractions — the
    audit query that belongs NEXT TO every classifier-shaped operator
    (same pattern as ``ann_recall_report`` for the ANN family). A
    (label, predicted) cell drifting round-over-round means the
    heuristic or the corpus moved; either way you want the number in
    data, not just a CI threshold. Cells are |langs|² regardless of
    corpus size; one scan, map-side partials."""
    t = load_tables(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    en_sig = F.length(padded) - F.length(F.regexp_replace(padded, " the ", ""))
    a_sig = F.length(padded) - F.length(F.regexp_replace(padded, " a ", ""))
    scored = t["documents"].select(
        "lang",
        F.when(en_sig >= 5, "en")
        .when(a_sig >= 3, "en")
        .otherwise("unknown")
        .alias("predicted"),
    )
    from pyspark.sql import Window as W

    counts = scored.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    return counts.select(
        "lang",
        "predicted",
        F.col("n_raw").cast("bigint").alias("n_docs"),
        F.round(
            F.col("n_raw") / F.sum("n_raw").over(W.partitionBy("lang")).cast("double"),
            9,
        ).alias("frac_of_lang"),
    ).orderBy("lang", "predicted")


# ---------------------------------------------------------------------------
# Portable-hash near-dup twins (round 4): the xxhash64 MinHash/SimHash
# scale paths above are rows-only because xxhash64 has no DuckDB
# equivalent. These twins run the IDENTICAL plan shapes on md5 (which
# both engines compute bit-identically on UTF-8 strings), so the full
# signature → band → bucket-join → estimate chain gets a value-hash
# oracle. The xxhash64 variants stay the scale defaults (one 64-bit
# JVM hash vs. P md5 digests per shingle); these certify the plans.
# ---------------------------------------------------------------------------

PORTABLE_PERMS = 16  # 4 bands x 4 rows
PORTABLE_BANDS = 4


@per_corpus
def portable_minhash_signatures(spark, sf_dir):
    """doc_id → m0..m15 minhash columns, hash_p(s) = md5('p:' || s).

    Same one-pass parallel-MIN aggregation as
    ``minhash_signatures`` (shuffle carries |docs| rows of 16
    32-char strings); min over lowercase-hex md5 strings is plain
    lexicographic order, identical in Spark and DuckDB. Memoized per
    session: the 16 md5-per-shingle build
    is the most hash-intensive pass in the text tier, and each of
    its two consumer queries referenced it from three plan branches
    (bands + both signature-join sides) — 6 rebuilds per bench run
    before round 11, one materialization after."""
    sh = shingle_sets(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{p}:"), F.col("shingle")))).alias(f"m{p}")
            for p in range(PORTABLE_PERMS)
        ]
    ).persist()


def _pm_sig_sql() -> str:
    return ", ".join(
        f"min(md5('{p}:' || shingle)) AS m{p}" for p in range(PORTABLE_PERMS)
    )


def _pm_bands_sql() -> str:
    r = PORTABLE_PERMS // PORTABLE_BANDS
    parts = []
    for b in range(PORTABLE_BANDS):
        key = " || '|' || ".join(f"m{b * r + i}" for i in range(r))
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({key}) AS bucket FROM sigs"
        )
    return " UNION ALL ".join(parts)


_PM_MATCH_SUM = " + ".join(
    f"CASE WHEN sa.m{p} = sb.m{p} THEN 1 ELSE 0 END" for p in range(PORTABLE_PERMS)
)

_PORTABLE_MINHASH_ORACLE = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sigs AS (SELECT doc_id, {_pm_sig_sql()} FROM shingles GROUP BY doc_id),
    bands AS ({_pm_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ({_PM_MATCH_SUM}) / {PORTABLE_PERMS}.0 AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.doc_a
    JOIN sigs sb ON sb.doc_id = cand.doc_b
    WHERE ({_PM_MATCH_SUM}) * 2 >= {PORTABLE_PERMS}
"""


@query("neardup_minhash_portable", oracle=_PORTABLE_MINHASH_ORACLE)
def neardup_minhash_portable(spark, sf_dir):
    """MinHash+LSH near-dup pairs on the portable md5 hash family —
    the hash-checked certification of the banded-LSH plan
    (signature build → band bucket join → signature-agreement
    estimate) that ``neardup_minhash_lsh`` runs on xxhash64.

    Threshold est_jaccard >= 0.5 is evaluated as an INTEGER compare
    (matches*2 >= P) so no float boundary can diverge between
    engines; the emitted estimate k/16 is exactly representable."""
    sigs = portable_minhash_signatures(spark, sf_dir)
    r = PORTABLE_PERMS // PORTABLE_BANDS
    bucket_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"m{b * r + i}") for i in range(r)])
        ).alias(f"b{b}")
        for b in range(PORTABLE_BANDS)
    ]
    bands = sigs.select("doc_id", *bucket_cols).select(
        "doc_id",
        F.posexplode(F.array(*[f"b{b}" for b in range(PORTABLE_BANDS)])).alias(
            "band", "bucket"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{p}").alias(f"a{p}") for p in range(PORTABLE_PERMS)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{p}").alias(f"b{p}") for p in range(PORTABLE_PERMS)],
    )
    matches = sum(
        (
            F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
            for p in range(PORTABLE_PERMS)
        ),
        start=F.lit(0),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("_matches"))
        .filter(F.col("_matches") * 2 >= PORTABLE_PERMS)
        .select(
            "doc_a",
            "doc_b",
            (F.col("_matches") / float(PORTABLE_PERMS)).alias("est_jaccard"),
        )
    )


SIMHASH_PORTABLE_BITS = 32


def _simhash_vote_sql() -> str:
    return ", ".join(
        f"SUM(CASE WHEN substr(md5('{b}:' || token), 1, 1) >= '8' "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_PORTABLE_BITS)
    )


def _simhash_pack_sql() -> str:
    return " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_PORTABLE_BITS)
    )


_SIMHASH_PORTABLE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    votes AS (
      SELECT doc_id, {_simhash_vote_sql()}
      FROM toks WHERE token != '' GROUP BY doc_id
    )
    SELECT doc_id, {_simhash_pack_sql()} AS simhash
    FROM votes
"""


@query("text_simhash_portable", oracle=_SIMHASH_PORTABLE_ORACLE)
def text_simhash_portable(spark, sf_dir):
    """32-bit SimHash on a portable md5 bit family — the hash-checked
    twin of ``text_simhash`` (xxhash64, rows-only). Bit b of a token
    is the top bit of md5('b:' || token)'s first hex digit, i.e. a
    plain string compare ``substr(md5, 1, 1) >= '8'`` both engines
    evaluate identically. Same one-pass plan: 32 conditional sums in
    ONE aggregation, shuffle carries |docs| rows, majority vote
    packs to a BIGINT map-side.

    Round 11: the 32 md5s per TOKEN OCCURRENCE (|occurrences|×32
    digests per run — the dominant cost, measured 7 s steady at
    sf0.1) now evaluate once per DISTINCT vocabulary term: the bit
    family is a pure function of the token string, so hashing the
    persisted term dictionary (vocab-sized, Heaps-sublinear) and
    joining the cached postings index (token, doc, tf) gives votes
    v_b = Σ_tokens tf·(±1) — the exact integer the per-occurrence
    Σ ±1 computed, and the corpus text never re-tokenizes."""
    from elastic_freight_spark.operators.search import (
        indexed_postings,
        token_df,
    )

    postings, _ = indexed_postings(spark, sf_dir)
    bits = token_df(spark, sf_dir).select(
        "token",
        *[
            F.when(
                F.substring(
                    F.md5(F.concat(F.lit(f"{b}:"), F.col("token"))), 1, 1
                )
                >= "8",
                1,
            )
            .otherwise(-1)
            .alias(f"s{b}")
            for b in range(SIMHASH_PORTABLE_BITS)
        ],
    )
    votes = (
        postings.join(bits, "token")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.col("tf") * F.col(f"s{b}")).alias(f"v{b}")
                for b in range(SIMHASH_PORTABLE_BITS)
            ]
        )
    )
    packed = sum(
        (
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(SIMHASH_PORTABLE_BITS)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select("doc_id", packed.alias("simhash"))


_CONTAINMENT_ORACLE = f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingles a
      JOIN rare USING (shingle)
      JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes za ON za.doc_id = a.doc_id
      JOIN sizes zb ON zb.doc_id = b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= LEAST({CAND_MIN_SUPPORT}, MIN(za.n), MIN(zb.n))
    ),
    exact AS (
      SELECT p.doc_a, p.doc_b,
             (SELECT COUNT(*) FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle
              WHERE x.doc_id = p.doc_a AND y.doc_id = p.doc_b) AS inter
      FROM pairs p
    )
    SELECT doc_a, doc_b,
           inter / CAST(sa.n AS DOUBLE) AS contain_a,
           inter / CAST(sb.n AS DOUBLE) AS contain_b
    FROM exact
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 2 >= sa.n OR inter * 2 >= sb.n
"""


@query("neardup_containment", oracle=_CONTAINMENT_ORACLE)
def neardup_containment(spark, sf_dir):
    """Asymmetric containment near-dup: C(A,B) = |A∩B| / |A| over
    3-gram shingle sets — catches quote/excerpt relationships
    (a short doc embedded in a long one) that symmetric Jaccard
    misses because the union is dominated by the long side.

    Reuses the df-capped candidate + exact-rerank core
    (``capped_pair_intersections``): one extra projection, zero new
    shuffles beyond the shared scoring plan. Threshold (either side
    >= 0.5 contained) compares integers (inter*2 >= n) so engines
    cannot diverge on a float boundary.

    Detection floor (deliberate, shared with the min-support-2
    candidate rule): the contained side must span >= 2 shingles,
    i.e. >= 4 tokens. A 3-token doc has exactly ONE trigram, and
    "containment" of a single trigram is not an excerpt signal —
    any document using that one phrase would match, so such pairs
    are noise by construction, not recall."""
    inter = capped_pair_intersections(spark, sf_dir)
    return (
        inter.filter(
            (F.col("inter") * 2 >= F.col("na"))
            | (F.col("inter") * 2 >= F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / F.col("na").cast("double")).alias("contain_a"),
            (F.col("inter") / F.col("nb").cast("double")).alias("contain_b"),
        )
    )


@query(
    "text_bigram_lm_score",
    oracle="""
    WITH pairs AS (
      SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
            FROM documents WHERE LENGTH(string_split(lower(text), ' ')) >= 2),
           LATERAL (SELECT unnest(range(1, LENGTH(tok))) AS i)
      WHERE tok[i] <> '' AND tok[i+1] <> ''
    ),
    dp AS (
      SELECT doc_id, w1, w2, COUNT(*) AS c FROM pairs GROUP BY 1, 2, 3
    ),
    big AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS n12 FROM dp GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS n1 FROM dp GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT token) AS v FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
      ) WHERE token <> ''
    ),
    doc_scores AS (
      SELECT dp.doc_id,
             CAST(SUM(dp.c) AS BIGINT) AS n_bigrams,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(
                   k1 := dp.w1, k2 := dp.w2,
                   v := CAST(dp.c AS DOUBLE)
                        * ln((big.n12 + 1)
                             / CAST(ctx.n1 + vocab.v AS DOUBLE))))),
                 x -> x.v),
               (a, b) -> a + b) AS log_prob
      FROM dp
      JOIN big ON big.w1 = dp.w1 AND big.w2 = dp.w2
      JOIN ctx ON ctx.w1 = dp.w1
      CROSS JOIN vocab
      GROUP BY dp.doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(-log_prob / n_bigrams, 9) AS mean_nll
    FROM doc_scores
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Corpus-derived BIGRAM LM scoring with add-one smoothing — the
    order-2 upgrade of ``text_unigram_lm_score``: P(w2|w1) =
    (c(w1,w2)+1) / (c(w1·)+V). Catches scrambled/shuffled text that
    unigram scoring cannot (same token multiset, broken transitions)
    — the fluency axis of quality filtering.

    Plan shape: adjacent pairs built with the slide-by-one zip (JVM
    higher-order functions, no pre-shuffle token explode); bigram
    and context tables are corpus-vocabulary-sized aggregates; the
    vocab size rides as a broadcast 1-row crossJoin; scoring is one
    pairs-sized join per table then a doc-keyed aggregate. One text
    scan end-to-end.

    Exactness (round 10): per-doc scoring folds c·ln(P(w2|w1)) over
    the doc's DISTINCT bigrams in (w1, w2) order — same
    order-unspecified-float-SUM fix as text_unigram_lm_score (the
    salted-100x battery class); the regroup also bounds the fold at
    doc-distinct-bigram size."""
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("tok"))
        .filter(F.size("tok") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(zip_with(slice(tok, 1, size(tok) - 1), "
                    "slice(tok, 2, size(tok) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2)), "
                    "p -> p.w1 <> '' AND p.w2 <> '')"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    # dp is referenced three times (bigram table, context table, the
    # scoring join); unmaterialized, each reference re-ran the text
    # scan + pair explode + groupBy. Eager checkpoint pins it to one
    # corpus pass (round 11: cold 6.8→3.0 s sf0.1, 10.3→7.0 s at the
    # 10× replica; warm flat locally only because idle cores overlap
    # the duplicate subtrees — at lower core counts, and at cluster
    # scale, the 3×-pass redundancy is real).
    dp = (
        pairs.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    big = dp.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("n12"))
    ctx = dp.groupBy("w1").agg(F.sum("c").cast("bigint").alias("n1"))
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .agg(F.countDistinct("token").alias("v"))
    )
    term = F.col("c").cast("double") * F.log(
        (F.col("n12") + 1) / (F.col("n1") + F.col("v")).cast("double")
    )
    return (
        dp.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.collect_list(
                F.struct(
                    F.col("w1").alias("k1"),
                    F.col("w2").alias("k2"),
                    term.alias("v"),
                )
            ).alias("terms"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -sorted_fold(F.col("terms")) / F.col("n_bigrams"), 9
            ).alias("mean_nll"),
        )
    )


@query(
    "text_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
               AS n_bpe,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           ROUND(SUM(n_bpe) / CAST(SUM(n_ws) AS DOUBLE), 9) AS fertility
    FROM per_doc
    GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: BPE-pre-tokenizer tokens per
    whitespace word — THE cross-lingual tokenizer-quality metric
    (high fertility = the vocab fragments that language, inflating
    sequence lengths and training cost; the signal behind per-lang
    vocab allocation). Corpus-level ratio of sums (not mean of
    per-doc ratios) so short docs don't dominate; integer token
    sums make the engines agree exactly, the final ratio rounds at
    9. One text scan, one lang-keyed aggregate."""
    docs = load_tables(spark, sf_dir)["documents"]
    per_doc = docs.select(
        "lang",
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_PAT), F.lit(0))
        ).alias("n_bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.round(
            F.sum("n_bpe") / F.sum("n_ws").cast("double"), 9
        ).alias("fertility"),
    )


from elastic_freight_spark.registry import ORACLE as _ORACLE

_CC_ORACLE = _ORACLE["dedup_corpus_connected_components"]


@query(
    "dedup_cluster_size_distribution",
    oracle=f"""
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM ({_CC_ORACLE})
    GROUP BY cluster_size
    """,
)
def dedup_cluster_size_distribution(spark, sf_dir):
    """Duplicate-cluster size histogram: how many near-dup clusters
    of each size the corpus contains and how many documents they
    absorb — the report that decides whether duplication is a few
    giant boilerplate clusters (template removal fixes it) or a long
    tail of pairs (pair-level dedup needed). One tiny aggregate over
    the connected-components output; the oracle wraps the CC
    fixpoint's recursive-CTE oracle, so the histogram is verified
    end-to-end through the same pair graph."""
    comp = dedup_corpus_connected_components(spark, sf_dir)
    return comp.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


# MATERIALIZED (round 9): `shingles` is referenced six times here
# (sizes, rare, cand twice, the pairs intersection subquery, sigs) —
# un-materialized, DuckDB re-evaluates the full shingle explosion per
# reference, which exhausted temp disk at the 100x replica. Forcing
# one evaluation of shingles/sizes (and of truth/sigs, each the input
# to the final calibration join) bounds the spill to one copy each.
_MINHASH_CALIBRATION_ORACLE = f"""
    WITH shingles AS MATERIALIZED ({_SHINGLE_SQL}),
    sizes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    {_CAPPED_PAIRS_FRAGMENT},
    truth AS MATERIALIZED (
      SELECT p.doc_a, p.doc_b,
             ROUND(p.inter / CAST(sa.n + sb.n - p.inter AS DOUBLE), 9) AS jac
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, {_pm_sig_sql()} FROM shingles GROUP BY doc_id)
    SELECT ({_PM_MATCH_SUM}) AS matches,
           CAST(({_PM_MATCH_SUM}) AS DOUBLE) / {PORTABLE_PERMS} AS est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(t.jac AS DECIMAL(38, 9))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_true_jaccard
    FROM truth t
    JOIN sigs sa ON sa.doc_id = t.doc_a
    JOIN sigs sb ON sb.doc_id = t.doc_b
    GROUP BY 1, 2
"""


@query("minhash_estimate_calibration", oracle=_MINHASH_CALIBRATION_ORACLE)
def minhash_estimate_calibration(spark, sf_dir):
    """Sketch-quality audit: for every exact-scored candidate pair,
    bucket by the 16-perm portable-MinHash agreement count and report
    the mean TRUE Jaccard per bucket — the calibration curve that
    tells you whether a given signature agreement threshold (e.g.
    matches >= 8 ≈ est 0.5) actually corresponds to the Jaccard level
    your dedup policy intends. Runs the md5 signature family against
    the df-capped exact pair universe, so both sides are existing,
    hash-certified building blocks.

    Portability: buckets are INTEGER match counts; est_jaccard =
    k/16 is exactly representable; mean true Jaccard routes each
    pair's ROUND(...,9) score through DECIMAL(38,9) before the
    cross-row SUM, so no float summation order can leak (the
    money-sum discipline applied to a similarity score).

    Scale shape: signatures are one groupBy over the shingle
    explosion (|docs| rows out), candidates come from the bounded
    capped generator, and the calibration join touches only
    candidate pairs — nothing here is all-pairs."""
    inter = capped_pair_intersections(spark, sf_dir)
    truth = inter.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            9,
        ).alias("jac"),
    )
    sigs = portable_minhash_signatures(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{p}").alias(f"a{p}") for p in range(PORTABLE_PERMS)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{p}").alias(f"b{p}") for p in range(PORTABLE_PERMS)],
    )
    matches = sum(
        (
            F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
            for p in range(PORTABLE_PERMS)
        ),
        start=F.lit(0),
    )
    return (
        truth.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("jac", matches.alias("matches"))
        .groupBy("matches")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("jac").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_true_jaccard"),
        )
        .select(
            "matches",
            (F.col("matches").cast("double") / PORTABLE_PERMS).alias(
                "est_jaccard"
            ),
            "n_pairs",
            "mean_true_jaccard",
        )
    )


BPE_PAIR_TOPK = 20


@query(
    "bpe_merge_pairs",
    oracle=f"""
    WITH words AS (
      SELECT token AS w, COUNT(*) AS n
      FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY token
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, SUM(n) AS n_occurrences
      FROM words, UNNEST(range(1, len(w))) AS r(i)
      GROUP BY substr(w, i, 2)
    )
    SELECT pair, CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM (
      SELECT pair, n_occurrences,
             ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS rk
      FROM pairs
    ) WHERE rk <= {BPE_PAIR_TOPK}
    """,
)
def bpe_merge_pairs(spark, sf_dir):
    """The first iteration of BPE tokenizer training as a query: the
    top-20 most frequent ADJACENT CHARACTER PAIRS across the corpus,
    weighted by word frequency — exactly the statistic the BPE merge
    loop (Sennrich et al. 2016) maximizes each round, and the piece
    of tokenizer training that is pure corpus aggregation (the loop
    itself re-segments against grown symbols, which is the
    driver-side part of a BPE trainer; this query is its per-round
    distributed inner step, complementing `text_tokenizer_fertility`
    which evaluates a FINISHED tokenizer).

    Scale shape: token explode → word-count aggregate (map-side
    combinable — the pair stage runs on the VOCABULARY, not the
    corpus: |types| · avg_len rows, thousands of times smaller than
    the token stream), then a (len-1)-wide in-word position explode
    and one pair aggregate. Weighting by the word-count `n` is what
    keeps the corpus out of the pair stage."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        # the length guard matters: Spark's sequence(1, 0) DESCENDS
        # ([1, 0]) rather than being empty like DuckDB's range(1, 1),
        # so an unguarded transform turns 1-char words into fake pairs
        words.filter(F.expr("char_length(w) >= 2"))
        .select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(w) - 1), "
                    "i -> substr(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
    )
    from pyspark.sql import Window as W

    return (
        pairs.withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.col("n_occurrences").desc(), "pair")
            ),
        )
        .filter(F.col("rk") <= BPE_PAIR_TOPK)
        .select("pair", F.col("n_occurrences").cast("bigint").alias("n_occurrences"))
    )


@query(
    "text_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    st AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, token) AS rk
        FROM st GROUP BY token
      ) WHERE rk <= 500
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 9) AS oov_rate
    FROM st LEFT JOIN vocab v ON st.token = v.token
    GROUP BY source
    ORDER BY source
    """,
)
def text_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per source against the corpus top-500
    token vocabulary — the tokenizer-coverage signal a training
    pipeline reads before committing a vocab budget (a source with
    high OOV either needs vocab room or gets shredded into bytes).
    Plan shape for 100 TB: tokens collapse to per-(source, token)
    counts at the map side BEFORE any join (the explode never crosses
    a shuffle raw), the vocabulary is a 500-row broadcast built from
    the same compacted frame, and the final aggregate is
    sources-sized. Vocabulary selection is deterministic: total count
    desc, token asc."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir)["documents"]
    st = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-500 via orderBy+limit (TakeOrderedAndProject, distributed
    # partial top-k) — a global row_number window over the WHOLE
    # vocabulary would funnel hundreds of millions of tokens through
    # one partition at real corpus scale.
    vocab = (
        st.groupBy("token")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.col("tot").desc(), "token")
        .limit(500)
        .select("token")
    )
    joined = st.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left"
    )
    oov_n = F.sum(
        F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0)
    )
    return (
        joined.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            oov_n.cast("bigint").alias("n_oov"),
            F.round(oov_n / F.sum("n").cast("double"), 9).alias("oov_rate"),
        )
        .orderBy("source")
    )


from elastic_freight_spark.operators.sampling import (
    _SPLIT_SQL as _LEAK_SPLIT_SQL,
    sorted_fold,
)


@query(
    "dq_split_neardup_leakage",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    {_CAPPED_PAIRS_FRAGMENT},
    dup AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.inter / CAST(sa.n + sb.n - p.inter AS DOUBLE) >= 0.35
    ),
    labeled AS (
      SELECT LEAST(x.split, y.split) AS split_a,
             GREATEST(x.split, y.split) AS split_b,
             d.doc_a, d.doc_b
      FROM dup d
      JOIN (SELECT doc_id, {_LEAK_SPLIT_SQL} AS split FROM documents) x
        ON x.doc_id = d.doc_a
      JOIN (SELECT doc_id, {_LEAK_SPLIT_SQL} AS split FROM documents) y
        ON y.doc_id = d.doc_b
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc_a) + COUNT(DISTINCT doc_b) AS BIGINT)
             AS n_docs_involved
    FROM labeled
    GROUP BY split_a, split_b
    ORDER BY split_a, split_b
    """,
)
def dq_split_neardup_leakage(spark, sf_dir):
    """Train/eval LEAKAGE audit: near-duplicate pairs (the engine's
    default capped-Jaccard policy at the dedup threshold 0.35) that
    STRADDLE the deterministic train/val/test split — the
    contamination a random splitter silently ships, because splitting
    by document does nothing when two documents are near-copies of
    each other. Composes three shared fragments, never re-defines
    them: the `_CAPPED_PAIRS_FRAGMENT` pair generator
    (`exact_jaccard_pairs`), the dedup family's 0.35 Jaccard
    predicate, and `sampling._SPLIT_SQL`. Rows off the train-train
    diagonal are the leak; a clean release shows zero
    train-val/train-test pairs OR documents deduped before
    splitting."""
    from elastic_freight_spark.operators.sampling import split_col

    pairs = exact_jaccard_pairs(spark, sf_dir)
    dup = pairs.filter(
        F.col("inter")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        >= 0.35
    ).select("doc_a", "doc_b")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", split_col().alias("split")
    )
    labeled = (
        dup.join(
            F.broadcast(docs.select(F.col("doc_id").alias("doc_a"),
                                    F.col("split").alias("sa"))),
            "doc_a",
        )
        .join(
            F.broadcast(docs.select(F.col("doc_id").alias("doc_b"),
                                    F.col("split").alias("sb"))),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "doc_a",
            "doc_b",
        )
    )
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (
                F.countDistinct("doc_a") + F.countDistinct("doc_b")
            )
            .cast("bigint")
            .alias("n_docs_involved"),
        )
        .orderBy("split_a", "split_b")
    )
