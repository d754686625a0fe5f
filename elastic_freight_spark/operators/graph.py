"""Graph metrics over the supplier co-supply network (SURVEY.md §2
"beyond the reference" tier, extending the round-3 PageRank): the
reference's artifact serves entity lookups, but a procurement /
risk-analysis user of the same data asks structural questions —
how clustered is the supplier substitutability network, what does
its degree distribution look like — so the engine owns them as
first-class, oracle-checked queries.

Graph = suppliers as nodes; undirected edges are each supplier's
TOP-5 STRONGEST co-supply partners (edge weight = number of distinct
common parts shipped, deterministic tie-break on partner id), then
symmetrized to u < v. The naive "share at least one part" relation is
degenerate on warehouse data — on this corpus it yields the COMPLETE
graph at every scale factor (median pair shares 17+ parts at sf0.1:
499,500 edges over 1,000 suppliers, 166,167,000 triangles, measured
~55 s), which is both meaningless as a network and quadratic in
suppliers. The k-NN-by-weight graph is the standard similarity-graph
construction (same shape as embedding k-NN graphs): |E| ≤ k·|V| BY
CONSTRUCTION, so every downstream pass is node-linear at 100 TB.

Scale shapes:

* Pair weighting is a part-keyed self-join + one (u,v) aggregate —
  bounded per part by suppliers-per-part, never all-pairs global.
* Top-k selection is one row_number window over the directed weight
  list (node-keyed shuffle).
* Triangle counting on the sparse edge set is the standard
  wedge-close plan: one join to enumerate wedges a<b<c, one
  equi-join to close them; the vertex total order counts each
  triangle exactly once. Wedge fan-out is capped by the k-bounded
  degree. Edges are cached per (session, corpus) — five query
  branches read one materialization.
* The degree histogram is two hash aggregates (node degree → degree
  frequency) — shuffles are node- then degree-sized.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables, per_corpus

TOPK_PARTNERS = 5

# spliced as the body of `WITH edges AS MATERIALIZED (...)` in every
# graph oracle; a nested WITH names the pair-weight aggregate ONCE so
# the dominant part-keyed self-join is evaluated a single time per
# oracle run (DuckDB supports WITH inside a CTE body). MATERIALIZED
# is load-bearing at sf0.1: DuckDB's default CTE inlining re-evaluates
# the whole edge build once per reference, and the multi-hop oracles
# (kcore peel, khop frontiers) reference their chain enough times to
# compound that into an OOM/spill (kcore >69 GB in round 7; khop OOM
# in round 8's at-scale sweep) — materialized, each CTE is one
# edge-sized (≤ k·|V|) temp and every graph oracle runs sub-second
# under an 8 GB cap.
_EDGES_SQL = f"""
      WITH weights AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
      )
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM (
          SELECT u AS src, v AS dst, w FROM weights
          UNION ALL
          SELECT v AS src, u AS dst, w FROM weights
        )
      ) WHERE rk <= {TOPK_PARTNERS}
"""

# edges memoized per (session, corpus): triangle census + degree
# histogram each read the edge list from several branches — one
# materialization serves them all.
@per_corpus
def cosupply_edges(spark, sf_dir, top_k: int = TOPK_PARTNERS):
    """Undirected (u < v) top-k strongest co-supply edges."""
    from pyspark.sql import Window as W

    ps = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_partkey", "l_suppkey")
        .distinct()
        # both self-join sides read this frame; unmaterialized, the
        # fact scan + distinct shuffle runs once per side (AQE plans
        # zero ReusedExchange for aliased identical subtrees — the
        # round-7 measurement). |ps| ≤ parts·suppliers-per-part.
        .localCheckpoint(eager=True)
    )
    a = ps.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("u"))
    b = ps.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("v"))
    weights = (
        a.join(b, "pk")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        # the symmetrizing unionAll below references this twice — the
        # dominant part-keyed self-join must not run once per branch.
        # |weights| ≤ C(|V|, 2) pair rows, vertex-bounded not
        # corpus-bounded.
        .localCheckpoint(eager=True)
    )
    directed = weights.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(
        weights.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    top = directed.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("src").orderBy(F.col("w").desc(), "dst")
        ),
    ).filter(F.col("rk") <= int(top_k))
    return (
        top.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .persist()
    )


@query(
    "supplier_triangle_count",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    wedges AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(DISTINCT u) FROM
                  (SELECT u FROM edges UNION ALL SELECT v FROM edges) t(u))
                AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM wedges w
    JOIN edges e3 ON e3.u = w.a AND e3.v = w.c
    """,
)
def supplier_triangle_count(spark, sf_dir):
    """Triangle census of the co-supply graph (one row: nodes, edges,
    triangles — the inputs to global clustering coefficient). Wedge
    enumeration joins the u<v-oriented edge list with itself
    (e1.v = e2.u gives a<b<c wedges), then an equi-join against the
    edge list closes them; each triangle appears exactly once by the
    total order on its vertices."""
    edges = cosupply_edges(spark, sf_dir)
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    closed = wedges.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
    )
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .agg(F.countDistinct("n").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n_edges.crossJoin(nodes)
        .crossJoin(tri)
        .select("n_edges", "n_nodes", "n_triangles")
    )


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    deg AS (
      SELECT u AS node, COUNT(*) AS degree
      FROM (SELECT u FROM edges UNION ALL SELECT v AS u FROM edges) t(u)
      GROUP BY u
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM deg
    GROUP BY degree
    ORDER BY degree
    """,
)
def graph_degree_histogram(spark, sf_dir):
    """Degree distribution of the co-supply graph — the first thing a
    graph operator plots before choosing algorithms (heavy-tail ⇒
    salt/skew-handle the hub nodes; bounded ⇒ plain hash joins are
    fine). Two hash aggregates over the edge endpoint stream."""
    edges = cosupply_edges(spark, sf_dir)
    endpoints = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = endpoints.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .select(F.col("degree").cast("bigint").alias("degree"), "n_suppliers")
        .orderBy("degree")
    )


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS (
      SELECT u AS a, v AS b FROM edges
      UNION ALL
      SELECT v AS a, u AS b FROM edges
    ),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY 1),
    wedge AS (
      SELECT x.a AS u, y.b AS v, COUNT(*) AS common
      FROM und x JOIN und y ON x.b = y.a AND x.a < y.b
      GROUP BY 1, 2
    ),
    open_w AS (
      SELECT w.u, w.v, w.common
      FROM wedge w
      LEFT JOIN edges e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL
    )
    SELECT o.u, o.v, CAST(o.common AS BIGINT) AS common_neighbors,
           ROUND(o.common / CAST(du.d + dv.d - o.common AS DOUBLE), 9)
             AS neighbor_jaccard
    FROM open_w o
    JOIN deg du ON du.node = o.u
    JOIN deg dv ON dv.node = o.v
    ORDER BY common_neighbors DESC, neighbor_jaccard DESC, u, v
    LIMIT 25
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Link prediction on the co-supply graph: the top 25 NON-edges
    ranked by common-neighbor count (with neighbor-set Jaccard as
    the tie-aware second score) — the classic "who should be
    partners but isn't" recommendation (Liben-Nowell & Kleinberg's
    common-neighbors baseline) over the same sparse top-k edge set
    the triangle census uses.

    Plan shape: wedges enumerate candidate pairs through the shared
    middle vertex (one self-join of the symmetrized edge list, fan-
    out capped by the k-bounded degree), one anti-join removes pairs
    that are ALREADY edges, two degree joins finish the Jaccard.
    Every frame is edge- or node-sized: |E| ≤ k·|V| by construction,
    so the whole query is node-linear at any scale. Deterministic
    total order on (score, jaccard, u, v)."""
    edges = cosupply_edges(spark, sf_dir)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    x, y = und.alias("x"), und.alias("y")
    wedge = (
        x.join(y, (F.col("x.b") == F.col("y.a")) & (F.col("x.a") < F.col("y.b")))
        .groupBy(F.col("x.a").alias("u"), F.col("y.b").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    open_w = wedge.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        open_w.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("common")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double"),
                9,
            ).alias("neighbor_jaccard"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("neighbor_jaccard").desc(),
            "u",
            "v",
        )
        .limit(25)
    )


# Fixed-point PageRank scale: ranks live in units of 1e-12 as BIGINTs.
# Integer sums are associative (any aggregation order gives the same
# bits) and integer `div` floors identically in Spark and DuckDB, so a
# FIXED iteration count is bit-reproducible across engines — the trick
# that turns the float-fixpoint `supplier_pagerank` (rows-only by
# design) into a value-hash-certifiable twin.
PR_SCALE = 10**12
PR_ITERS = 3


def _pr_oracle() -> str:
    """Unrolled fixed-point PageRank oracle: r0 = SCALE div n, then
    PR_ITERS rounds of r' = (15*(SCALE div n)) div 100 +
    (85 * sum(r div out_deg)) div 100 over the directed co-supply
    edges. Generated so the Spark loop and the SQL stay in lockstep
    via the shared iteration count."""
    steps = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        steps.append(f"""
    c{i} AS (
      SELECT e.dst, SUM({prev}.r // deg.d) AS c
      FROM dir e
      JOIN {prev} ON {prev}.v = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT verts.v,
             (SELECT (15 * ({PR_SCALE} // n)) // 100 FROM nv)
             + (85 * COALESCE(c{i}.c, 0)) // 100 AS r
      FROM verts LEFT JOIN c{i} ON c{i}.dst = verts.v
    )""")
        prev = f"r{i}"
    return f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    dir AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v AS src, u AS dst FROM edges
    ),
    verts AS (SELECT DISTINCT src AS v FROM dir),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    deg AS (SELECT src, COUNT(*) AS d FROM dir GROUP BY src),
    r0 AS (SELECT v, (SELECT {PR_SCALE} // n FROM nv) AS r FROM verts),
    {",".join(steps)}
    SELECT v AS supplier, CAST(r AS BIGINT) AS rank_fp
    FROM (
      SELECT v, r, ROW_NUMBER() OVER (ORDER BY r DESC, v) AS rn FROM {prev}
    ) WHERE rn <= 25
    """


@query("pagerank_portable", oracle=_pr_oracle())
def pagerank_portable(spark, sf_dir):
    """Hash-checked certification of the iterative-PageRank plan
    shape: the same per-iteration join/aggregate/outer-join loop as
    ``supplier_pagerank`` (scale.pagerank), but in FIXED-POINT integer
    arithmetic — ranks are BIGINTs in units of 1e-12, contributions
    use integer ``div`` (floors match DuckDB's ``//``), and integer
    sums are associative so partitioning/aggregation order can't leak
    into the result. 3 iterations, top-25 by (rank, supplier).

    Scale shape is identical to the float path: the k-bounded
    co-supply edge frame (|E| <= 2*5*|V|, cached per session) is
    scanned once per iteration; the only iterating frame is
    vertex-sized. Lineage depth is PR_ITERS=3 — shallow enough to
    run unpersisted as ONE declarative plan, which is exactly what
    makes it oracle-comparable (the float path's cache/unpersist
    loop stays the production shape for deep iteration counts)."""
    und = cosupply_edges(spark, sf_dir)
    dir_e = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # One-time frames, shared by all PR_ITERS iterations. The round-3
    # loop re-derived verts/deg/nv and re-joined broadcast(deg) INSIDE
    # every iteration; expression-id drift between the copies defeated
    # ReuseExchange, so the final plan re-executed the whole
    # vertex/degree derivation per reference (measured: 32 jobs /
    # 185 stages, ~5.5 s warm at sf0.1 — pure scheduling overhead on
    # a k-bounded graph). Now: degree is attached to the edge frame
    # ONCE and the (src, dst, d) frame is materialized executor-local
    # (edge-sized, |E| <= 2·k·|V| by construction — node-linear at
    # 100 TB, the same bound the kcore peel materializes per round);
    # deg doubles as the vertex frame (one row per src by
    # construction) so no separate distinct pass.
    deg = dir_e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nv = deg.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    ew = dir_e.join(F.broadcast(deg), "src").localCheckpoint(eager=True)
    base = F.expr(f"(15 * ({PR_SCALE} div n)) div 100")
    ranks = deg.select(F.col("src").alias("v")).crossJoin(
        F.broadcast(nv)
    ).select("v", "n", F.expr(f"{PR_SCALE} div n").alias("r"))
    for _ in range(PR_ITERS):
        # dir_e is symmetric (both directions of every undirected
        # edge), so every vertex receives >= 1 contribution — the
        # oracle's LEFT JOIN verts never actually fires its NULL arm
        # (COALESCE(c,0) is dead), and the inner groupBy(dst) alone
        # reaches exactly the vertex set. Dropping the per-iteration
        # verts outer join + COALESCE is therefore value-identical
        # (integer arithmetic, associative sums) and removes two
        # joins per iteration.
        contrib = (
            ew.join(ranks.select(F.col("v").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div d")).alias("c"))
        )
        ranks = contrib.crossJoin(F.broadcast(nv)).select(
            F.col("dst").alias("v"),
            "n",
            (base + F.expr("(85 * c) div 100")).alias("r"),
        )
    # distributed top-25: orderBy+limit plans as TakeOrderedAndProject
    # (per-partition partial top-k, no vertex-sized single-partition
    # Window) and the (r desc, v) order is total, so the selected set
    # equals the row_number<=25 filter the oracle states.
    return (
        ranks.orderBy(F.col("r").desc(), "v")
        .limit(25)
        .select(
            F.col("v").alias("supplier"), F.col("r").cast("bigint").alias("rank_fp")
        )
    )


# k-core peel parameters: k=6 bites on the co-supply graph (min
# degree is TOPK_PARTNERS=5 by construction, so k<=5 peels nothing);
# 4 rounds is the certified bounded-round prefix, the
# pagerank_portable move — production would loop to the fixpoint.
KCORE_K = 6
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # Every CTE is MATERIALIZED: the peel chains e1→e2→e3→e4 with ~5
    # references per round (degree union, two IN probes, carry, count),
    # and DuckDB's default CTE inlining re-evaluates the whole upstream
    # tree per reference — the `edges` self-join re-ran O(5^rounds)
    # times and spilled >69 GB at sf0.1 (the round-7 EFS_SKIP fence).
    # Materializing pins each round to one edge-sized (≤ k·|V|) temp —
    # the same bounded-memory shape the Spark side gets from its
    # per-round localCheckpoint — and runs the sf0.1 oracle in <1 s
    # under an 8 GB cap, so the fence is gone.
    parts = [f"WITH edges AS MATERIALIZED ({_EDGES_SQL})"]
    prev = "edges"
    selects = []
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
      SELECT x, COUNT(*) AS deg FROM (
        SELECT u AS x FROM {prev} UNION ALL SELECT v FROM {prev}
      ) GROUP BY x
    ), s{r} AS MATERIALIZED (SELECT x FROM d{r} WHERE deg >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT x FROM s{r}) AND v IN (SELECT x FROM s{r})
    )"""
        )
        selects.append(
            f"SELECT {r} AS round,"
            f" CAST((SELECT COUNT(*) FROM s{r}) AS BIGINT) AS n_vertices,"
            f" CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges"
        )
        prev = f"e{r}"
    return (
        "".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY round"
    )


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark, sf_dir):
    """Bounded-round k-core peeling trajectory on the co-supply
    graph: each round drops vertices of degree < k and the edges
    they carried, and reports (survivors, remaining edges) — the
    densest-backbone extraction web-graph pipelines run for quality
    weighting (a page deep in the core is cited by well-cited pages;
    a supplier deep in the co-supply core shares parts with other
    well-connected suppliers). KCORE_ROUNDS=4 fixed rounds make the
    trajectory value-hash portable (the bounded-round certification
    move pagerank_portable established; the fixpoint variant is the
    same loop run until stable). Every per-round frame is vertex- or
    edge-sized — the corpus-sized work happened once in the shared
    cached edge build (`cosupply_edges`, one build serves the whole
    graph tier); rounds are degree aggregate + two semi-joins, so
    lineage stays shallow and no stage ever touches lineitem again."""
    edges = cosupply_edges(spark, sf_dir)
    out = None
    cur = edges
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("u").alias("x"))
            .unionAll(cur.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # Eagerly localCheckpoint BOTH per-round frames. The edge
        # frame for lineage: round r's LOGICAL plan references round
        # r-1 five times (degree union, two semi-join probes, left
        # side), so the unpersisted tree grows 5^r and analysis of the
        # final union OOMs the driver — persist() doesn't help because
        # cache substitution happens after analysis. The survivor
        # frame (vertex-sized, ≤ |V|) for work: it is referenced three
        # times per round (two semi-join broadcast builds + the
        # n_vertices count in the final union), and unmaterialized
        # each reference re-ran the degree aggregate — the final job
        # alone re-aggregated all four rounds' degrees (round 11
        # measured 4.3-6.3 s, 82 stages; checkpointing surv and
        # broadcasting the materialized frame: 2.5-3.0 s, 51 stages,
        # identical output).
        surv = (
            deg.filter(F.col("deg") >= KCORE_K).select("x")
            .localCheckpoint(eager=True)
        )
        cur = (
            cur.join(F.broadcast(surv.withColumnRenamed("x", "u")), "u", "left_semi")
            .join(F.broadcast(surv.withColumnRenamed("x", "v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        row = (
            surv.agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices"))
            .crossJoin(
                cur.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(r).cast("int").alias("round"), "n_vertices", "n_edges"
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


@query(
    "graph_assortativity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    deg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY x
    ),
    ends AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
      UNION ALL
      SELECT dv.d, du.d
      FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy
      FROM ends
    )
    SELECT n AS n_directed_ends,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 9) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-supply graph — Newman's r, the
    Pearson correlation of degrees across edge ends (positive: hubs
    link hubs; negative: hub-and-spoke). Every moment (Σd, Σd²,
    Σdxdy over the symmetrized end list) is an exact BIGINT — degrees
    are integers — so the ONLY float operation is the final closed
    form, computed from bit-identical integer inputs on both engines
    (the thresholds-as-integers discipline applied to a correlation).
    By symmetry Σdx = Σdy and Σdx² = Σdy², so the bivariate Pearson
    collapses to one variance term. Edge list is the shared cached
    frame; two vertex-sized joins + a 1-row reduce.

    Round 11: the symmetrized end list is folded INTO the moment
    aggregation instead of a unionAll of two (dx, dy) projections —
    the union's second branch re-executed the whole edges⋈deg⋈deg
    subtree (expression-id drift defeats ReuseExchange). Per edge,
    the symmetric end pair contributes n += 2, sx += du + dv,
    sxx += du² + dv², sxy += 2·du·dv — exact BIGINT identities, so
    the published moments are bit-identical to the two-row form
    (oracle unchanged, re-verified by hash). deg is eagerly
    localCheckpointed (vertex-sized) so the du/dv branches probe one
    materialized frame instead of re-aggregating degrees twice.
    Measured 2.4-2.8 s → 1.2-1.3 s at sf0.1, identical output."""
    edges = cosupply_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    joined = edges.join(du, "u").join(dv, "v")
    m = joined.agg(
        (F.count(F.lit(1)) * 2).cast("bigint").alias("n"),
        F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("sx"),
        F.sum(
            F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
        ).cast("bigint").alias("sxx"),
        (F.sum(F.col("du") * F.col("dv")) * 2).cast("bigint").alias("sxy"),
    )
    return m.select(
        F.col("n").alias("n_directed_ends"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / (
                F.col("n").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sx")
            ),
            9,
        ).alias("assortativity"),
    )


@query(
    "graph_modularity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    nat AS (SELECT s_suppkey, s_nationkey FROM supplier),
    lab AS (
      SELECT e.u, e.v, a.s_nationkey AS cu, b.s_nationkey AS cv
      FROM edges e
      JOIN nat a ON a.s_suppkey = e.u
      JOIN nat b ON b.s_suppkey = e.v
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    deg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY x
    ),
    comm AS (
      SELECT n.s_nationkey AS c,
             CAST(SUM(d.d) AS BIGINT) AS d_c
      FROM deg d JOIN nat n ON n.s_suppkey = d.x
      GROUP BY 1
    ),
    intra AS (
      SELECT cu AS c, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM lab WHERE cu = cv GROUP BY 1
    ),
    terms AS (
      SELECT comm.c,
             COALESCE(intra.e_c, 0) AS e_c,
             comm.d_c
      FROM comm LEFT JOIN intra ON intra.c = comm.c
    )
    SELECT (SELECT m FROM m) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(e_c) AS BIGINT) AS intra_edges,
           ROUND(SUM(CAST(e_c AS DOUBLE) / (SELECT m FROM m)
                     - POWER(CAST(d_c AS DOUBLE)
                             / (2.0 * (SELECT m FROM m)), 2)), 9)
             AS modularity
    FROM terms
    """,
)
def graph_modularity(spark, sf_dir):
    """Newman modularity Q of the NATION partition over the co-supply
    graph — "do suppliers co-supply within their nation more than a
    random graph with these degrees would?" (Q = Σ_c [e_c/m −
    (d_c/2m)²]; positive = national clustering, ~0 = nationality
    irrelevant — with TPC-H's random part assignment the expected
    answer, which makes this the null-hypothesis companion to
    `graph_assortativity`). Every input to the float form is an
    exact BIGINT (edge counts, intra-community counts, degree
    volumes), the community frame is |nations|-sized, and the per-
    community terms sum over 25 rows — integer-exact until the final
    closed form, computed from bit-identical inputs on both
    engines. Edge list is the shared cached frame."""
    edges = cosupply_edges(spark, sf_dir)
    nat = load_tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_nationkey"
    )
    lab = (
        edges.join(
            F.broadcast(
                nat.select(
                    F.col("s_suppkey").alias("u"),
                    F.col("s_nationkey").alias("cu"),
                )
            ),
            "u",
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("s_suppkey").alias("v"),
                    F.col("s_nationkey").alias("cv"),
                )
            ),
            "v",
        )
    )
    m_df = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    comm = (
        deg.join(
            F.broadcast(nat.select(F.col("s_suppkey").alias("x"), "s_nationkey")),
            "x",
        )
        .groupBy(F.col("s_nationkey").alias("c"))
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    intra = (
        lab.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    terms = comm.join(intra, "c", "left").select(
        "c",
        F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_c"),
        "d_c",
    )
    return (
        terms.crossJoin(F.broadcast(m_df))
        .agg(
            F.max("m").alias("n_edges"),
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            F.sum("e_c").cast("bigint").alias("intra_edges"),
            F.round(
                F.sum(
                    F.col("e_c").cast("double") / F.col("m")
                    - F.pow(
                        F.col("d_c").cast("double") / (2.0 * F.col("m")), 2
                    )
                ),
                9,
            ).alias("modularity"),
        )
        .select("n_edges", "n_communities", "intra_edges", "modularity")
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1 JOIN edges e2 ON e1.v = e2.u) w
      JOIN edges e3 ON e3.u = w.a AND e3.v = w.c
    ),
    tri_per_node AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS x FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY x
    ),
    deg AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY x
    )
    SELECT x AS suppkey, degree, n_tri,
           ROUND(CASE WHEN degree >= 2
                 THEN 2.0 * n_tri / (degree * (degree - 1))
                 ELSE 0.0 END, 9) AS lcc
    FROM (
      SELECT d.x, d.degree, COALESCE(t.n_tri, 0) AS n_tri
      FROM deg d LEFT JOIN tri_per_node t ON t.x = d.x
    )
    ORDER BY lcc DESC, suppkey
    LIMIT 25
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per supplier (top-25): how close
    each node's neighborhood is to a clique — the node-level
    transitivity signal procurement risk analysis reads as "my
    substitutes are substitutes of each other" (single-point-of-
    failure detection). Reuses the census triangle enumeration (each
    a<b<c triangle credits all three vertices) and the degree
    aggregate over the SAME cached edge list — wedge fan-out stays
    k²-bounded per node, so the whole query is node-linear at 100 TB.
    lcc = 2t/(d(d-1)) is a fixed IEEE expression on integers (zeroed
    below d=2), deterministically tie-broken on suppkey."""
    edges = cosupply_edges(spark, sf_dir)
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
    )
    tri_per_node = (
        tri.select(F.col("a").alias("x"))
        .unionAll(tri.select(F.col("b").alias("x")))
        .unionAll(tri.select(F.col("c").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    joined = deg.join(tri_per_node, "x", "left").select(
        F.col("x").alias("suppkey"),
        "degree",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
    )
    lcc = F.when(
        F.col("degree") >= 2,
        2.0 * F.col("n_tri") / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(0.0)
    return (
        joined.select(
            "suppkey", "degree", "n_tri", F.round(lcc, 9).alias("lcc")
        )
        .orderBy(F.col("lcc").desc(), "suppkey")
        .limit(25)
    )


@query(
    "graph_partition_conductance",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    nat AS (SELECT s_suppkey, s_nationkey FROM supplier),
    lab AS (
      SELECT e.u, e.v, a.s_nationkey AS cu, b.s_nationkey AS cv
      FROM edges e
      JOIN nat a ON a.s_suppkey = e.u
      JOIN nat b ON b.s_suppkey = e.v
    ),
    vol AS (
      SELECT c, CAST(SUM(d) AS BIGINT) AS volume FROM (
        SELECT cu AS c, 1 AS d FROM lab
        UNION ALL SELECT cv, 1 FROM lab
      ) GROUP BY c
    ),
    cut AS (
      SELECT c, CAST(SUM(x) AS BIGINT) AS cut_edges FROM (
        SELECT cu AS c, CASE WHEN cu <> cv THEN 1 ELSE 0 END AS x FROM lab
        UNION ALL
        SELECT cv, CASE WHEN cu <> cv THEN 1 ELSE 0 END FROM lab
      ) GROUP BY c
    ),
    tot AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_all FROM lab)
    SELECT v.c AS nationkey, v.volume, cut.cut_edges,
           ROUND(CAST(cut.cut_edges AS DOUBLE)
                 / NULLIF(CAST(LEAST(v.volume,
                     (SELECT vol_all FROM tot) - v.volume) AS DOUBLE), 0), 9)
             AS conductance
    FROM vol v JOIN cut ON cut.c = v.c
    ORDER BY nationkey
    """,
)
def graph_partition_conductance(spark, sf_dir):
    """Per-community conductance of the nation partition — the
    cut-quality companion to `graph_modularity` (modularity rewards
    dense intra-community edges; conductance φ(S) = cut(S)/min(vol(S),
    vol(V∖S)) punishes leaky boundaries — low φ = well-separated
    community). Reads the SAME labeled edge frame shape as the
    modularity oracle; every quantity is an integer count off the
    cached co-supply edges, the ratio is one guarded division per
    community. Node-linear at 100 TB like the rest of the graph
    tier."""
    edges = cosupply_edges(spark, sf_dir)
    nat = load_tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_nationkey"
    )
    lab = (
        edges.join(
            F.broadcast(
                nat.select(
                    F.col("s_suppkey").alias("u"),
                    F.col("s_nationkey").alias("cu"),
                )
            ),
            "u",
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("s_suppkey").alias("v"),
                    F.col("s_nationkey").alias("cv"),
                )
            ),
            "v",
        )
    )
    is_cut = F.when(F.col("cu") != F.col("cv"), 1).otherwise(0)
    sides = lab.select(
        F.col("cu").alias("c"), is_cut.alias("x")
    ).unionAll(lab.select(F.col("cv").alias("c"), is_cut.alias("x")))
    per_c = sides.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("volume"),
        F.sum("x").cast("bigint").alias("cut_edges"),
    )
    tot = lab.agg((2 * F.count(F.lit(1))).cast("bigint").alias("vol_all"))
    phi = F.col("cut_edges").cast("double") / F.nullif(
        F.least(
            F.col("volume"), F.col("vol_all") - F.col("volume")
        ).cast("double"),
        F.lit(0.0),
    )
    return (
        per_c.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("nationkey"),
            "volume",
            "cut_edges",
            F.round(phi, 9).alias("conductance"),
        )
        .orderBy("nationkey")
    )


@query(
    "graph_khop_reachability",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT u AS a, v AS b FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    sources AS MATERIALIZED (
      SELECT a AS src FROM (
        SELECT DISTINCT a FROM und
      ) WHERE md5(concat('khop:', CAST(a AS VARCHAR))) < '2'
    ),
    h1 AS MATERIALIZED (
      SELECT DISTINCT s.src, u.b AS node
      FROM sources s JOIN und u ON u.a = s.src
    ),
    h2 AS MATERIALIZED (
      SELECT DISTINCT h.src, u.b AS node
      FROM h1 h JOIN und u ON u.a = h.node
    ),
    h3 AS MATERIALIZED (
      SELECT DISTINCT h.src, u.b AS node
      FROM h2 h JOIN und u ON u.a = h.node
    ),
    counts AS (
      SELECT 1 AS hop, src, COUNT(*) AS n_reached FROM (
        SELECT src, node FROM h1 WHERE node <> src) GROUP BY src
      UNION ALL
      SELECT 2, src, COUNT(*) FROM (
        SELECT src, node FROM h1 WHERE node <> src
        UNION SELECT src, node FROM h2 WHERE node <> src) GROUP BY src
      UNION ALL
      SELECT 3, src, COUNT(*) FROM (
        SELECT src, node FROM h1 WHERE node <> src
        UNION SELECT src, node FROM h2 WHERE node <> src
        UNION SELECT src, node FROM h3 WHERE node <> src) GROUP BY src
    )
    SELECT CAST(hop AS INT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(n_reached) AS BIGINT) AS total_reached,
           CAST(MIN(n_reached) AS BIGINT) AS min_reached,
           CAST(MAX(n_reached) AS BIGINT) AS max_reached
    FROM counts GROUP BY hop ORDER BY hop
    """,
)
def graph_khop_reachability(spark, sf_dir):
    """k-hop reachability profile (hops 1-3) of the co-supply graph
    from an md5-DETERMINISTIC ~1/8 sample of source nodes — how fast
    supplier-substitution risk propagates. The source sample is the
    scale story: full all-pairs BFS frontiers are |V|² at hop
    saturation, while sampled-source frontiers are bounded by
    |sources|·|V| BY CONSTRUCTION and the sample is a pure function
    of the node id (stable across engines/reruns, the engine's
    sampling discipline). Frontiers expand through the cached
    undirected edge list with DISTINCT de-dup per hop (cumulative
    union per hop, self excluded); all outputs are integer counts."""
    edges = cosupply_edges(spark, sf_dir)
    und = edges.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
    sources = (
        und.select("a")
        .distinct()
        .filter(
            F.md5(F.concat(F.lit("khop:"), F.col("a").cast("string")))
            < "2"
        )
        .select(F.col("a").alias("src"))
    )
    # each frontier is |sources|x|V|-bounded; localCheckpoint keeps
    # the three cumulative unions below from re-deriving the hop
    # chain (and the edge build) once per union branch — the
    # vector_mmr_diversify lineage lesson (measured 17 s -> ~7 s).
    h1 = (
        F.broadcast(sources)
        .join(und, F.col("a") == F.col("src"))
        .select("src", F.col("b").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h2 = (
        h1.join(und, F.col("a") == F.col("node"))
        .select("src", F.col("b").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h3 = (
        h2.join(und, F.col("a") == F.col("node"))
        .select("src", F.col("b").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def cum(hop, frames):
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionAll(fr)
        return (
            u.filter(F.col("node") != F.col("src"))
            .distinct()
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("n_reached"))
            .select(F.lit(hop).alias("hop"), "src", "n_reached")
        )

    counts = (
        cum(1, [h1])
        .unionAll(cum(2, [h1, h2]))
        .unionAll(cum(3, [h1, h2, h3]))
    )
    return (
        counts.groupBy(F.col("hop").cast("int").alias("hop"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("n_reached").cast("bigint").alias("total_reached"),
            F.min("n_reached").cast("bigint").alias("min_reached"),
            F.max("n_reached").cast("bigint").alias("max_reached"),
        )
        .orderBy("hop")
    )
