"""Relational query surface: filters, joins, aggregates, set ops,
sorts/top-k, scalar functions (SURVEY.md §2.2, §2.4, §2.5, §2.7-2.9).

The reference performs no relational joins (its only co-location
mechanism is the shard shuffle) and delegates all querying to the
Elasticsearch artifact it builds; this module supplies that query
surface natively. Everything is a declarative DataFrame plan —
Catalyst handles pushdown, pruning, join selection (broadcast for the
dim tables), and partial aggregation.

Scale notes: dimension joins (region/nation/part/supplier at TPC-H
ratios) are explicitly broadcast; fact-fact joins shuffle on the join
key and rely on AQE for skew splitting. Money aggregates run through
DECIMAL (see functions/__init__.py) so results are identical at any
partition count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elastic_freight_spark.functions import (
    davg,
    date_str,
    dsum,
    dsum_cents,
    sql_davg,
    sql_date_str,
    sql_dsum,
    sql_dsum_cents,
)
from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables

# ---------------------------------------------------------------------------
# Headline aggregation queries (TPC-H-shaped, adapted to FIXTURES.md schema)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum_cents('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: scan-heavy groupBy with 8 aggregates. Catalyst plans
    partial (map-side) + final aggregation; the Parquet scan reads
    only the 7 referenced columns and pushes the shipdate filter.
    sum_charge (true per-row scale 6) rides dsum_cents: at 10x the
    driver scale its DECIMAL(18,6) total passes 2^53 scaled units and
    the final DECIMAL->DOUBLE cast diverged by 1 ULP between engines
    (caught by the 10x-replica oracle sweep); the cents-quantized
    BIGINT sum stays exact to ~$90T. sum_disc_price (scale 4) is exact
    to ~$900B per group — raw-dsum safe at any plausible corpus."""
    t = load_tables(spark, sf_dir)
    l = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum_cents(charge, "sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           {sql_date_str('o_orderdate', 'orderdate')},
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: selective dim filter → two joins → agg → top-k.
    customer is small relative to the facts → broadcast; the
    orders⋈lineitem join shuffles on the order key. limit(10) plans
    TakeOrderedAndProject (no global sort materialization)."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    joined = li.join(
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            date_str("o_orderdate", "orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: 6-table star join. region/nation/supplier/customer
    are all dims → broadcast chain; only orders⋈lineitem shuffles."""
    t = load_tables(spark, sf_dir)
    nations = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = t["supplier"].join(
        F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


@query(
    "q6_revenue_change",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_change(spark, sf_dir):
    """TPC-H Q6: pure filter + global aggregate; all four predicates
    push to the Parquet scan (min/max row-group skipping at scale)."""
    t = load_tables(spark, sf_dir)
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Join family (SURVEY.md §2.4 J1-J5)
# ---------------------------------------------------------------------------


@query(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def join_semi_active_customers(spark, sf_dir):
    """Left-semi join (EXISTS)."""
    t = load_tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 200000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def join_anti_customers_without_orders(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — the exact shape of the
    reference's missing-shard detection (expected minus produced,
    transport/BaseTransport.java:144-167)."""
    t = load_tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_outer_nation_activity",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_outer_nation_activity(spark, sf_dir):
    """Full-outer join of two aggregates with COALESCE'd keys."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    joined = c.alias("c").join(s.alias("s"), F.col("c.nk") == F.col("s.nk"), "full_outer")
    return joined.select(
        F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_range_quantity_band",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
              AND l_quantity BETWEEN p_size - 5 AND p_size + 5
    GROUP BY p_brand
    """,
)
def join_range_quantity_band(spark, sf_dir):
    """Equi + range (theta) join condition: Catalyst keys the hash
    join on the equi part and applies the band as a post-filter —
    never a cartesian product."""
    t = load_tables(spark, sf_dir)
    joined = t["lineitem"].join(
        F.broadcast(t["part"]),
        (F.col("l_partkey") == F.col("p_partkey"))
        & F.col("l_quantity").between(F.col("p_size") - 5, F.col("p_size") + 5),
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"), dsum("l_quantity", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Aggregate family (SURVEY.md §2.5 A5-A8)
# ---------------------------------------------------------------------------


@query(
    "agg_multi_measure",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           {sql_dsum('o_totalprice', 'sum_price')},
           {sql_davg('o_totalprice', 'avg_price')},
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def agg_multi_measure(spark, sf_dir):
    """Hash aggregate with mixed measures incl. count-distinct
    (planned as expand + two-phase agg)."""
    t = load_tables(spark, sf_dir)
    return t["orders"].groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum("o_totalprice", "sum_price"),
        davg("o_totalprice", "avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "agg_rollup_returns",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice', 'sum_price')},
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returns(spark, sf_dir):
    """ROLLUP with GROUPING() markers to disambiguate subtotal rows
    from genuine NULL groups."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


@query(
    "agg_cube_order_matrix",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_order_matrix(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation — same definition in
    Spark `percentile` and DuckDB `quantile_cont`). At 100 TB swap for
    `percentile_approx`; the exact variant is the oracle anchor."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++). No oracle — sketch estimates
    are engine-specific; accuracy is asserted in unit tests against
    the exact count instead (SURVEY.md §2.5 A6)."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Sorts / top-k (§2.7) and set ops (§2.8)
# ---------------------------------------------------------------------------


@query(
    "topk_global_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topk_global_orders(spark, sf_dir):
    """Global top-k: planned as TakeOrderedAndProject (per-partition
    heap + driver merge), not a full sort. Integer tiebreak makes the
    result set fully deterministic."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "setop_nations_customers_not_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
    """,
)
def setop_nations_customers_not_suppliers(spark, sf_dir):
    """EXCEPT (set semantics, `subtract`) — the reference's
    expected-minus-produced manifest computation (§2.8 U3)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"].select(F.col("c_nationkey").alias("nationkey"))
        .subtract(
            t["supplier"].filter(F.col("s_acctbal") > 8000)
            .select(F.col("s_nationkey").alias("nationkey"))
        )
    )


@query(
    "setop_union_intersect_mix",
    oracle="""
    WITH u AS (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
      UNION
      SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    ),
    i AS (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    )
    SELECT u.nationkey, (i.nationkey IS NOT NULL) AS in_both
    FROM u LEFT JOIN i ON u.nationkey = i.nationkey
    """,
)
def setop_union_intersect_mix(spark, sf_dir):
    """UNION distinct + INTERSECT + left join combined."""
    t = load_tables(spark, sf_dir)
    u = (
        t["customer"].filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .union(
            t["supplier"].filter(F.col("s_acctbal") > 9000)
            .select(F.col("s_nationkey").alias("nationkey"))
        )
        .distinct()
    )
    i = (
        t["customer"].select(F.col("c_nationkey").alias("i_nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("i_nationkey")))
    )
    return u.join(i, u.nationkey == i.i_nationkey, "left").select(
        F.col("nationkey"), F.col("i_nationkey").isNotNull().alias("in_both")
    )


@query(
    "union_all_account_balances",
    oracle=f"""
    SELECT kind, COUNT(*) AS n, {sql_dsum('bal', 'total_bal')}
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS bal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS bal FROM supplier
    )
    GROUP BY kind
    """,
)
def union_all_account_balances(spark, sf_dir):
    """UNION ALL of heterogeneous sources (the reference's multi-path
    input union, §2.1 S2) + aggregate."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].select(F.lit("customer").alias("kind"), F.col("c_acctbal").alias("bal"))
    s = t["supplier"].select(F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("bal"))
    return c.unionByName(s).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), dsum("bal", "total_bal")
    )


# ---------------------------------------------------------------------------
# Scalar function battery (§2.9)
# ---------------------------------------------------------------------------


@query(
    "f_string_part_surgery",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           SUBSTRING(p_name, 1, 8) AS name8,
           CONCAT(p_brand, '|', p_type) AS brand_type,
           TRIM(p_name) AS name_trim,
           REPLACE(p_type, 'A', '_') AS type_sub,
           LENGTH(p_name) AS name_len,
           CAST(STRPOS(p_name, 'a') AS INT) AS a_pos,
           REGEXP_EXTRACT(p_brand, '[0-9]+') AS brand_num,
           (p_type LIKE 'S%') AS is_s
    FROM part
    """,
)
def f_string_part_surgery(spark, sf_dir):
    """String-function parity battery: the reference's split/concat/
    trim/substring/regex usage (§2.9 F1-F5) as one projection."""
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_replace("p_type", "A", "_").alias("type_sub"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.col("p_type").startswith("S").alias("is_s"),
    )


@query(
    "f_json_props",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def f_json_props(spark, sf_dir):
    """JSON extraction (the reference's Jackson parse, §2.9 F6) via
    get_json_object, grouped."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"), F.col("value")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


@query(
    "f_dates_order_calendar",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           {sql_date_str("date_trunc('month', o_orderdate)", 'month_start')},
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def f_dates_order_calendar(spark, sf_dir):
    """Date/time functions (§2.9 F10): extract, date_trunc, format."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            date_str(F.date_trunc("month", F.col("o_orderdate")), "month_start"),
            "o_totalprice",
        )
        .groupBy("yr", "mo", "month_start")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@query(
    "f_math_casts",
    oracle="""
    SELECT l_linenumber,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice, 1) AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_rounded,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT) % 7) AS BIGINT) AS mod_sum,
           CAST(MAX(ABS(l_discount - 0.05)) AS DOUBLE) AS max_absdev
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def f_math_casts(spark, sf_dir):
    """Math/cast battery (§2.9 F8, F9, F11): floor, round, abs, mod,
    int casts."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .select(
            "l_linenumber",
            F.floor(F.col("l_quantity") / 10).alias("qty_bucket"),
            F.round("l_extendedprice", 1).alias("price_r"),
            (F.floor("l_quantity") % 7).alias("qmod"),
            F.abs(F.col("l_discount") - 0.05).alias("absdev"),
        )
        .groupBy("l_linenumber", "qty_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("price_r", "sum_rounded"),
            F.sum("qmod").alias("mod_sum"),
            F.max("absdev").cast("double").alias("max_absdev"),
        )
    )


@query(
    "agg_grouping_sets_mixed",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets_mixed(spark, sf_dir):
    """Explicit GROUPING SETS (§2.5 A7 beyond rollup/cube): status
    totals, priority totals, and the grand total in one pass, with
    GROUPING() flags disambiguating the null group keys."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_value_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
           CAST(FLOOR(l_extendedprice / 5000.0) * 5000 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_v,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_v
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_value_histogram(spark, sf_dir):
    """Fixed-width value histogram (§2.5 A8 companion to
    percentile_approx): bucket = floor(v / width) is a pure
    projection, so the histogram is one partial-aggregated shuffle of
    |buckets| rows — the profile pass behind every 'distribution of X'
    dashboard at 100 TB."""
    t = load_tables(spark, sf_dir)
    bucket = F.floor(F.col("l_extendedprice") / 5000.0)
    return (
        t["lineitem"]
        .groupBy(
            bucket.alias("bucket"),
            (bucket * 5000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("min_v"),
            F.max("l_extendedprice").alias("max_v"),
        )
    )


@query(
    "agg_collect_set_sorted",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
             AS statuses,
           CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_nationkey
    """,
)
def agg_collect_set_sorted(spark, sf_dir):
    """Array-valued aggregation: distinct statuses per nation as a
    sorted, comma-joined set (collect_set is unordered by contract —
    array_sort + array_join make the result deterministic and its
    rendering engine-portable)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.countDistinct("o_orderstatus").cast("int").alias("n_statuses"),
        )
    )


@query(
    "f_null_handling",
    oracle="""
    SELECT c_custkey,
           COALESCE(o_cnt, 0) AS order_count,
           CASE WHEN o_cnt IS NULL THEN 'never_ordered' ELSE 'active' END AS status,
           NULLIF(COALESCE(o_cnt, 0), 0) AS cnt_or_null,
           IFNULL(CAST(o_max AS DOUBLE), -1.0) AS max_price_or_sentinel
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS o_cnt, MAX(o_totalprice) AS o_max
      FROM orders GROUP BY o_custkey
    ) o ON c_custkey = o_custkey
    WHERE c_custkey < 300
    """,
)
def f_null_handling(spark, sf_dir):
    """NULL-handling function family (coalesce / nullif / ifnull /
    CASE-on-null) over the nullable side of an outer join."""
    t = load_tables(spark, sf_dir)
    agg = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("o_cnt"), F.max("o_totalprice").alias("o_max"))
    )
    return (
        t["customer"]
        .filter(F.col("c_custkey") < 300)
        .join(agg, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("o_cnt"), F.lit(0)).alias("order_count"),
            F.when(F.col("o_cnt").isNull(), "never_ordered")
            .otherwise("active")
            .alias("status"),
            F.nullif(F.coalesce(F.col("o_cnt"), F.lit(0)), F.lit(0)).alias(
                "cnt_or_null"
            ),
            F.ifnull(F.col("o_max").cast("double"), F.lit(-1.0)).alias(
                "max_price_or_sentinel"
            ),
        )
    )


@query(
    "sq_correlated_min_price",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice = (
      SELECT MIN(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o_custkey, o_orderkey
    """,
)
def sq_correlated_min_price(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q2 shape: the row matching a
    per-group minimum) — Catalyst decorrelates it into an aggregate +
    join rather than re-executing per row."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice = (
          SELECT MIN(o2.o_totalprice) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_custkey, o_orderkey
        """
    )


@query(
    "f_date_arithmetic_ship_delay",
    oracle="""
    SELECT CAST(date_diff('day', CAST(o_orderdate AS TIMESTAMP),
                          CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS delay_days,
           COUNT(*) AS n_items,
           CAST(MIN(date_part('month', CAST(l_shipdate AS TIMESTAMP))) AS INT)
             AS min_ship_month,
           CAST(MAX(date_part('year', CAST(l_shipdate AS TIMESTAMP))) AS INT)
             AS max_ship_year
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1
    """,
)
def f_date_arithmetic_ship_delay(spark, sf_dir):
    """Date arithmetic spectrum (F10): datediff / extract-part over a
    join — the shipping-delay histogram, grouped by whole-day lag."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("delay_days")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min(F.month("l_shipdate")).cast("int").alias("min_ship_month"),
            F.max(F.year("l_shipdate")).cast("int").alias("max_ship_year"),
        )
    )


@query(
    "f_fuzzy_levenshtein",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND a.c_custkey < 40 AND b.c_custkey < 40
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def f_fuzzy_levenshtein(spark, sf_dir):
    """Fuzzy string matching: Levenshtein-bounded name pairs (edit
    distance ≤ 2) over a bounded block — the entity-resolution
    primitive. At scale the cross product is blocked first (length /
    prefix / LSH buckets, as in the near-dup tier); the distance
    function itself is identical in both engines."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_custkey") < 40).select("c_custkey", "c_name")
    a = c.select(F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
    )


@query(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
           ROUND(var_samp(l_discount), 6) AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark, sf_dir):
    """Second-moment statistics (stddev / variance / correlation /
    covariance) per group — single-pass partial-aggregated moments,
    rounded to absorb engine-specific summation order in the last
    digits."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
    )


@query(
    "agg_conditional_bools",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_conditional_bools(spark, sf_dir):
    """Conditional/boolean aggregates: count_if / every / any — the
    assertion-style aggregates data-quality checks are written in."""
    t = load_tables(spark, sf_dir)
    return t["orders"].groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.every(F.col("o_totalprice") > 0).alias("all_positive"),
        F.some(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
    )


@query(
    "f_split_part_surgery",
    oracle="""
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_word,
           CAST(strlen(o_orderpriority)
                - strlen(replace(o_orderpriority, '-', '')) AS INT) AS n_dashes
    FROM orders WHERE o_orderkey < 500
    """,
)
def f_split_part_surgery(spark, sf_dir):
    """split_part + occurrence counting — delimiter surgery on the
    priority code (the reference's '|' tuple splitting class of ops,
    BaseESReducer.java:210,274, done on real columns)."""
    t = load_tables(spark, sf_dir)
    return t["orders"].filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)).alias("prio_num"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(2)).alias("prio_word"),
        (
            F.length("o_orderpriority")
            - F.length(F.regexp_replace("o_orderpriority", "-", ""))
        )
        .cast("int")
        .alias("n_dashes"),
    )


@query(
    "agg_max_by_min_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 137438953472
                   + (137438953471 - o_orderkey)) AS biggest_order,
           arg_min(o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 137438953472
                   + o_orderkey) AS smallest_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_max_by_min_by(spark, sf_dir):
    """Argmax/argmin aggregates (§2.5 A3 as a first-class function):
    the order id carrying each group's extreme price — one pass, no
    window or self-join. max_by/min_by tie-breaking is ARBITRARY in
    both engines, and exact price ties are certain in replicated /
    100 TB corpora (the 10x-replica oracle sweep caught Spark and
    DuckDB picking different orderkeys), so the ordering value is made
    UNIQUE by packing exact cents with the unique orderkey:
    cents * 2^37 + (2^37-1 - orderkey) for argmax (smallest key wins a
    price tie), cents * 2^37 + orderkey for argmin (smallest key wins
    there too). Envelope: cents < 2^26 (price <= $671k; fixture max
    ~$500k) and orderkey < 2^37 (~1.4e11) keep the packed key inside
    BIGINT; cents come from the exact floor(v*100 + 0.5) grid form,
    never a raw double->int cast (Spark truncates, DuckDB rounds)."""
    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    two37 = F.lit(137438953472)  # 2^37
    key_max = cents * two37 + (F.lit(137438953471) - F.col("o_orderkey"))
    key_min = cents * two37 + F.col("o_orderkey")
    return t["orders"].groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key_max).alias("biggest_order"),
        F.min_by("o_orderkey", key_min).alias("smallest_order"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
    )


@query(
    "f_greatest_least_bits",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(greatest(l_quantity, l_discount * 100) AS DOUBLE) AS g,
           CAST(least(l_quantity, l_tax * 100) AS DOUBLE) AS l,
           CAST(xor(CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT))
                AS BIGINT) AS key_xor,
           CAST(CAST(l_orderkey AS BIGINT) & 255 AS BIGINT) AS key_low_byte
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def f_greatest_least_bits(spark, sf_dir):
    """greatest/least and bitwise ops (xor / mask) — the key-mixing
    primitives behind bucketing and bloom-style filters."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].filter(F.col("l_orderkey") < 200).select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100)
        .cast("double")
        .alias("g"),
        F.least(F.col("l_quantity"), F.col("l_tax") * 100).cast("double").alias("l"),
        F.col("l_orderkey")
        .cast("bigint")
        .bitwiseXOR(F.col("l_linenumber").cast("bigint"))
        .alias("key_xor"),
        F.col("l_orderkey").cast("bigint").bitwiseAND(F.lit(255)).alias("key_low_byte"),
    )


@query(
    "f_string_family",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up,
           reverse(c_name) AS rev,
           translate(c_name, '#0', '_O') AS translated,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           repeat('-', CAST(c_custkey % 4 AS INT)) AS dashes,
           CAST(strpos(c_name, '#') AS INT) AS hash_pos
    FROM customer WHERE c_custkey < 200
    """,
)
def f_string_family(spark, sf_dir):
    """String-function family completion (F1-F5): case, reverse,
    translate, pad, repeat, position — all codegen'd builtins."""
    t = load_tables(spark, sf_dir)
    return t["customer"].filter(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.reverse("c_name").alias("rev"),
        F.translate("c_name", "#0", "_O").alias("translated"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.repeat(F.lit("-"), F.pmod(F.col("c_custkey"), F.lit(4)).cast("int")).alias(
            "dashes"
        ),
        F.instr(F.col("c_name"), "#").cast("int").alias("hash_pos"),
    )


@query(
    "agg_exact_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 6) AS med_qty,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_exact_median(spark, sf_dir):
    """Exact (not approximate) median and quartiles per group — the
    sort-based exact companion to percentile_approx; at 100 TB this
    pays a per-group sort, which is why approx is the default and
    exact the audit pass."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("p75_price"),
    )


@query(
    "agg_regression_by_group",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pts,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS icpt,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression_by_group(spark, sf_dir):
    """Per-group closed-form least-squares (price ~ quantity): the
    regr_* aggregate family — slope, intercept, r² from single-pass
    partial-aggregated moments (count/avg/var/covar), so a per-group
    trend over 100 TB costs exactly one map-side-combined aggregate,
    never a per-group fit loop. Rounded to absorb engine summation
    order in the last digits."""
    t = load_tables(spark, sf_dir)
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("bigint").alias("n_pts"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("icpt"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT l_extendedprice,
             NTILE(8) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
)
def agg_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram (the optimizer-statistics kind: equal row
    mass per bucket, data-driven boundaries) — complements the
    fixed-width `agg_value_histogram`. The oracle states the spec as
    NTILE(8) over a tie-broken total order; this side computes the
    SAME answer with no partition-less Window over the raw table
    (the round-5 scale finding): because the order is price-major,
    every bucket's lo/hi/count is a pure function of the price ECDF —
    NTILE hands the first (n mod 8) buckets ceil(n/8) rows and the
    rest floor(n/8), so bucket b spans global ranks (R_{b-1}, R_b]
    and lo/hi are the prices AT those ranks. The ECDF rides the
    bucketed distributed prefix-sum (`windows.bucketed_cum`,
    price-domain buckets), rank selection is a broadcast join of the
    16 boundary ranks, and the only data-sized stage is the one
    groupBy-price scan."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    li = load_tables(spark, sf_dir)["lineitem"]
    counts = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("b", F.expr("cast(floor(v) as bigint) div 100"))
        # round 12: distinct-price-bounded; feeds bucketed_cum (2
        # refs) + n1 — checkpointed so the lineitem scan + groupBy
        # runs once, not 3x (8-core A/B receipts in the message of
        # commit a0a5cb9)
        .localCheckpoint(eager=True)
    )
    cum = bucketed_cum(counts, "v", "b", ["c"])
    n1 = counts.agg(F.sum("c").cast("bigint").alias("n"))
    # the 8 NTILE bucket extents: size q+1 for bucket <= rem else q
    buckets = n1.select(
        "n", F.explode(F.array(*[F.lit(i) for i in range(1, 9)])).alias("bucket")
    ).select(
        "bucket",
        (
            (F.col("bucket") - 1) * F.expr("n div 8")
            + F.least(F.col("bucket") - 1, F.expr("n % 8"))
        ).alias("r_lo_excl"),
        (
            F.col("bucket") * F.expr("n div 8")
            + F.least(F.col("bucket"), F.expr("n % 8"))
        ).alias("r_hi"),
    ).filter(F.col("r_hi") > F.col("r_lo_excl"))
    return (
        cum.withColumn("cum_lo", F.col("c_cum") - F.col("c"))
        .join(
            F.broadcast(buckets),
            (F.col("c_cum") >= F.col("r_lo_excl") + 1)
            & (F.col("cum_lo") < F.col("r_hi")),
        )
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.max(F.col("r_hi") - F.col("r_lo_excl")).alias("n_rows"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): a 4-table star join
    — two broadcast dims (customer is borderline; nation trivially) —
    filtered on the fact, grouped on customer, global top-20 by lost
    revenue. The plan to want at 100 TB: returnflag filter pushed to
    the lineitem scan, nation broadcast, one fact shuffle for the
    groupBy, TakeOrderedAndProject for the limit."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(rev, "revenue", 4),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "f_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           l_quantity AS value
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def f_unpivot_measures(spark, sf_dir):
    """UNPIVOT/melt — the inverse of the pivot query: wide per-line
    measures to long (measure, value) rows via the native `unpivot`
    API (one generate pass, no self-union; the oracle's UNION ALL
    form would scan the table once per measure). The filter is pushed
    below the generate, so the scan reads only qualifying row
    groups."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") < 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    ).withColumn("measure", F.expr("substring(measure, 3)"))


@query(
    "keyset_pagination_page2",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > (
      SELECT MAX(o_orderkey) FROM (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50
      )
    )
    ORDER BY o_orderkey
    LIMIT 50
    """,
)
def keyset_pagination_page2(spark, sf_dir):
    """Keyset (seek) pagination — the ES composite-agg / search_after
    analogue and the only pagination that scales: page N+1 resumes
    from the last key (`WHERE k > last ORDER BY k LIMIT p`), so every
    page is a pushed range filter + TakeOrderedAndProject, where
    OFFSET would scan and discard N·p rows. Here page 2 of 50 with
    the cursor computed in-plan (broadcast 1-row subquery; a real
    client passes the literal from the previous page)."""
    orders = load_tables(spark, sf_dir)["orders"]
    page1_last = (
        orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(50)
        .agg(F.max("o_orderkey").alias("last_key"))
    )
    return (
        orders.crossJoin(F.broadcast(page1_last))
        .filter(F.col("o_orderkey") > F.col("last_key"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(50)
    )


@query(
    "f_variant_shredding",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_event
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY k
    """,
)
def f_variant_shredding(spark, sf_dir):
    """Semi-structured JSON via Spark 4's VARIANT type: `parse_json`
    once into a binary variant column, then `variant_get` path
    extraction — the engine stores the parsed tree, so N path reads
    don't re-parse the JSON string N times (vs `get_json_object`,
    which re-parses per call; `f_json_props` keeps that classic path).
    At 100 TB the variant column is what you'd persist — Parquet
    shreds it columnar in Spark 4 — making JSON-field predicates
    skippable like any other column."""
    events = load_tables(spark, sf_dir)["events"]
    v = events.select(
        "event_id", F.parse_json("props").alias("v")
    )
    return (
        v.select(
            F.variant_get("v", "$.k", "bigint").alias("k"), "event_id"
        )
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_event"),
        )
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      FROM orders
      GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey,
             NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM rfm
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark, sf_dir):
    """RFM segmentation — recency/frequency/monetary quartiles per
    customer, then segment sizes: the classic customer-analytics
    query the built artifact would serve. The oracle states each
    score as NTILE(4) over a custkey-tie-broken total order; this
    side computes identical scores with no customer-sized
    partition-less Window (the round-5 scale finding): each
    dimension's exact global rank comes from `windows.dist_rank`
    (distinct-value bucketed prefix-sum + bounded in-block tie
    ranks — recency buckets by calendar month, frequency by its own
    tiny domain, monetary by value range), and NTILE(4) of rank i is
    the closed form over (i, n) — the first n mod 4 buckets get
    ceil(n/4) rows. Monetary sums ride DECIMAL."""
    from elastic_freight_spark.operators.windows import dist_rank

    orders = load_tables(spark, sf_dir)["orders"]
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("monetary"),
    )
    # Round 12 (r11 verdict item 3): re-measured at 8 AND 32 cores —
    # the round-6 "checkpoint is 1.7x SLOWER" verdict no longer
    # reproduces (flat at both widths, A/B receipts in the message of
    # commit a0a5cb9). Checkpointed: the customer-bounded frame
    # feeds 3 dist_rank calls (3 references each) + the n1 count, so
    # the checkpoint replaces ~10 orders scans + groupBys with one —
    # wall-clock-flat locally where idle cores overlap the duplicate
    # subtrees, strictly less work at cluster scale.
    rfm = rfm.localCheckpoint(eager=True)
    r_rk = dist_rank(
        rfm.select("o_custkey", "last_order"),
        "last_order",
        "o_custkey",
        F.expr("year(last_order) * 100 + month(last_order)"),
        out="ri",
    ).select("o_custkey", "ri")
    f_rk = dist_rank(
        rfm.select("o_custkey", "frequency"),
        "frequency",
        "o_custkey",
        F.col("frequency"),
        out="fi",
    ).select("o_custkey", "fi")
    m_rk = dist_rank(
        rfm.select("o_custkey", "monetary"),
        "monetary",
        "o_custkey",
        F.expr("cast(floor(monetary) as bigint) div 10000"),
        out="mi",
    ).select("o_custkey", "mi")
    n1 = rfm.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def ntile4(i):
        # greatest(n div 4, 1) guards the ELSE divisor against n < 4
        # (ANSI DIVIDE_BY_ZERO): today CASE's lazy evaluation makes the
        # branch unreachable when n < 4, but a refactor that hoists the
        # expression would trip it; greatest() is unreachable-neutral.
        return F.expr(
            f"CASE WHEN {i} <= (n % 4) * ((n div 4) + 1)"
            f" THEN ({i} - 1) div ((n div 4) + 1) + 1"
            f" ELSE (n % 4) + ({i} - (n % 4) * ((n div 4) + 1) - 1)"
            f" div greatest(n div 4, 1) + 1 END"
        ).cast("int")

    scored = (
        r_rk.join(f_rk, "o_custkey")
        .join(m_rk, "o_custkey")
        .join(F.broadcast(n1), F.lit(True), "left")
        .select(
            ntile4("ri").alias("r_score"),
            ntile4("fi").alias("f_score"),
            ntile4("mi").alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "customer_value_gini",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS v
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT v,
             ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(v) OVER () AS total
      FROM cust
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(total) AS DOUBLE) AS total_value,
           ROUND(CAST(SUM((2 * i - n - 1) * v) AS DOUBLE)
                 / (MAX(n) * CAST(MAX(total) AS DOUBLE)), 9) AS gini
    FROM ranked
    """,
)
def customer_value_gini(spark, sf_dir):
    """Gini coefficient of customer order value — the concentration
    number behind "top X% of customers drive Y% of revenue" (and, in
    a data pipeline, of tokens-per-source concentration). The oracle
    states the rank formula G = Σ(2i−n−1)·v / (n·Σv) with per-row
    ranks; this side needs NO per-row rank (the round-5 scale
    finding): within a tie block of c equal values starting after
    cumulative rank s, Σ_{j=1..c}(2(s+j)−n−1)·v collapses to
    v·(2·c·s + c·(c+1) − c·(n+1)) — an exact integer identity — so
    the whole statistic is one aggregate over the distinct-value
    cumulative, which rides the bucketed distributed prefix-sum
    (`windows.bucketed_cum`, value-domain buckets). DECIMAL sums
    end-to-end; no partition-less Window anywhere."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    orders = load_tables(spark, sf_dir)["orders"]
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("v")
    )
    counts = (
        cust.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("b", F.expr("cast(floor(v) as bigint) div 10000"))
        # NOT checkpointed: re-measured in round 12 at 8 AND 32 cores
        # (the r11 verdict's low-core re-measure) — the checkpoint is
        # ~13% SLOWER at 8 cores and flat at 32 (the orders groupBy
        # is cheap to recompute; the eager barrier job loses to
        # overlapped recompute — the round-6 rfm lesson holds HERE).
    )
    cum = bucketed_cum(counts, "v", "b", ["c"])
    s = F.col("c_cum") - F.col("c")
    c = F.col("c")
    block_num = F.col("v") * (
        (2 * c * s + c * (c + 1)).cast("decimal(38,0)")
        - (c * (F.col("n") + 1)).cast("decimal(38,0)")
    )
    totals = cum.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("total"),
    )
    return (
        cum.join(F.broadcast(totals), F.lit(True), "left")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.max("total").cast("double").alias("total_value"),
            F.round(
                F.sum(block_num).cast("double")
                / (F.max("n") * F.max("total").cast("double")),
                9,
            ).alias("gini"),
        )
    )


@query(
    "part_abc_classification",
    oracle=f"""
    WITH part_rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS rev
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER () AS total
      FROM part_rev
    ), classed AS (
      SELECT CASE WHEN cum_rev * 5 <= total * 4 THEN 'A'
                  WHEN cum_rev * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def part_abc_classification(spark, sf_dir):
    """ABC (Pareto) inventory classification: parts sorted by revenue
    descending, class A = the head covering 80% of cumulative
    revenue, B to 95%, C the tail — the 80/20 cut every catalog/
    inventory pipeline draws (and, for a training corpus, the
    head/torso/tail split of sources by token contribution).
    Thresholds compare as exact DECIMAL integer-grain products
    (cum·5 ≤ total·4, cum·20 ≤ total·19 — the house no-float-compare
    rule) and the cumulative never runs a part-sized partition-less
    Window (the round-5 scale finding): the revenue mass cumulative
    rides the bucketed distributed prefix-sum over DISTINCT revenue
    values (`windows.bucketed_cum`, desc), whole tie blocks classify
    from their first/last in-block cumulative (cum_j = S₀ + j·rev is
    monotone in j), and the ≤2 blocks that STRADDLE a class boundary
    split in closed form (exact integer `div` on unscaled decimals),
    so block size never materializes anywhere. DECIMAL end-to-end."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    li = load_tables(spark, sf_dir)["lineitem"]
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("rev")
    )
    counts = (
        part_rev.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("mass", (F.col("rev") * F.col("c")).cast("decimal(38,4)"))
        .withColumn("b", F.expr("cast(floor(rev) as bigint) div 1000"))
        # round 12: distinct-revenue-bounded frame feeds bucketed_cum
        # (2 refs) + tot — checkpointed so the lineitem scan +
        # two-level aggregate runs once, not 3x (8-core A/B receipts
        # in the message of commit a0a5cb9)
        .localCheckpoint(eager=True)
    )
    cum = bucketed_cum(counts, "rev", "b", ["mass"], ascending=False)
    tot = counts.agg(F.sum("mass").cast("decimal(38,4)").alias("total"))

    def cls(x):
        return (
            F.when(x * 5 <= F.col("total") * 4, "A")
            .when(x * 20 <= F.col("total") * 19, "B")
            .otherwise("C")
        )

    blocks = (
        cum.join(F.broadcast(tot), F.lit(True), "left")
        .select(
            "rev",
            "c",
            "mass",
            "total",
            (F.col("mass_cum") - F.col("mass")).alias("s0"),
            "mass_cum",
        )
        .withColumn("cls_first", cls(F.col("s0") + F.col("rev")))
        .withColumn("cls_last", cls(F.col("mass_cum")))
    )
    whole = blocks.filter(F.col("cls_first") == F.col("cls_last")).select(
        F.col("cls_first").alias("abc_class"),
        F.col("c").alias("n_parts_b"),
        F.col("mass").alias("rev_b"),
    )

    # Straddling blocks (first/last row classes differ — which forces
    # rev > 0) split in CLOSED FORM, never by exploding the block:
    # row j is A iff 5·(s0 + j·rev) <= 4·total, i.e. j <= jA =
    # floor((4·total − 5·s0) / (5·rev)), and A-or-B iff j <= jB
    # likewise at 19/20. The floor is an exact integer `div` on the
    # UNSCALED decimals (×10⁴ recovers the 4-dp integer grain), so a
    # tie block of ANY size costs three output rows — no sequence()
    # array ever materializes (a data-sized tie block at a Pareto
    # boundary would otherwise build a c-element array in one task).
    def unscaled(col):
        return (col * 10000).cast("decimal(38,0)")

    strad = (
        blocks.filter(F.col("cls_first") != F.col("cls_last"))
        .withColumn("_numA", unscaled(4 * F.col("total") - 5 * F.col("s0")))
        .withColumn("_denA", unscaled(5 * F.col("rev")))
        .withColumn(
            "_numB", unscaled(19 * F.col("total") - 20 * F.col("s0"))
        )
        .withColumn("_denB", unscaled(20 * F.col("rev")))
        .withColumn(
            "_jA",
            F.expr("least(c, greatest(cast(0 as bigint), _numA div _denA))"),
        )
        .withColumn(
            "_jB", F.expr("least(c, greatest(_jA, _numB div _denB))")
        )
    )
    per_class = (
        strad.select(
            "rev",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("A").alias("abc_class"), F.col("_jA").alias("n")
                    ),
                    F.struct(
                        F.lit("B").alias("abc_class"),
                        (F.col("_jB") - F.col("_jA")).alias("n"),
                    ),
                    F.struct(
                        F.lit("C").alias("abc_class"),
                        (F.col("c") - F.col("_jB")).alias("n"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            F.col("s.abc_class").alias("abc_class"),
            F.col("s.n").alias("n_parts_b"),
            (F.col("rev") * F.col("s.n")).cast("decimal(38,4)").alias("rev_b"),
        )
        .filter(F.col("n_parts_b") > 0)
    )
    return (
        whole.unionByName(per_class)
        .groupBy("abc_class")
        .agg(
            F.sum("n_parts_b").cast("bigint").alias("n_parts"),
            F.sum("rev_b").cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@query(
    "supplier_late_rate_wilson",
    oracle="""
    WITH s AS (
      SELECT l_suppkey,
             COUNT(*) AS n,
             SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_suppkey
    )
    SELECT l_suppkey,
           CAST(n AS BIGINT) AS n_shipments,
           CAST(late AS BIGINT) AS n_late,
           ROUND((late / CAST(n AS DOUBLE) + 1.9208 / n
                  - 1.96 * sqrt((late / CAST(n AS DOUBLE))
                                * (1 - late / CAST(n AS DOUBLE)) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 9) AS late_rate_lower_bound
    FROM s
    WHERE n >= 20
    ORDER BY late_rate_lower_bound DESC, l_suppkey
    LIMIT 15
    """,
)
def supplier_late_rate_wilson(spark, sf_dir):
    """Supplier late-shipment ranking by the Wilson score LOWER bound
    (95%) on the late rate — ranking by raw rate promotes small-n
    suppliers with one bad shipment; the Wilson bound is the standard
    rank-with-uncertainty fix (the same formula behind "sort by best"
    comment ranking). One fact join + per-supplier aggregate; the
    bound is closed-form arithmetic on (n, late) — no per-row work
    after the reduce. Suppliers below 20 shipments are excluded from
    ranking rather than shrunk."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).cast("int")
        ).alias("late"),
    )
    p = F.col("late") / F.col("n").cast("double")
    z2 = 1.96 * 1.96
    bound = (
        p
        + F.lit(z2 / 2) / F.col("n")
        - 1.96
        * F.sqrt(p * (1 - p) / F.col("n") + F.lit(z2 / 4) / (F.col("n") * F.col("n")))
    ) / (1 + F.lit(z2) / F.col("n"))
    return (
        s.filter(F.col("n") >= 20)
        .select(
            "l_suppkey",
            F.col("n").cast("bigint").alias("n_shipments"),
            F.col("late").cast("bigint").alias("n_late"),
            F.round(bound, 9).alias("late_rate_lower_bound"),
        )
        .orderBy(F.col("late_rate_lower_bound").desc(), "l_suppkey")
        .limit(15)
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_extendedprice AS v, SUM(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, v, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM g
    )
    SELECT l_returnflag, MIN(v) AS weighted_median
    FROM cum WHERE cw * 2 >= tot GROUP BY 1
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact weighted median (A8 extension): the smallest
    l_extendedprice v per return flag such that the cumulative
    l_quantity weight at v reaches half the group's total — the
    robust "typical price weighted by volume" statistic
    percentile_approx cannot answer exactly.

    Plan shape: pre-aggregate to (group, value) — the frame the
    window pass runs on is value-distinct, so ROWS and RANGE frames
    coincide and the cumulative sum is deterministic; one value-
    ordered window per group plus a total via the same partition.
    DECIMAL weights end-to-end: the half-total comparison is exact
    integer-scaled arithmetic (cw*2 >= tot), immune to float
    boundaries in both engines. Shuffles: one on (flag, value), one
    on flag — both tiny after the pre-aggregation."""
    from pyspark.sql import Window as W

    li = load_tables(spark, sf_dir)["lineitem"]
    g = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    ).agg(F.sum("l_quantity").alias("w"))
    cum = g.select(
        "l_returnflag",
        "v",
        F.sum("w")
        .over(W.partitionBy("l_returnflag").orderBy("v"))
        .alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tot"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )


@query(
    "er_part_name_match",
    oracle="""
    WITH names AS (
      SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1
    ),
    p AS (
      SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS blk
      FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev_distance,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
    """,
)
def er_part_name_match(spark, sf_dir):
    """Record linkage / entity resolution: near-identical part names
    via blocking + edit distance — the dedupe-across-catalogs shape
    (same product, typo'd listing). Canonicalize first (DISTINCT
    name + cluster size), block on the leading token so the
    quadratic comparison runs per block over the REDUCED name table
    (64 names here, not 2000 part rows; at 100 TB the block join is
    |distinct names per block|², never |rows|²), then score
    survivors with exact Levenshtein (integer, engine-portable).
    lev 0 (exact duplicates) is excluded — that is ``dedup_exact``'s
    job; 1..4 is the fuzzy-variant band."""
    part = load_tables(spark, sf_dir)["part"]
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    p = names.select(
        "p_name", "n_parts", F.split("p_name", " ").getItem(0).alias("blk")
    )
    a, b = p.alias("a"), p.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(lev.between(1, 4))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.cast("int").alias("lev_distance"),
            F.col("a.n_parts").cast("bigint").alias("n_parts_a"),
            F.col("b.n_parts").cast("bigint").alias("n_parts_b"),
        )
    )


@query(
    "agg_exact_mode",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT o_orderstatus, SUM(n) AS grp_n FROM c GROUP BY 1
    ),
    r AS (
      SELECT c.*, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                     ORDER BY n DESC, o_orderpriority) AS rn
      FROM c
    )
    SELECT r.o_orderstatus, r.o_orderpriority AS mode_priority,
           CAST(r.n AS BIGINT) AS n_rows,
           ROUND(r.n / CAST(t.grp_n AS DOUBLE), 9) AS share
    FROM r JOIN tot t ON t.o_orderstatus = r.o_orderstatus
    WHERE rn = 1
    """,
)
def agg_exact_mode(spark, sf_dir):
    """Exact MODE per group (most frequent o_orderpriority per order
    status, with its share of the group) — the one classic aggregate
    Spark lacks as a builtin deterministic form (its ``mode()`` picks
    an arbitrary value on ties); here ties break on the value itself
    so both engines must return the identical row. Two group-sized
    aggregates + one window over the (status × priority) frame —
    post-reduction cardinality, never data-sized."""
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir)["orders"]
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("o_orderstatus").agg(F.sum("n").alias("grp_n"))
    r = c.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("o_orderstatus").orderBy(
                F.col("n").desc(), "o_orderpriority"
            )
        ),
    ).filter(F.col("rn") == 1)
    return r.join(tot, "o_orderstatus").select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(F.col("n") / F.col("grp_n").cast("double"), 9).alias("share"),
    )


@query(
    "orders_basket_size_distribution",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_items AS BIGINT) AS basket_size,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 9)
             AS frac_orders
    FROM per_order
    GROUP BY n_items
    """,
)
def orders_basket_size_distribution(spark, sf_dir):
    """Order fan-out profile: how many orders have k line items, with
    each size's share — the first thing to inspect before planning
    any order-grain join or the market-basket pair expansion (whose
    cost is Σ C(k,2) over exactly this histogram). Two aggregates:
    order-keyed reduce, then the size histogram over the (tiny)
    per-order frame; the share window runs on histogram-sized rows."""
    from pyspark.sql import Window as W

    li = load_tables(spark, sf_dir)["lineitem"]
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    hist = per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return hist.select(
        F.col("n_items").cast("bigint").alias("basket_size"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(W.partitionBy()).cast("double"),
            9,
        ).alias("frac_orders"),
    )


# Composite-aggregation page cursor: the last bucket of page 1 when
# buckets over (source, lang) are key-ordered with page size 5.
COMPOSITE_AFTER = ("src1", "fr")
COMPOSITE_PAGE_SIZE = 5


@query(
    "agg_composite_pagination",
    oracle=f"""
    WITH buckets AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_chars
    FROM buckets
    WHERE source > '{COMPOSITE_AFTER[0]}'
       OR (source = '{COMPOSITE_AFTER[0]}' AND lang > '{COMPOSITE_AFTER[1]}')
    ORDER BY source, lang
    LIMIT {COMPOSITE_PAGE_SIZE}
    """,
)
def agg_composite_pagination(spark, sf_dir):
    """ES `composite` aggregation page-after-cursor: buckets over
    (source, lang) in key order, resumed AFTER the cursor tuple with
    a keyset predicate — the bucket-space twin of
    ``keyset_pagination_page2`` (rows there, group-by buckets here).
    The after-key predicate reaches the scan as a pushed filter on
    ``source`` (only post-cursor sources are read when the layout is
    source-partitioned), the aggregation is one map-combinable
    group-by, and LIMIT lands in TakeOrderedAndProject — no earlier
    page is recomputed, which is the entire point of composite
    pagination over a 100 TB bucket space."""
    docs = load_tables(spark, sf_dir)["documents"]
    after_src, after_lang = COMPOSITE_AFTER
    return (
        docs.filter(
            (F.col("source") > after_src)
            | ((F.col("source") == after_src) & (F.col("lang") > after_lang))
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "lang")
        .limit(COMPOSITE_PAGE_SIZE)
    )


@query(
    "er_blocking_efficiency",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    k AS (
      SELECT p_name,
             string_split(p_name, ' ')[1] AS first_token,
             string_split(p_name, ' ')[-1] AS last_token,
             CAST(length(p_name) // 5 AS VARCHAR) AS length_band
      FROM names
    ),
    strat AS (
      SELECT 'first_token' AS strategy, p_name, first_token AS blk FROM k
      UNION ALL
      SELECT 'last_token', p_name, last_token FROM k
      UNION ALL
      SELECT 'length_band', p_name, length_band FROM k
    ),
    pairs AS (
      SELECT a.strategy, a.p_name AS na, b.p_name AS nb,
             levenshtein(a.p_name, b.p_name) AS lev
      FROM strat a JOIN strat b
        ON a.strategy = b.strategy AND a.blk = b.blk
       AND a.p_name < b.p_name
    )
    SELECT s.strategy,
           CAST(nb.n_blocks AS BIGINT) AS n_blocks,
           CAST(COUNT(p.na) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN p.lev BETWEEN 1 AND 4
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matches
    FROM (SELECT DISTINCT strategy FROM strat) s
    LEFT JOIN pairs p ON p.strategy = s.strategy
    JOIN (
      SELECT strategy, COUNT(DISTINCT blk) AS n_blocks
      FROM strat GROUP BY 1
    ) nb ON nb.strategy = s.strategy
    GROUP BY s.strategy, nb.n_blocks
    ORDER BY s.strategy
    """,
)
def er_blocking_efficiency(spark, sf_dir):
    """Blocking-strategy audit for the entity-resolution tier: for
    each candidate-generation policy (first-token block — the one
    ``er_part_name_match`` ships — last-token block, and a
    length-band block), the block count, the candidate-pair volume
    (the COST a strategy commits the cluster to), and how many
    candidates are true fuzzy matches (lev 1-4 — the YIELD). This is
    the measurement behind choosing a blocking key before a 100 TB
    ER run: candidates scale with Σ block_size², so the table makes
    the cost/recall trade explicit. All outputs are integers; the
    self-joins run on the DISTINCT-NAME frame (vocabulary-sized, not
    row-sized), one per strategy, each block-keyed — never all
    pairs."""
    names = (
        load_tables(spark, sf_dir)["part"].select("p_name").distinct()
    )
    k = names.selectExpr(
        "p_name",
        "split(p_name, ' ')[0] AS first_token",
        "element_at(split(p_name, ' '), -1) AS last_token",
        "CAST(length(p_name) div 5 AS STRING) AS length_band",
    )
    strat = None
    for sname in ("first_token", "last_token", "length_band"):
        part = k.select(
            F.lit(sname).alias("strategy"),
            "p_name",
            F.col(sname).alias("blk"),
        )
        strat = part if strat is None else strat.unionAll(part)
    a = strat.select("strategy", F.col("p_name").alias("na"), "blk")
    b = strat.select("strategy", F.col("p_name").alias("nb"), "blk")
    pairs = (
        a.join(b, ["strategy", "blk"])
        .filter(F.col("na") < F.col("nb"))
        .withColumn("lev", F.levenshtein("na", "nb"))
    )
    per_pairs = pairs.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(
            ((F.col("lev") >= 1) & (F.col("lev") <= 4)).cast("int")
        )
        .cast("bigint")
        .alias("n_matches"),
    )
    n_blocks = strat.groupBy("strategy").agg(
        F.countDistinct("blk").cast("bigint").alias("n_blocks")
    )
    return (
        n_blocks.join(per_pairs, "strategy", "left")
        .select(
            "strategy",
            "n_blocks",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(F.col("n_matches"), F.lit(0))
            .cast("bigint")
            .alias("n_matches"),
        )
        .orderBy("strategy")
    )


@query(
    "supplier_herfindahl",
    oracle="""
    WITH vol AS (
      SELECT s.s_nationkey, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT s_nationkey, SUM(rev) AS nation_rev,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM vol GROUP BY 1
    )
    SELECT n.n_name AS nation,
           t.n_suppliers,
           CAST(t.nation_rev AS DOUBLE) AS nation_rev,
           ROUND(CAST(SUM(CAST(FLOOR(
                    (CAST(v.rev AS DOUBLE) / CAST(t.nation_rev AS DOUBLE))
                    * (CAST(v.rev AS DOUBLE) / CAST(t.nation_rev AS DOUBLE))
                    * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15, 9) AS hhi
    FROM vol v
    JOIN tot t ON t.s_nationkey = v.s_nationkey
    JOIN nation n ON n.n_nationkey = v.s_nationkey
    GROUP BY n.n_name, t.n_suppliers, t.nation_rev
    ORDER BY nation
    """,
)
def supplier_herfindahl(spark, sf_dir):
    """Herfindahl–Hirschman concentration index of supplier revenue
    per nation — the antitrust/procurement-risk metric that Gini
    (`customer_value_gini`) and ABC (`part_abc_classification`) don't
    give: HHI = Σ share² over suppliers, 1/n for perfect competition,
    1.0 for monopoly; a nation whose supply concentrates in two
    suppliers is a resilience risk no matter how long the tail is.
    Revenue sums ride DECIMAL (exact, order-independent); both
    engines square bit-identical share quotients (share·share on both
    sides — never POWER vs pow), and each squared share quantizes to
    the 1e-15 grain with floor(s²·1e15 + 0.5) before an exact BIGINT
    cross-supplier SUM, so neither aggregation order nor the engines'
    divergent scale-≥10 decimal-cast tie rounding can leak into the
    9th decimal (round-8 tie-hunt: the previous DECIMAL(28,18) cast
    scaled by 1e18 — past 2^53 exactness AND onto DuckDB's half-even
    int128 tie path; Σshare² ≤ 1 keeps the BIGINT sum ≤ 1e15). The
    per-nation aggregate is |suppliers|-sized after the first
    reduce."""
    t = load_tables(spark, sf_dir)
    vol = (
        t["lineitem"]
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
    )
    tot = vol.groupBy("s_nationkey").agg(
        F.sum("rev").alias("nation_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    return (
        vol.join(tot, "s_nationkey")
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("nation"),
                )
            ),
            "s_nationkey",
        )
        .groupBy("nation", "n_suppliers", "nation_rev")
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        (
                            F.col("rev").cast("double")
                            / F.col("nation_rev").cast("double")
                        )
                        * (
                            F.col("rev").cast("double")
                            / F.col("nation_rev").cast("double")
                        )
                        * F.lit(1e15)
                        + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1e15),
                9,
            ).alias("hhi")
        )
        .select(
            "nation",
            "n_suppliers",
            F.col("nation_rev").cast("double").alias("nation_rev"),
            "hhi",
        )
        .orderBy("nation")
    )


@query(
    "part_substitution_candidates",
    oracle="""
    WITH alt AS (
      SELECT a.p_partkey, a.p_brand, a.p_retailprice,
             b.p_partkey AS alt_partkey, b.p_brand AS alt_brand,
             b.p_retailprice AS alt_price
      FROM part a JOIN part b
        ON a.p_type = b.p_type AND a.p_size = b.p_size
       AND a.p_brand <> b.p_brand
       AND b.p_retailprice < a.p_retailprice
    )
    SELECT p_partkey, p_brand,
           ROUND(p_retailprice, 2) AS retailprice,
           alt_partkey, alt_brand,
           ROUND(alt_price, 2) AS alt_price,
           ROUND(p_retailprice - alt_price, 2) AS saving
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY p_partkey
        ORDER BY alt_price, alt_partkey) AS rn
      FROM alt
    ) WHERE rn = 1
    ORDER BY saving DESC, p_partkey
    LIMIT 25
    """,
)
def part_substitution_candidates(spark, sf_dir):
    """Cheapest same-spec substitute per part — the procurement query
    behind "can we source this cheaper": for each part, the
    lowest-priced part of the SAME (type, size) from a DIFFERENT
    brand that undercuts it, ranked by saving, top-25. The self-join
    is blocked on (type, size) — the same equi-blocking discipline as
    the ER tier, so candidates are block-bounded, never all-pairs —
    and the per-part argmin lands in one window over block-keyed
    partitions. Prices round to cents on both sides (they are exact
    2-decimal values in the data), so every output column is
    effectively exact."""
    from pyspark.sql import Window as W

    part = load_tables(spark, sf_dir)["part"]
    a = part.select(
        "p_partkey", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    b = part.select(
        F.col("p_partkey").alias("alt_partkey"),
        F.col("p_brand").alias("alt_brand"),
        F.col("p_type").alias("p_type"),
        F.col("p_size").alias("p_size"),
        F.col("p_retailprice").alias("alt_price"),
    )
    alt = a.join(b, ["p_type", "p_size"]).filter(
        (F.col("p_brand") != F.col("alt_brand"))
        & (F.col("alt_price") < F.col("p_retailprice"))
    )
    w = W.partitionBy("p_partkey").orderBy("alt_price", "alt_partkey")
    return (
        alt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("retailprice"),
            "alt_partkey",
            "alt_brand",
            F.round("alt_price", 2).alias("alt_price"),
            F.round(F.col("p_retailprice") - F.col("alt_price"), 2).alias(
                "saving"
            ),
        )
        .orderBy(F.col("saving").desc(), "p_partkey")
        .limit(25)
    )


@query(
    "stats_chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS priority, c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT priority, segment, n_obs,
             SUM(n_obs) OVER (PARTITION BY priority) AS row_tot,
             SUM(n_obs) OVER (PARTITION BY segment) AS col_tot,
             SUM(n_obs) OVER () AS n
      FROM obs
    ),
    cells AS (
      SELECT priority, segment, n_obs,
             CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
               / CAST(n AS DOUBLE) AS expected
      FROM tot
    )
    SELECT priority, segment, n_obs,
           ROUND(expected, 9) AS expected,
           ROUND((n_obs - expected) * (n_obs - expected) / expected, 9)
             AS contrib,
           ROUND(SUM((n_obs - expected) * (n_obs - expected) / expected)
                   OVER (), 6) AS chi2_total
    FROM cells
    ORDER BY priority, segment
    """,
)
def stats_chi_square_independence(spark, sf_dir):
    """Chi-square test of independence (order priority x customer
    market segment): the reference delegates analytics like this to
    ES `significant_terms`-style endpoints; here the full contingency
    table, expected counts, and per-cell contributions come from one
    fact join + one aggregate + window totals — no second pass over
    the data. Per-cell `expected` and `contrib` are a fixed IEEE
    expression over exact integer counts, so they are bit-identical
    across engines; only `chi2_total` sums 25 doubles and is rounded
    at 6 (the regr_r2 precedent) to absorb summation order."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir)
    obs = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    expected = (
        F.sum("n_obs").over(W.partitionBy("priority")).cast("double")
        * F.sum("n_obs").over(W.partitionBy("segment")).cast("double")
        / F.sum("n_obs").over(W.partitionBy()).cast("double")
    )
    cells = obs.withColumn("expected", expected)
    diff = F.col("n_obs") - F.col("expected")
    contrib = diff * diff / F.col("expected")
    return (
        cells.select(
            "priority",
            "segment",
            "n_obs",
            F.round("expected", 9).alias("expected"),
            F.round(contrib, 9).alias("contrib"),
            F.round(F.sum(contrib).over(W.partitionBy()), 6).alias(
                "chi2_total"
            ),
        )
        .orderBy("priority", "segment")
    )


@query(
    "stats_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS s,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(18,4))) AS DOUBLE) AS q
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
      GROUP BY 1
    ),
    m AS (
      SELECT flag, n, s / n AS mean,
             (q - s * s / n) / (n - 1) AS var FROM g
    ),
    w AS (
      SELECT a.n AS n_r, b.n AS n_n,
             a.mean AS mean_r, b.mean AS mean_n,
             a.var / a.n AS va, b.var / b.n AS vb
      FROM m a, m b WHERE a.flag = 'R' AND b.flag = 'N'
    )
    SELECT n_r, n_n,
           ROUND(mean_r, 6) AS mean_r,
           ROUND(mean_n, 6) AS mean_n,
           ROUND((mean_r - mean_n) / NULLIF(SQRT(va + vb), 0), 6) AS t_stat,
           ROUND((va + vb) * (va + vb)
                 / NULLIF(va * va / (n_r - 1) + vb * vb / (n_n - 1), 0), 6)
             AS welch_df
    FROM w
    """,
)
def stats_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test (returned vs normal line-item
    price): per-group n/sum/sum-of-squares in one map-side-combined
    aggregate — the 100 TB cost is exactly one scan + a 2-row shuffle
    — then the t statistic and Welch-Satterthwaite df as driver-free
    scalar expressions. Sums route through DECIMAL (2dp prices, 4dp
    squares) so the inputs to the float math are exact and identical
    across engines; the scalar IEEE expression tree is mirrored in
    the oracle verbatim."""
    t = load_tables(spark, sf_dir)
    g = (
        t["lineitem"]
        .filter(F.col("l_returnflag").isin("R", "N"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("s"),
            F.sum(
                (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("q"),
        )
        .select(
            "flag",
            "n",
            (F.col("s") / F.col("n")).alias("mean"),
            (
                (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("var"),
        )
    )
    a = g.filter(F.col("flag") == "R").select(
        F.col("n").alias("n_r"),
        F.col("mean").alias("mean_r"),
        (F.col("var") / F.col("n")).alias("va"),
    )
    b = g.filter(F.col("flag") == "N").select(
        F.col("n").alias("n_n"),
        F.col("mean").alias("mean_n"),
        (F.col("var") / F.col("n")).alias("vb"),
    )
    w = a.crossJoin(b)
    va, vb = F.col("va"), F.col("vb")
    return w.select(
        "n_r",
        "n_n",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_n", 6).alias("mean_n"),
        # NULLIF guards: zero pooled variance (degenerate constant
        # samples) must yield NULL in both engines, not an ANSI
        # DIVIDE_BY_ZERO error.
        F.round(
            (F.col("mean_r") - F.col("mean_n"))
            / F.nullif(F.sqrt(va + vb), F.lit(0.0)),
            6,
        ).alias("t_stat"),
        F.round(
            (va + vb) * (va + vb)
            / F.nullif(
                va * va / (F.col("n_r") - 1)
                + vb * vb / (F.col("n_n") - 1),
                F.lit(0.0),
            ),
            6,
        ).alias("welch_df"),
    )


@query(
    "stats_corr_matrix",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity      AS DECIMAL(18,6))) AS DOUBLE) AS s_q,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS s_p,
        CAST(SUM(CAST(l_discount      AS DECIMAL(18,6))) AS DOUBLE) AS s_d,
        CAST(SUM(CAST(l_tax           AS DECIMAL(18,6))) AS DOUBLE) AS s_t,
        CAST(SUM(CAST(l_quantity * l_quantity           AS DECIMAL(18,6))) AS DOUBLE) AS s_qq,
        CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS s_pp,
        CAST(SUM(CAST(l_discount * l_discount           AS DECIMAL(18,6))) AS DOUBLE) AS s_dd,
        CAST(SUM(CAST(l_tax * l_tax                     AS DECIMAL(18,6))) AS DOUBLE) AS s_tt,
        CAST(SUM(CAST(l_quantity * l_extendedprice      AS DECIMAL(18,6))) AS DOUBLE) AS s_qp,
        CAST(SUM(CAST(l_quantity * l_discount           AS DECIMAL(18,6))) AS DOUBLE) AS s_qd,
        CAST(SUM(CAST(l_quantity * l_tax                AS DECIMAL(18,6))) AS DOUBLE) AS s_qt,
        CAST(SUM(CAST(l_extendedprice * l_discount      AS DECIMAL(18,6))) AS DOUBLE) AS s_pd,
        CAST(SUM(CAST(l_extendedprice * l_tax           AS DECIMAL(18,6))) AS DOUBLE) AS s_pt,
        CAST(SUM(CAST(l_discount * l_tax                AS DECIMAL(18,6))) AS DOUBLE) AS s_dt
      FROM lineitem
    )
    SELECT var_x, var_y, corr FROM (
      SELECT 'discount' AS var_x, 'extendedprice' AS var_y,
        ROUND((n*s_pd - s_p*s_d)
          / NULLIF(SQRT(n*s_dd - s_d*s_d) * SQRT(n*s_pp - s_p*s_p), 0), 9) AS corr
      FROM s
      UNION ALL SELECT 'discount', 'quantity',
        ROUND((n*s_qd - s_q*s_d)
          / NULLIF(SQRT(n*s_dd - s_d*s_d) * SQRT(n*s_qq - s_q*s_q), 0), 9) FROM s
      UNION ALL SELECT 'discount', 'tax',
        ROUND((n*s_dt - s_d*s_t)
          / NULLIF(SQRT(n*s_dd - s_d*s_d) * SQRT(n*s_tt - s_t*s_t), 0), 9) FROM s
      UNION ALL SELECT 'extendedprice', 'quantity',
        ROUND((n*s_qp - s_q*s_p)
          / NULLIF(SQRT(n*s_pp - s_p*s_p) * SQRT(n*s_qq - s_q*s_q), 0), 9) FROM s
      UNION ALL SELECT 'extendedprice', 'tax',
        ROUND((n*s_pt - s_p*s_t)
          / NULLIF(SQRT(n*s_pp - s_p*s_p) * SQRT(n*s_tt - s_t*s_t), 0), 9) FROM s
      UNION ALL SELECT 'quantity', 'tax',
        ROUND((n*s_qt - s_q*s_t)
          / NULLIF(SQRT(n*s_qq - s_q*s_q) * SQRT(n*s_tt - s_t*s_t), 0), 9) FROM s
    ) ORDER BY var_x, var_y
    """,
)
def stats_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the four lineitem
    measures in ONE pass: all 14 moment sums (4 sums, 4 squares, 6
    cross-products) are exact DECIMAL aggregates computed in a single
    map-side-combined scan — the classic one-pass corr-matrix trick —
    then each coefficient is a fixed IEEE expression over those exact
    inputs, mirrored verbatim in the oracle. At 100 TB this is one
    scan and a 1-row shuffle regardless of how many measure pairs are
    requested; built-in `corr()` would cost the same scan but its
    float partials are summation-order-dependent across engines,
    which is why the moments route through DECIMAL."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    cols = {
        "q": F.col("l_quantity"),
        "p": F.col("l_extendedprice"),
        "d": F.col("l_discount"),
        "t": F.col("l_tax"),
    }
    names = {"q": "quantity", "p": "extendedprice", "d": "discount", "t": "tax"}

    def dec_sum(expr, alias):
        return F.sum(expr.cast("decimal(18,6)")).cast("double").alias(alias)

    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [dec_sum(c, f"s_{k}") for k, c in cols.items()]
    aggs += [dec_sum(c * c, f"s_{k}{k}") for k, c in cols.items()]
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]
    aggs += [dec_sum(cols[a] * cols[b], f"s_{a}{b}") for a, b in pairs]
    s = li.agg(*aggs)

    n = F.col("n")

    # build the 6 pair rows; var_x/var_y in lexicographic order
    out = []
    for a, b in pairs:
        sxy = F.col(f"s_{a}{b}")
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        saa, sbb = F.col(f"s_{a}{a}"), F.col(f"s_{b}{b}")
        x, y = sorted([names[a], names[b]])
        # keep the numerator orientation identical to the oracle:
        # (n*sxy - sx*sy) with x=the lexicographically-first variable
        if x == names[a]:
            num = n * sxy - sa * sb
            den = F.nullif(
                F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb),
                F.lit(0.0),
            )
        else:
            num = n * sxy - sb * sa
            den = F.nullif(
                F.sqrt(n * sbb - sb * sb) * F.sqrt(n * saa - sa * sa),
                F.lit(0.0),
            )
        out.append(
            s.select(
                F.lit(x).alias("var_x"),
                F.lit(y).alias("var_y"),
                F.round(num / den, 9).alias("corr"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res.orderBy("var_x", "var_y")


# Pooled two-sample price ECDF (returned vs normal): ONE fragment
# shared by the KS and Mann-Whitney oracles so the two tests can
# never disagree on the sample or the cumulative definition.
_PRICE_ECDF_SQL = """counts AS (
      SELECT l_extendedprice AS v,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_r, CAST(SUM(cb) AS BIGINT) AS n_n
      FROM counts
    ),
    cum AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM counts
    )"""


def pooled_price_cum(spark, sf_dir):
    """Spark twin of _PRICE_ECDF_SQL: per-distinct-value two-sample
    counts with exact pooled cumulatives, built on the ONE shared
    bucketed-prefix-sum definition (`windows.bucketed_cum` — the
    round-6 generalization of the fragment that used to live inline
    here): per-value windows run inside price-range buckets
    (floor(v) div 100: bounded by the value DOMAIN, not the data
    volume) and the only empty-partition window is over the ~1k
    bucket totals. Returns (cum_frame[v, ca, cb, cuma, cumb],
    totals_frame)."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_returnflag").isin("R", "N")
    )
    counts = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
        .withColumn("bucket", F.expr("cast(floor(v) as bigint) div 100"))
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("n_r"),
        F.sum("cb").cast("bigint").alias("n_n"),
    )
    cum = bucketed_cum(counts, "v", "bucket", ["ca", "cb"]).select(
        "v",
        "ca",
        "cb",
        F.col("ca_cum").alias("cuma"),
        F.col("cb_cum").alias("cumb"),
    )
    return cum, tot


@query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH {_PRICE_ECDF_SQL},
    d AS (
      SELECT MAX(ABS(CAST(cuma AS DECIMAL(19,0)) * (SELECT n_n FROM tot)
                   - CAST(cumb AS DECIMAL(19,0)) * (SELECT n_r FROM tot)))
               AS d_num
      FROM cum
    )
    SELECT n_r, n_n, CAST(d_num AS BIGINT) AS d_num,
           ROUND(CAST(d_num AS DOUBLE)
                 / NULLIF(CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE), 0), 9)
             AS d_stat,
           ROUND(1.358 * SQRT((CAST(n_r AS DOUBLE) + CAST(n_n AS DOUBLE))
                 / NULLIF(CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE), 0)), 9)
             AS crit_005,
           (CAST(d_num AS DOUBLE)
                 / NULLIF(CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE), 0)
            > 1.358 * SQRT((CAST(n_r AS DOUBLE) + CAST(n_n AS DOUBLE))
                 / NULLIF(CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE), 0)))
             AS reject_005
    FROM tot, d
    """,
)
def stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test (returned vs normal price
    DISTRIBUTIONS — the shape-sensitive complement of
    `stats_welch_ttest`'s mean test). The D statistic is computed in
    EXACT integer arithmetic: D·n_r·n_n = max over pooled values of
    |cumA·n_n − cumB·n_r| (DECIMAL(19,0) products, overflow-proof at
    100 TB counts); floats appear only at the output edge with the
    oracle-mirrored expression. ECDF cumulatives come from the shared
    `pooled_price_cum` distributed-prefix-sum frame."""
    cum, tot = pooled_price_cum(spark, sf_dir)
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(
                F.col("cuma").cast("decimal(19,0)") * F.col("n_n")
                - F.col("cumb").cast("decimal(19,0)") * F.col("n_r")
            )
        ).alias("d_num")
    )
    nr, nn = F.col("n_r").cast("double"), F.col("n_n").cast("double")
    # NULLIF guard: an empty sample (n=0) yields NULL, not an ANSI
    # DIVIDE_BY_ZERO error — mirrored in the oracle.
    nrnn = F.nullif(nr * nn, F.lit(0.0))
    d_stat = F.col("d_num").cast("double") / nrnn
    crit = 1.358 * F.sqrt((nr + nn) / nrnn)
    return tot.crossJoin(F.broadcast(d)).select(
        "n_r",
        "n_n",
        F.col("d_num").cast("bigint").alias("d_num"),
        F.round(d_stat, 9).alias("d_stat"),
        F.round(crit, 9).alias("crit_005"),
        (d_stat > crit).alias("reject_005"),
    )


@query(
    "stats_mann_whitney_u",
    oracle=f"""
    WITH {_PRICE_ECDF_SQL},
    ranksum AS (
      SELECT
        CAST(SUM(CAST(ca AS DECIMAL(19,0))
                 * (2 * ((cuma - ca) + (cumb - cb)) + (ca + cb) + 1))
             AS DECIMAL(38,0)) AS r2,
        CAST(SUM(CAST(ca + cb AS DECIMAL(19,0)) * (ca + cb) * (ca + cb)
                 - (ca + cb)) AS DECIMAL(38,0)) AS ties
      FROM cum
    ),
    u AS (
      SELECT n_r, n_n,
             r2 - CAST(n_r AS DECIMAL(19,0)) * (n_r + 1) AS u2,
             ties
      FROM tot, ranksum
    )
    SELECT n_r, n_n,
           ROUND(CAST(u2 AS DOUBLE) / 2, 1) AS u_stat,
           ROUND((CAST(u2 AS DOUBLE) - CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE))
             / NULLIF(2 * SQRT((CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE) / 12)
                * ((CAST(n_r AS DOUBLE) + CAST(n_n AS DOUBLE) + 1)
                   - CAST(ties AS DOUBLE)
                     / ((CAST(n_r AS DOUBLE) + CAST(n_n AS DOUBLE))
                        * (CAST(n_r AS DOUBLE) + CAST(n_n AS DOUBLE) - 1)))),
               0),
             6) AS z_score
    FROM u
    """,
)
def stats_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) test on the same two price
    samples — the nonparametric companion to `stats_welch_ttest`
    (rank-based, so immune to the heavy right tail that a t-test on
    prices technically assumes away). Average ranks with ties are
    computed DOUBLED so everything stays integral: 2·R_A =
    Σ ca·(2·c_prev + t + 1) over the shared ECDF frame
    (`_PRICE_ECDF_SQL` / `pooled_price_cum` — the KS test reads the
    identical cumulative definition), with DECIMAL(38,0) products
    that survive 100 TB counts; the tie-corrected normal
    approximation z is a fixed IEEE tree over those exact integers,
    mirrored verbatim in the oracle. u_stat carries an exact .5 grain
    (u2 is integral), so ROUND(...,1) is lossless."""
    cum, tot = pooled_price_cum(spark, sf_dir)
    t = F.col("ca") + F.col("cb")
    c_prev = (F.col("cuma") - F.col("ca")) + (F.col("cumb") - F.col("cb"))
    ranksum = cum.agg(
        F.sum(
            F.col("ca").cast("decimal(19,0)") * (2 * c_prev + t + 1)
        )
        .cast("decimal(38,0)")
        .alias("r2"),
        F.sum(t.cast("decimal(19,0)") * t * t - t)
        .cast("decimal(38,0)")
        .alias("ties"),
    )
    u = tot.crossJoin(F.broadcast(ranksum)).select(
        "n_r",
        "n_n",
        (
            F.col("r2")
            - F.col("n_r").cast("decimal(19,0)") * (F.col("n_r") + 1)
        ).alias("u2"),
        "ties",
    )
    nr, nn = F.col("n_r").cast("double"), F.col("n_n").cast("double")
    # NULLIF guard: sigma is zero when every pooled value ties —
    # NULL in both engines rather than an ANSI DIVIDE_BY_ZERO.
    z = (F.col("u2").cast("double") - nr * nn) / F.nullif(
        2
        * F.sqrt(
            (nr * nn / 12)
            * (
                (nr + nn + 1)
                - F.col("ties").cast("double") / ((nr + nn) * (nr + nn - 1))
            )
        ),
        F.lit(0.0),
    )
    return u.select(
        "n_r",
        "n_n",
        F.round(F.col("u2").cast("double") / 2, 1).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS u_g,
             CAST(SUM(CAST(FLOOR(value * value * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS w_g
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(u_g) AS BIGINT) AS s100,
             CAST(SUM(w_g) AS BIGINT) AS q10k,
             list_reduce(
               list(CAST(u_g AS DOUBLE) * CAST(u_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE)
                    ORDER BY event_type NULLS FIRST),
               (a, b) -> a + b) AS sqn4
      FROM g
    )
    SELECT n, k,
           (sqn4 - CAST(s100 AS DOUBLE) * CAST(s100 AS DOUBLE)
                   / CAST(n AS DOUBLE)) / 10000.0 AS ss_between,
           (CAST(q10k AS DOUBLE) - sqn4) / 10000.0 AS ss_within,
           ((sqn4 - CAST(s100 AS DOUBLE) * CAST(s100 AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
           / NULLIF((CAST(q10k AS DOUBLE) - sqn4)
                    / CAST(n - k AS DOUBLE), 0) AS f_stat
    FROM tot
    """,
)
def stats_anova_oneway(spark, sf_dir):
    """One-way ANOVA F test (event value across the five event
    types) — completes the classical-inference set (t / KS / U / chi2
    / F) the reference would delegate to an external stats stack.

    Exactness design (reworked after the 10x-replica sweep): the
    original kept per-group (Σx, Σx²) as DECIMALs and summed the five
    s_g²/n_g terms with an ORDER-UNSPECIFIED float SUM — at 10x the
    data that order-dependence, amplified by the between-groups
    cancellation, drifted past the ROUND(6) grain. Now every moment is
    an exact BIGINT on the value grid (values are 2-decimal-grid by
    the data canary, so x·100 and x²·10⁴ floor-recover exactly), the
    group count and totals reduce order-free in integer arithmetic,
    and the ONE remaining float reduction — the five u_g²/n_g terms —
    is an event-type-ORDERED left fold (sort_array+aggregate here,
    list(ORDER BY ... NULLS FIRST)+list_reduce in DuckDB; sort_array
    is NULLS FIRST by definition while DuckDB's ORDER BY defaults to
    NULLS LAST, so the oracle pins NULLS FIRST explicitly — a future
    NULL event_type group keeps the fold order identical,
    tests/test_round9_adversarial.py pins it; the engines' fold trees
    agree because x+0.0 == x for the positive terms). Every double op
    is then a fixed IEEE tree over int64→double conversions, which are
    hardware-rounded identically — no decimal/int128 software cast
    anywhere. The outputs are deliberately UNROUNDED (allowlisted in
    _UNROUNDED_FLOAT_ALLOW): the 100x replica showed ROUND(x, 6)
    itself diverges once |x|·10^6 passes 2^53 (Spark's BigDecimal is
    correctly rounded; DuckDB scales in double) — the fixed tree is
    bit-identical without it. Envelopes: Σ(x²·10⁴) per group < 2^63
    (≈3.7e9 rows/group at the fixture's value range); u_g² is squared
    in double (exact operands, identical rounding). Zero
    within-variance degenerates to NULL, not an ANSI error."""
    t = load_tables(spark, sf_dir)
    g = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("u_g"),
            F.sum(
                F.floor(
                    F.col("value") * F.col("value") * 10000 + F.lit(0.5)
                ).cast("bigint")
            ).alias("w_g"),
        )
    )
    term = (
        F.col("u_g").cast("double")
        * F.col("u_g").cast("double")
        / F.col("n_g").cast("double")
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("u_g").cast("bigint").alias("s100"),
        F.sum("w_g").cast("bigint").alias("q10k"),
        F.collect_list(
            F.struct(F.col("event_type").alias("t"), term.alias("v"))
        ).alias("terms"),
    ).select(
        "n",
        "k",
        "s100",
        "q10k",
        F.aggregate(
            F.sort_array(F.col("terms")),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("sqn4"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s100").cast("double")
    b4 = F.col("sqn4") - s_d * s_d / n_d
    w4 = F.col("q10k").cast("double") - F.col("sqn4")
    return tot.select(
        "n",
        "k",
        (b4 / 10000.0).alias("ss_between"),
        (w4 / 10000.0).alias("ss_within"),
        (
            (b4 / (F.col("k") - 1).cast("double"))
            / F.nullif(w4 / (F.col("n") - F.col("k")).cast("double"), F.lit(0.0))
        ).alias("f_stat"),
    )


@query(
    "dq_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           ROUND(n / CAST((SELECT total FROM tot) AS DOUBLE), 9)
             AS observed_share,
           ROUND(LOG10(1 + 1.0 / digit), 9) AS benford_share,
           ROUND(ABS(n / CAST((SELECT total FROM tot) AS DOUBLE)
                     - LOG10(1 + 1.0 / digit)), 9) AS abs_dev
    FROM counts
    ORDER BY digit
    """,
)
def dq_benford_first_digit(spark, sf_dir):
    """Benford's-law first-significant-digit audit of order totals —
    the classic fabricated-data / ingestion-corruption screen (a feed
    that pads or truncates amounts jumps straight out of the digit
    histogram). Digit extraction stays INTEGER all the way: 2dp money
    → exact cents via DECIMAL → BIGINT → first character of the
    integer's decimal rendering (identical in every engine — no
    float log10 on the data path; log10 appears only applied to the
    digit constants 1..9). One scan, 9-row output."""
    t = load_tables(spark, sf_dir)
    digit = F.substring(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .cast("string"),
        1,
        1,
    ).cast("int")
    counts = (
        t["orders"]
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    share = F.col("n") / F.col("total").cast("double")
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(share, 9).alias("observed_share"),
            F.round(benford, 9).alias("benford_share"),
            F.round(F.abs(share - benford), 9).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "customer_pareto_threshold",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS r
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(r) AS DECIMAL(38,2)) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM rev
    ),
    ranked AS (
      SELECT r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey) AS cum,
             ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS rk
      FROM rev
    ),
    hit AS (
      SELECT CAST(MIN(rk) AS BIGINT) AS k80
      FROM ranked, tot WHERE cum * 5 >= total * 4
    )
    SELECT n_cust, k80,
           ROUND(CAST(k80 AS DOUBLE) / CAST(n_cust AS DOUBLE), 9)
             AS top_share_of_customers,
           CAST(total AS DOUBLE) AS total_revenue
    FROM tot, hit
    """,
)
def customer_pareto_threshold(spark, sf_dir):
    """Pareto 80/20 concentration: the smallest k such that the top-k
    customers (by DECIMAL-exact revenue, custkey tie-break) carry at
    least 80% of total revenue — the complement of
    `customer_value_gini`'s integral view. The 80% crossing is the
    repo's thresholds-as-integers discipline: `cum·5 >= total·4` on
    exact decimals, never a float ratio compare. The revenue ranking
    reuses the distributed-sortable shape (customer-sized frame, one
    window); only k and the share are emitted."""
    from pyspark.sql import Window as W

    rev = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("r")
        )
    )
    tot = rev.agg(
        F.sum("r").cast("decimal(38,2)").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
    )
    # descending cumulative revenue via the bucketed distributed
    # prefix sum (revenue-band buckets; only the band totals cross a
    # single partition) — a global desc window over every customer
    # would single-partition the whole customer dimension at scale.
    banded = rev.withColumn(
        "bucket", F.floor(F.col("r").cast("double") / 100000).cast("bigint")
    )
    win_in = (
        W.partitionBy("bucket")
        .orderBy(F.col("r").desc(), "o_custkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    within = banded.select(
        "bucket",
        F.sum("r").over(win_in).alias("cum_in"),
        F.count(F.lit(1)).over(win_in).alias("rn_in"),
    )
    btot = banded.groupBy("bucket").agg(
        F.sum("r").alias("br"), F.count(F.lit(1)).alias("bn")
    )
    win_b = W.orderBy(F.col("bucket").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("br").over(win_b), F.lit(0)).alias("off_r"),
        F.coalesce(F.sum("bn").over(win_b), F.lit(0)).alias("off_n"),
    )
    ranked = within.join(F.broadcast(offsets), "bucket").select(
        (F.col("off_r") + F.col("cum_in")).alias("cum"),
        (F.col("off_n") + F.col("rn_in")).alias("rk"),
    )
    hit = ranked.crossJoin(F.broadcast(tot)).filter(
        F.col("cum") * 5 >= F.col("total") * 4
    ).agg(F.min("rk").cast("bigint").alias("k80"))
    return tot.crossJoin(F.broadcast(hit)).select(
        "n_cust",
        "k80",
        F.round(
            F.col("k80").cast("double") / F.col("n_cust").cast("double"), 9
        ).alias("top_share_of_customers"),
        F.col("total").cast("double").alias("total_revenue"),
    )


def _spearman_rank_sql(col: str) -> str:
    """Doubled tie-averaged ranks for one variable: per distinct
    value, 2·avgrank = 2·c_prev + t + 1 (exact integers)."""
    return f"""(
      SELECT v, 2 * (cum - t) + t + 1 AS r2 FROM (
        SELECT v, t, SUM(t) OVER (ORDER BY v) AS cum FROM (
          SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS t
          FROM lineitem GROUP BY 1
        )
      )
    )"""


@query(
    "stats_spearman_rank",
    oracle=f"""
    WITH rx AS {_spearman_rank_sql('l_quantity')},
    ry AS {_spearman_rank_sql('l_extendedprice')},
    joined AS (
      SELECT CAST(x.r2 AS DECIMAL(19,0)) AS a, CAST(y.r2 AS DECIMAL(19,0)) AS b
      FROM lineitem li
      JOIN rx x ON x.v = li.l_quantity
      JOIN ry y ON y.v = li.l_extendedprice
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(a) AS DOUBLE) AS sa,
             CAST(SUM(b) AS DOUBLE) AS sb,
             CAST(SUM(a * a) AS DOUBLE) AS saa,
             CAST(SUM(b * b) AS DOUBLE) AS sbb,
             CAST(SUM(a * b) AS DOUBLE) AS sab
      FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sab - sa * sb)
                 / NULLIF(SQRT(n * saa - sa * sa)
                          * SQRT(n * sbb - sb * sb), 0), 9) AS spearman_rho
    FROM m
    """,
)
def stats_spearman_rank(spark, sf_dir):
    """Spearman rank correlation (quantity vs price): Pearson on
    tie-AVERAGED ranks, with ranks DOUBLED so the .5 tie grain stays
    integral end to end (2·avgrank = 2·c_prev + t + 1 over each
    variable's value-count cumulative — the Mann-Whitney move applied
    to correlation). Rank moments route through DECIMAL(19,0)²
    products; ρ is the mirrored fixed IEEE tree with a NULLIF
    degenerate guard. The quantity side has ~50 distinct values and
    heavy ties — exactly what the average-rank formula must handle —
    while the price side joins back by value through a shuffle keyed
    on the value itself. One scan per variable plus one fact join."""
    from pyspark.sql import Window as W

    li = load_tables(spark, sf_dir)["lineitem"]

    def ranks(col):
        # ONE shared bucketed-prefix-sum definition (windows.
        # bucketed_cum — the round-6 generalization of this very
        # fragment): the cumulative over distinct VALUES never runs
        # a data-sized single-partition window.
        from elastic_freight_spark.operators.windows import bucketed_cum

        counts = (
            li.groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
            .withColumn("bucket", F.expr("cast(floor(v) as bigint) div 100"))
        )
        cum = bucketed_cum(counts, "v", "bucket", ["t"])
        return cum.select(
            "v",
            (2 * (F.col("t_cum") - F.col("t")) + F.col("t") + 1).alias("r2"),
        )

    rx = ranks("l_quantity")
    ry = ranks("l_extendedprice")
    joined = (
        li.select("l_quantity", "l_extendedprice")
        .join(
            F.broadcast(rx.withColumnRenamed("r2", "a")),
            F.col("v") == F.col("l_quantity"),
        )
        .drop("v")
        .join(
            ry.withColumnRenamed("r2", "b"),
            F.col("v") == F.col("l_extendedprice"),
        )
        .select(
            F.col("a").cast("decimal(19,0)").alias("a"),
            F.col("b").cast("decimal(19,0)").alias("b"),
        )
    )
    m = joined.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    rho = (n * sab - sa * sb) / F.nullif(
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb), F.lit(0.0)
    )
    return m.select(
        n.cast("bigint").alias("n_rows"),
        F.round(rho, 9).alias("spearman_rho"),
    )


_BOOTSTRAP_B = 16
# Poisson(1) pmf folded onto one md5 byte (0..255): P(w=0)=.368 →
# first 94 values, P(w<=1)=.736 → 188, then 235, 251, 255, else 5.
# Integer thresholds so replicate weights are exact in any engine.
_POISSON_CUTS = (94, 188, 235, 251, 255)


def _bootstrap_weight_sql(b: int) -> str:
    """Replicate b's per-row Poisson weight: byte 2b..2b+1 of ONE
    md5 of the row key (16 bytes = 16 replicates per digest), folded
    through the integer pmf cuts. Identical text runs in both
    engines."""
    h = "md5(concat('bs:', CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING)))"
    byte = (
        f"(instr('0123456789abcdef', substr({h}, {2 * b + 1}, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr({h}, {2 * b + 2}, 1)) - 1)"
    )
    c = _POISSON_CUTS
    return (
        f"CASE WHEN {byte} < {c[0]} THEN 0 WHEN {byte} < {c[1]} THEN 1 "
        f"WHEN {byte} < {c[2]} THEN 2 WHEN {byte} < {c[3]} THEN 3 "
        f"WHEN {byte} < {c[4]} THEN 4 ELSE 5 END"
    )


def _bootstrap_oracle() -> str:
    reps = []
    for b in range(_BOOTSTRAP_B):
        w = _bootstrap_weight_sql(b)
        reps.append(
            f"""
      SELECT {b} AS b,
             CAST(SUM(CAST({w} * CAST(l_extendedprice AS DECIMAL(18,2))
                           * 100 AS DECIMAL(18,0))) AS DOUBLE) / 100
               / NULLIF(CAST(SUM({w}) AS DOUBLE), 0) AS mean_b
      FROM lineitem"""
        )
    arms = "\n      UNION ALL".join(reps)
    return f"""
    WITH reps AS MATERIALIZED ({arms}),
    ci AS (SELECT MIN(mean_b) AS ci_lo_raw, MAX(mean_b) AS ci_hi_raw
           FROM reps),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS mean_full
      FROM lineitem
    )
    SELECT n, ROUND(mean_full, 6) AS mean_full,
           ROUND(ci_lo_raw, 6) AS ci_lo,
           ROUND(ci_hi_raw, 6) AS ci_hi,
           {_BOOTSTRAP_B} AS n_replicates
    FROM base, ci
    """


@query("stats_bootstrap_ci", oracle=_bootstrap_oracle())
def stats_bootstrap_ci(spark, sf_dir):
    """Deterministic POISSON bootstrap (Chamandy et al., the standard
    single-pass distributed bootstrap): 16 replicates reweight every
    row by a Poisson(1) draw carved out of ONE md5 of the row key
    (byte 2b of the digest → integer pmf cuts), so the resample is a
    pure function of the key — reproducible across engines,
    partitionings, and reruns — and the min/max replicate means bound
    a ~94% CI for the mean price. ALL replicate sums come out of ONE
    scan. Engineering notes (all measured at sf0.1): the weight
    derivation is STAGED through two projections (digest → weights,
    one conv()+CASE per replicate) because inlining the md5 into
    every CASE branch re-evaluates it up to 10× per weight — and the
    earlier 3-stage instr/substr + threshold-cast decode (112
    expressions) ran 4× slower than conv+CASE (round 11, measured
    16.4 → 4.2 s at sf0.1, bit-identical weights); money flows as exact
    integer CENTS with DECIMAL(18,0)-checked sums — precision-18
    decimals stay on Spark's compact-long accumulator path while a
    per-row DECIMAL multiply costs a BigDecimal allocation each; and
    B=16 fits one digest, halving expression cost vs B=32 for a CI
    band difference that is noise at any real n."""
    li = load_tables(spark, sf_dir)["lineitem"]
    cuts = _POISSON_CUTS
    base = li.select(
        F.expr(
            "cast(cast(l_extendedprice as decimal(18,2)) * 100 as long)"
        ).alias("cents"),
        F.md5(
            F.concat(
                F.lit("bs:"),
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
    )

    # round 11: byte decode via ONE conv() per replicate + the CASE
    # pmf (the exact oracle text), replacing 2 instr/substr probes +
    # 5 threshold casts per replicate — the 112-expression projection
    # chain pushed the generated code past the JIT's happy path and
    # the weights stage measured 16.4 s at sf0.1; conv+CASE measures
    # 4.2 s with bit-identical weights (verified: 0 mismatching rows
    # against the old decode over every sf0.1 digest). Still ONE
    # md5 per row: h is staged in `base`, and CollapseProject keeps
    # the 16-reference consumer from inlining the digest.
    def casew(x):
        return (
            f"CASE WHEN {x} < {cuts[0]} THEN 0 WHEN {x} < {cuts[1]} THEN 1 "
            f"WHEN {x} < {cuts[2]} THEN 2 WHEN {x} < {cuts[3]} THEN 3 "
            f"WHEN {x} < {cuts[4]} THEN 4 ELSE 5 END"
        )

    ww = base.select(
        "cents",
        *[
            F.expr(
                casew(f"cast(conv(substr(h, {2 * b + 1}, 2), 16, 10) as int)")
            ).alias(f"w{b}")
            for b in range(_BOOTSTRAP_B)
        ],
    )
    aggs = []
    for b in range(_BOOTSTRAP_B):
        aggs.append(
            F.sum(F.expr(f"cast(w{b} * cents as decimal(18,0))")).alias(
                f"s{b}"
            )
        )
        aggs.append(F.sum(f"w{b}").cast("bigint").alias(f"c{b}"))
    m = ww.agg(*aggs)
    mean_cols = [
        (
            F.col(f"s{b}").cast("double") / 100
            / F.nullif(F.col(f"c{b}").cast("double"), F.lit(0.0))
        )
        for b in range(_BOOTSTRAP_B)
    ]
    means = F.array_sort(F.array(*mean_cols))
    ci = m.select(
        F.element_at(means, 1).alias("ci_lo_raw"),
        F.element_at(means, _BOOTSTRAP_B).alias("ci_hi_raw"),
    )
    baseagg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_full"),
    )
    return baseagg.crossJoin(F.broadcast(ci)).select(
        "n",
        F.round("mean_full", 6).alias("mean_full"),
        F.round("ci_lo_raw", 6).alias("ci_lo"),
        F.round("ci_hi_raw", 6).alias("ci_hi"),
        F.lit(_BOOTSTRAP_B).alias("n_replicates"),
    )


@query(
    "dq_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM customer
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n_rows FROM cells)
    SELECT
      CAST((SELECT n_rows FROM tot) AS BIGINT) AS n_rows,
      CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST(MIN(k) AS BIGINT) AS min_k,
      CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_unique_cells,
      CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        AS n_rows_below_k5,
      ROUND(SUM(CASE WHEN k < 5 THEN k ELSE 0 END)
            / CAST((SELECT n_rows FROM tot) AS DOUBLE), 9)
        AS share_below_k5
    FROM cells
    """,
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, account-balance band): how many equivalence
    classes exist, the worst-case k, how many individuals sit in
    singleton cells (directly re-identifiable), and the share of rows
    below the conventional k=5 release threshold — the privacy gate a
    data-release pipeline runs BEFORE exporting "anonymized"
    training data. Everything is integer counts off one hash
    aggregate; the balance band floors an identical IEEE quotient in
    both engines, so the cell definition is engine-exact. At 100 TB: one map-side-combined
    groupBy on the QI tuple, then a cells-sized rollup."""
    t = load_tables(spark, sf_dir)
    cells = (
        t["customer"]
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
                "bal_band"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    tot = cells.agg(F.sum("k").cast("bigint").alias("n_rows"))
    below5 = F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
    return cells.crossJoin(F.broadcast(tot)).agg(
        F.first("n_rows").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unique_cells"),
        below5.cast("bigint").alias("n_rows_below_k5"),
        F.round(
            below5 / F.first("n_rows").cast("double"), 9
        ).alias("share_below_k5"),
    )


@query(
    "agg_percentile_ranks",
    oracle="""
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem)
    SELECT v AS threshold,
           CAST(below AS BIGINT) AS n_below,
           ROUND(below / CAST((SELECT n FROM tot) AS DOUBLE), 9)
             AS percentile_rank
    FROM (
      SELECT 1000.0 AS v,
             SUM(CASE WHEN l_extendedprice <= 1000.0 THEN 1 ELSE 0 END)
               AS below FROM lineitem
      UNION ALL SELECT 5000.0,
             SUM(CASE WHEN l_extendedprice <= 5000.0 THEN 1 ELSE 0 END)
        FROM lineitem
      UNION ALL SELECT 20000.0,
             SUM(CASE WHEN l_extendedprice <= 20000.0 THEN 1 ELSE 0 END)
        FROM lineitem
      UNION ALL SELECT 50000.0,
             SUM(CASE WHEN l_extendedprice <= 50000.0 THEN 1 ELSE 0 END)
        FROM lineitem
    )
    ORDER BY threshold
    """,
)
def agg_percentile_ranks(spark, sf_dir):
    """ES `percentile_ranks` aggregation — the INVERSE of
    `agg_percentiles`: given value thresholds, what fraction of the
    distribution sits at or below each (CDF point evaluation). All
    four thresholds come out of ONE conditional-sum pass (map-side
    combined), integer counts divided once at the edge — where ES
    answers this from a t-digest approximately, the engine's exact
    answer costs the same single scan."""
    li = load_tables(spark, sf_dir)["lineitem"]
    thresholds = [1000.0, 5000.0, 20000.0, 50000.0]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")] + [
        F.sum(
            F.when(F.col("l_extendedprice") <= t, 1).otherwise(0)
        )
        .cast("bigint")
        .alias(f"b{i}")
        for i, t in enumerate(thresholds)
    ]
    m = li.agg(*aggs)
    rows = [
        m.select(
            F.lit(t).alias("threshold"),
            F.col(f"b{i}").alias("n_below"),
            F.round(
                F.col(f"b{i}") / F.col("n").cast("double"), 9
            ).alias("percentile_rank"),
        )
        for i, t in enumerate(thresholds)
    ]
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res.orderBy("threshold")


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2)))
                AS DOUBLE)
             / NULLIF(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                AS DOUBLE), 0) AS wavg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS total_weight
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_weighted_avg(spark, sf_dir):
    """ES `weighted_avg` aggregation: quantity-weighted mean unit
    price per return flag — both the weighted numerator and the
    weight mass ride DECIMAL so the division is one flop over exact
    inputs (a float-sum weighted average diverges across engines in
    the last digits; this one cannot). One map-side-combined pass."""
    li = load_tables(spark, sf_dir)["lineitem"]
    num = F.sum(
        (F.col("l_extendedprice") * F.col("l_quantity")).cast(
            "decimal(18,2)"
        )
    ).cast("double")
    den = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (num / F.nullif(den, F.lit(0.0))).alias("wavg_price"),
            den.alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_boxplot",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag AS g,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS vc,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, vc, c,
             SUM(c) OVER (PARTITION BY g ORDER BY vc) AS cum
      FROM counts
    ),
    n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    ranks AS (
      SELECT g,
             (n - 1) // 4 + 1 AS r1lo, (n - 1) // 4 + 2 AS r1hi,
             (n - 1) % 4 AS g1,
             (n - 1) // 2 + 1 AS r2lo, (n - 1) // 2 + 2 AS r2hi,
             ((n - 1) % 2) * 2 AS g2,
             (3 * (n - 1)) // 4 + 1 AS r3lo, (3 * (n - 1)) // 4 + 2 AS r3hi,
             (3 * (n - 1)) % 4 AS g3
      FROM n
    ),
    vat AS (
      SELECT c.g,
        MIN(CASE WHEN c.cum >= r.r1lo AND c.cum - c.c < r.r1lo THEN c.vc END) AS v1lo,
        MIN(CASE WHEN c.cum >= r.r1hi AND c.cum - c.c < r.r1hi THEN c.vc END) AS v1hi,
        MIN(CASE WHEN c.cum >= r.r2lo AND c.cum - c.c < r.r2lo THEN c.vc END) AS v2lo,
        MIN(CASE WHEN c.cum >= r.r2hi AND c.cum - c.c < r.r2hi THEN c.vc END) AS v2hi,
        MIN(CASE WHEN c.cum >= r.r3lo AND c.cum - c.c < r.r3lo THEN c.vc END) AS v3lo,
        MIN(CASE WHEN c.cum >= r.r3hi AND c.cum - c.c < r.r3hi THEN c.vc END) AS v3hi
      FROM cum c JOIN ranks r ON c.g = r.g GROUP BY c.g
    ),
    q AS (
      SELECT v.g,
             4 * v.v1lo + r.g1 * (COALESCE(v.v1hi, v.v1lo) - v.v1lo) AS q1_qc,
             4 * v.v2lo + r.g2 * (COALESCE(v.v2hi, v.v2lo) - v.v2lo) AS med_qc,
             4 * v.v3lo + r.g3 * (COALESCE(v.v3hi, v.v3lo) - v.v3lo) AS q3_qc
      FROM vat v JOIN ranks r ON v.g = r.g
    ),
    f AS (
      SELECT g, q1_qc, med_qc, q3_qc, q3_qc - q1_qc AS iqr_qc,
             2 * q1_qc - 3 * (q3_qc - q1_qc) AS lo_oc,
             2 * q3_qc + 3 * (q3_qc - q1_qc) AS hi_oc
      FROM q
    )
    SELECT f.g AS l_returnflag,
           ROUND(CAST(f.q1_qc AS DOUBLE) / 400, 6) AS q1,
           ROUND(CAST(f.med_qc AS DOUBLE) / 400, 6) AS median,
           ROUND(CAST(f.q3_qc AS DOUBLE) / 400, 6) AS q3,
           ROUND(CAST(f.iqr_qc AS DOUBLE) / 400, 6) AS iqr,
           ROUND(CAST(f.lo_oc AS DOUBLE) / 800, 6) AS lo_fence,
           ROUND(CAST(f.hi_oc AS DOUBLE) / 800, 6) AS hi_fence,
           CAST(SUM(CASE WHEN c.vc * 8 < f.lo_oc OR c.vc * 8 > f.hi_oc
                    THEN c.c ELSE 0 END) AS BIGINT) AS n_outliers
    FROM f JOIN counts c ON c.g = f.g
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    ORDER BY 1
    """,
)
def agg_boxplot(spark, sf_dir):
    """ES `boxplot` aggregation, exact AND engine-independent: Tukey
    quartiles/fences computed in INTEGER sub-cent units so nothing
    depends on two engines' float interpolation agreeing bit-for-bit
    (the round-5 advice finding). Prices are 2-dp values, so linear
    (R-7) quartiles have an exact quarter-cent grain and 1.5·IQR
    fences an exact eighth-cent grain: both sides select the two
    neighbor values at rank floor(p·(n−1))+1(+2) from the per-group
    integer-cent ECDF and interpolate with integer arithmetic
    (qc = 4·v_lo + frac4·(v_hi − v_lo)); the outlier comparison is a
    pure integer compare (vc·8 vs fence) and the reported doubles are
    the SAME division expression on both sides. Scale shape: one
    groupBy-(flag, cents) scan; the per-group cumulative rides the
    bucketed distributed prefix-sum (`windows.bucketed_cum`,
    price-domain buckets); rank selection and the outlier count are
    aggregates over the distinct-value frame — the raw table is
    touched once and no Window ever sees a data-sized partition."""
    from elastic_freight_spark.operators.windows import bucketed_cum

    li = load_tables(spark, sf_dir)["lineitem"]
    counts = (
        li.groupBy(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("vc"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("b", F.expr("vc div 10000"))
        # the ECDF/ranks/outlier stages each re-instantiate this frame
        # (5 plan branches): one executor-local materialization of the
        # bounded distinct-(flag, cents) frame replaces 5 fact scans.
        # Trade-off: localCheckpoint truncates lineage, so losing an
        # executor that holds checkpointed blocks fails the job instead
        # of recomputing — acceptable for this run-once report query;
        # long-lived pipelines should prefer reliable checkpoint().
        # Measured (round 7, sf0.1 warm ×3): dropping this in favor of
        # AQE exchange reuse plans ZERO ReusedExchange nodes (the five
        # branches diverge before the exchange) and runs ~10% slower.
        .localCheckpoint(eager=False)
    )
    cum = bucketed_cum(counts, "vc", "b", ["c"], grp_cols=["g"])
    n = counts.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    ranks = n.select(
        "g",
        F.expr("(n - 1) div 4 + 1").alias("r1lo"),
        F.expr("(n - 1) div 4 + 2").alias("r1hi"),
        F.expr("(n - 1) % 4").alias("g1"),
        F.expr("(n - 1) div 2 + 1").alias("r2lo"),
        F.expr("(n - 1) div 2 + 2").alias("r2hi"),
        F.expr("((n - 1) % 2) * 2").alias("g2"),
        F.expr("(3 * (n - 1)) div 4 + 1").alias("r3lo"),
        F.expr("(3 * (n - 1)) div 4 + 2").alias("r3hi"),
        F.expr("(3 * (n - 1)) % 4").alias("g3"),
    )

    def at(rcol):
        hit = (F.col("c_cum") >= F.col(rcol)) & (
            F.col("c_cum") - F.col("c") < F.col(rcol)
        )
        return F.min(F.when(hit, F.col("vc")))

    vat = (
        cum.join(F.broadcast(ranks), "g")
        .groupBy("g")
        .agg(
            at("r1lo").alias("v1lo"),
            at("r1hi").alias("v1hi"),
            at("r2lo").alias("v2lo"),
            at("r2hi").alias("v2hi"),
            at("r3lo").alias("v3lo"),
            at("r3hi").alias("v3hi"),
        )
    )

    def interp(lo, hi, g):
        return 4 * F.col(lo) + F.col(g) * (
            F.coalesce(F.col(hi), F.col(lo)) - F.col(lo)
        )

    q = vat.join(F.broadcast(ranks), "g").select(
        "g",
        interp("v1lo", "v1hi", "g1").alias("q1_qc"),
        interp("v2lo", "v2hi", "g2").alias("med_qc"),
        interp("v3lo", "v3hi", "g3").alias("q3_qc"),
    )
    f = q.select(
        "g",
        "q1_qc",
        "med_qc",
        "q3_qc",
        (F.col("q3_qc") - F.col("q1_qc")).alias("iqr_qc"),
        (2 * F.col("q1_qc") - 3 * (F.col("q3_qc") - F.col("q1_qc"))).alias(
            "lo_oc"
        ),
        (2 * F.col("q3_qc") + 3 * (F.col("q3_qc") - F.col("q1_qc"))).alias(
            "hi_oc"
        ),
    )
    return (
        counts.join(F.broadcast(f), "g")
        .groupBy(
            "g", "q1_qc", "med_qc", "q3_qc", "iqr_qc", "lo_oc", "hi_oc"
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("vc") * 8 < F.col("lo_oc"))
                    | (F.col("vc") * 8 > F.col("hi_oc")),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            F.col("g").alias("l_returnflag"),
            F.round(F.col("q1_qc").cast("double") / 400, 6).alias("q1"),
            F.round(F.col("med_qc").cast("double") / 400, 6).alias("median"),
            F.round(F.col("q3_qc").cast("double") / 400, 6).alias("q3"),
            F.round(F.col("iqr_qc").cast("double") / 400, 6).alias("iqr"),
            F.round(F.col("lo_oc").cast("double") / 800, 6).alias("lo_fence"),
            F.round(F.col("hi_oc").cast("double") / 800, 6).alias("hi_fence"),
            "n_outliers",
        )
        .orderBy("l_returnflag")
    )
