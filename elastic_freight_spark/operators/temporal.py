"""Temporal joins (SURVEY.md §2.4 J6): as-of join, expressed the
scalable way.

The naive as-of plan — a range theta-join then argmax — explodes to a
broadcast-nested-loop at scale. The Spark-native shape is the
union-and-carry trick: tag both sides, union, and let one
hash-partitioned window (`last(..., ignorenulls=True)`) carry the most
recent left-side value forward in event-time order. One shuffle on the
join key, no cross product, state bounded by the window frame — this
is how streams do it too (ASOF ≡ latest-value join).

DuckDB's native ``ASOF JOIN`` is the oracle.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from elastic_freight_spark.functions import ts_str
from elastic_freight_spark.registry import query
from elastic_freight_spark.session import load_tables


@query(
    "join_asof_click_before_purchase",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id,
           strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS prior_click_ts,
           c.click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_click_before_purchase(spark, sf_dir):
    """For every purchase, the user's most recent click at-or-before
    it (the canonical attribution as-of join). Clicks are first
    collapsed to one row per (user, ts) so ties are deterministic in
    every engine."""
    events = load_tables(spark, sf_dir)["events"]
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("is_purchase"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("click_ts"),
            "click_value",
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_purchase"),
        "event_id",
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
    )
    # click sorts before purchase at equal ts (is_purchase asc) so an
    # equal-time click is visible to the purchase row — matching ASOF's
    # `p.ts >= c.ts`
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = purchases.unionByName(clicks).select(
        "user_id",
        "ts",
        "is_purchase",
        "event_id",
        F.last("click_ts", ignorenulls=True).over(w).alias("prior_click_ts_t"),
        F.last("click_value", ignorenulls=True).over(w).alias("prior_click_value"),
    )
    return carried.filter(F.col("is_purchase") == 1).select(
        "user_id",
        "event_id",
        ts_str("ts", "purchase_ts"),
        ts_str("prior_click_ts_t", "prior_click_ts"),
        F.col("prior_click_value").alias("click_value"),
    )


@query(
    "t_time_spine_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    counts AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT strftime(s.hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(c.n, 0) AS n_purchases,
           (c.n IS NULL) AS is_gap
    FROM spine s LEFT JOIN counts c ON s.hour_start = c.hour_start
    """,
)
def t_time_spine_fill(spark, sf_dir):
    """Time-spine gap fill: generate the complete hourly spine between
    min and max event time (sequence + explode — no data shuffle to
    build it), left-join hourly purchase counts, zero-fill gaps. The
    'no silent missing buckets' discipline every time-series rollup
    needs; at scale the spine is generated, never scanned."""
    events = load_tables(spark, sf_dir)["events"]
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    counts = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(counts, "hour_start", "left").select(
        ts_str("hour_start", "hour_start"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_purchases"),
        F.col("n").isNull().alias("is_gap"),
    )


@query(
    "t_funnel_click_to_purchase",
    oracle="""
    WITH first_click AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS c_ts
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
      SELECT fc.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      FROM first_click fc
      JOIN events e ON e.user_id = fc.user_id
       AND e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= fc.c_ts
      GROUP BY fc.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clickers,
           CAST(COUNT(p_ts) AS BIGINT) AS n_converted,
           ROUND(COUNT(p_ts) / CAST(COUNT(*) AS DOUBLE), 9) AS conversion_rate,
           CAST(SUM(CASE WHEN p_ts IS NOT NULL
                    THEN date_diff('second', c_ts, p_ts) END) AS BIGINT)
             AS total_lag_seconds
    FROM first_click LEFT JOIN conv USING (user_id)
    """,
)
def t_funnel_click_to_purchase(spark, sf_dir):
    """Two-step conversion funnel: first click → first purchase at or
    after it, per user; conversion rate + total lag. Two aggregates
    and one join — the funnel never materializes per-event state, so
    it scales as two shuffles keyed on user_id."""
    events = load_tables(spark, sf_dir)["events"]
    first_click = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_raw")
    )
    conv = (
        first_click.join(purchases, "user_id")
        .filter(F.col("p_raw") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_ts"))
    )
    joined = first_click.join(conv, "user_id", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_clickers"),
        F.count("p_ts").alias("n_converted"),
        F.round(F.count("p_ts") / F.count(F.lit(1)), 9).alias("conversion_rate"),
        F.sum(
            F.when(
                F.col("p_ts").isNotNull(),
                F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"),
            )
        )
        .cast("bigint")
        .alias("total_lag_seconds"),
    )


@query(
    "t_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             AVG(value) AS mu,
             stddev_samp(value) AS sd,
             COUNT(*) AS n
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id,
           CAST(e.value AS DOUBLE) AS value,
           ROUND((e.value - s.mu) / s.sd, 6) AS zscore
    FROM events e JOIN stats s ON e.user_id = s.user_id
    WHERE s.n >= 30 AND s.sd > 0
      AND abs((e.value - s.mu) / s.sd) > 3
    """,
)
def t_zscore_outliers(spark, sf_dir):
    """Per-user z-score outlier detection (|z| > 3) — the anomaly /
    bad-sample filter a training pipeline runs before ingestion. One
    stats aggregate joined back to the stream; no window sort needed."""
    events = load_tables(spark, sf_dir)["events"]
    stats = events.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        events.join(stats, "user_id")
        .filter((F.col("n") >= 30) & (F.col("sd") > 0) & (F.abs(z) > 3))
        .select(
            "user_id",
            "event_id",
            F.col("value").cast("double").alias("value"),
            F.round(z, 6).alias("zscore"),
        )
    )


@query(
    "t_ewma_events",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t
      FROM events
    ), acc AS (
      SELECT user_id, event_id, t, value,
             SUM(value * POWER(1.0/0.7, t))
               OVER (PARTITION BY user_id ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS wsum,
             SUM(POWER(1.0/0.7, t))
               OVER (PARTITION BY user_id ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS wnorm
      FROM s
    )
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           ROUND(wsum / wnorm, 4) AS ewma
    FROM acc
    """,
)
def t_ewma_events(spark, sf_dir):
    """Exponentially-weighted moving average per user (alpha=0.3,
    adjust=True semantics: ewma_t = sum_j (1-a)^j x_{t-j} / sum_j
    (1-a)^j) — the standard time-series smoother, expressed as two
    running window sums so it stays inside whole-stage codegen: weight
    each point by (1-a)^(-t), running-sum values and weights, divide.

    Numerical envelope: the rebased weight reaches (1/0.7)^len, so the
    pure-window form is exact for series up to ~2k points per key; for
    longer keys use ``ewma_apply_in_pandas`` (the Arrow-batched
    recurrence — same result, no exponent growth, one shuffle on the
    key; unit-tested equal to this query)."""
    events = load_tables(spark, sf_dir)["events"]
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = events.withColumn("t", F.row_number().over(order) - 1)
    w = F.pow(F.lit(1.0 / 0.7), F.col("t"))
    acc = s.select(
        "user_id",
        "event_id",
        F.col("t").cast("bigint").alias("t"),
        F.sum(F.col("value") * w).over(frame).alias("wsum"),
        F.sum(w).over(frame).alias("wnorm"),
    )
    return acc.select(
        "user_id",
        "event_id",
        "t",
        F.round(F.col("wsum") / F.col("wnorm"), 4).alias("ewma"),
    )


def ewma_apply_in_pandas(events, alpha: float = 0.3):
    """Scale-path EWMA: per-key sequential recurrence run as an
    Arrow-batched grouped map (``applyInPandas``) — numerically stable
    for unbounded series (no (1-a)^-t rebasing), one shuffle on the
    key, vectorized C inside each group. Matches ``t_ewma_events``
    exactly on short series (tests/test_scale.py)."""
    import pandas as pd

    def smooth(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        out = pdf[["user_id", "event_id"]].copy()
        out["t"] = pdf.index.astype("int64")
        out["ewma"] = (
            pdf["value"].ewm(alpha=alpha, adjust=True).mean().round(4)
        )
        return out

    schema = "user_id bigint, event_id bigint, t bigint, ewma double"
    return events.groupBy("user_id").applyInPandas(smooth, schema=schema)


@query(
    "t_winsorize_events",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.value < c.p05 OR e.value > c.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(AVG(e.value), 4) AS mean_raw,
           ROUND(AVG(GREATEST(c.p05, LEAST(c.p95, e.value))), 4)
             AS mean_winsorized
    FROM events e CROSS JOIN cuts c
    GROUP BY e.event_type
    """,
)
def t_winsorize_events(spark, sf_dir):
    """Winsorization at exact p05/p95 — the outlier-clipping step a
    training pipeline applies to reward/score columns before fitting.
    The cutoffs are a 1-row exact-percentile aggregate broadcast back
    over the stream (crossJoin), so the whole thing is two passes and
    zero driver-side scalars; per-type clipped counts and the
    before/after means report the distortion introduced."""
    events = load_tables(spark, sf_dir)["events"]
    cuts = events.agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))
    out_of_band = (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))
    return (
        events.crossJoin(F.broadcast(cuts))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(out_of_band.cast("int")).cast("bigint").alias("n_clipped"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
    )


@query(
    "t_retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(act_week) AS cohort_week FROM activity GROUP BY 1
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', cohort_week, act_week) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY cohort, week_offset
    """,
)
def t_retention_cohorts(spark, sf_dir):
    """Weekly retention cohort matrix: users bucketed by first-seen
    week, counted in every later week they were active — the
    product-analytics staple. Two aggregations on the same user_id
    key (distinct weekly activity, then first-seen), so the second
    reuses the first's shuffle partitioning; the cohort matrix itself
    is tiny (weeks × weeks)."""
    events = load_tables(spark, sf_dir)["events"]
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    first_seen = activity.groupBy("user_id").agg(
        F.min("act_week").alias("cohort_week")
    )
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "t_sessionize_gaps",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def t_sessionize_gaps(spark, sf_dir):
    """Explicit sessionization (gaps-and-islands): a session starts at
    the first event or after a >30 min silence; the running sum of
    start markers is the per-user session sequence. This is the
    row-level twin of the `session_window` aggregate (T3) — it hands
    every EVENT its session id, which the aggregate form can't. Both
    windows partition by user_id, so one hash exchange serves the lag,
    the cumsum, and the final per-session rollup."""
    events = load_tables(spark, sf_dir)["events"]
    from pyspark.sql import Window as W

    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order)
    is_start = (
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000)
    ).cast("int")
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = events.withColumn("is_start", is_start).withColumn(
        "session_seq", F.sum("is_start").over(cum)
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_sec"),
    )


_MULTI_GRAIN_SQL = """
SELECT CASE WHEN grain_day IS NOT NULL AND grain_week IS NOT NULL
            THEN 'day' WHEN grain_week IS NOT NULL THEN 'week'
            ELSE 'month' END AS grain,
       COALESCE(strftime(grain_day, '%Y-%m-%d'),
                strftime(grain_week, '%Y-%m-%d'),
                strftime(grain_month, '%Y-%m-%d')) AS bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM (
  SELECT event_type, value,
         date_trunc('day', ts) AS grain_day,
         date_trunc('week', ts) AS grain_week,
         date_trunc('month', ts) AS grain_month
  FROM events
)
GROUP BY GROUPING SETS ((grain_day, grain_week, event_type),
                        (grain_week, event_type),
                        (grain_month, event_type))
"""


@query("t_multi_grain_rollup", oracle=_MULTI_GRAIN_SQL)
def t_multi_grain_rollup(spark, sf_dir):
    """Multi-grain time rollup: day, week, and month aggregates of the
    event stream in ONE grouping-sets pass — one scan + one shuffle
    instead of a scan per grain (at 100 TB, a dashboard's 3 grain
    tables for the cost of 1). The grain label is recovered from which
    grain columns are non-null (day rows carry their week so the
    (day, week) pair stays hierarchical); value sums ride DECIMAL for
    partition-count independence."""
    events = load_tables(spark, sf_dir)["events"]
    events.select(
        "event_type",
        "value",
        F.date_trunc("day", "ts").alias("grain_day"),
        F.date_trunc("week", "ts").alias("grain_week"),
        F.date_trunc("month", "ts").alias("grain_month"),
    ).createOrReplaceTempView("_mg_events")
    return spark.sql(
        """
        SELECT CASE WHEN grain_day IS NOT NULL AND grain_week IS NOT NULL
                    THEN 'day' WHEN grain_week IS NOT NULL THEN 'week'
                    ELSE 'month' END AS grain,
               COALESCE(date_format(grain_day, 'yyyy-MM-dd'),
                        date_format(grain_week, 'yyyy-MM-dd'),
                        date_format(grain_month, 'yyyy-MM-dd')) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM _mg_events
        GROUP BY GROUPING SETS ((grain_day, grain_week, event_type),
                                (grain_week, event_type),
                                (grain_month, event_type))
        """
    )


@query(
    "events_cooccurrence_lift",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    totals AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           ROUND((n_both / CAST(n_users AS DOUBLE))
                 / ((pa.n / CAST(n_users AS DOUBLE))
                    * (pb.n / CAST(n_users AS DOUBLE))), 9) AS lift
    FROM pairs
    JOIN per_type pa ON pa.event_type = type_a
    JOIN per_type pb ON pb.event_type = type_b
    CROSS JOIN totals
    """,
)
def events_cooccurrence_lift(spark, sf_dir):
    """Behavior co-occurrence mining (association rules over user
    baskets): for every event-type pair, how many users did both and
    the lift over independence. The self-join runs on the DISTINCT
    (user, type) projection — |users|×|types| rows max, never the raw
    event stream — and the type marginals + user total ride the plan
    as broadcast sides; with k event types the output is k·(k-1)/2
    rows no matter the corpus size."""
    events = load_tables(spark, sf_dir)["events"]
    ut = events.select("user_id", "event_type").distinct()
    totals = events.agg(F.countDistinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    nu = F.col("n_users").cast("double")
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                (F.col("n_both") / nu) / ((F.col("na") / nu) * (F.col("nb") / nu)), 9
            ).alias("lift"),
        )
    )


@query(
    "t_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), mad AS (
      SELECT e.event_type, med, median(abs(value - med)) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(value - m.med) > 1.3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(m.med, 6) AS med,
           ROUND(m.mad, 6) AS mad
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type, m.med, m.mad
    ORDER BY e.event_type
    """,
)
def t_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    estimator that, unlike `t_zscore_outliers`' mean/stddev, is not
    itself dragged by the outliers it is hunting (50% breakdown point
    vs 0%). Per event type: med, MAD, and the count of values beyond
    k·1.4826·MAD (1.4826 scales MAD to σ under normality).

    Plan shape: two grouped exact medians (each a sort-based
    aggregate within the event-type shuffle) and one flagging pass —
    three jobs over one cached lineage; the medians ride back in as
    broadcast joins on the 5-row group table, never a driver-side
    collect. At 100 TB swap `median` for `approx_percentile(.., 0.5)`
    per group — the query shape is unchanged."""
    ev = load_tables(spark, sf_dir)["events"].select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    flagged = ev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 1.3 * 1.4826 * F.col("mad")
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
        .orderBy("event_type")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type
      FROM ordered WHERE next_type IS NOT NULL
    ), counts AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 9)
             AS p_transition
    FROM counts
    ORDER BY from_type, to_type
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the sequence-mining
    summary behind session prediction and funnel design. One window
    pass builds (from, next) pairs inside the per-user ordering, one
    aggregate counts them, and the row-normalization is a window sum
    over the (|types|²-row) count table — nothing user-level ever
    re-shuffles. Deterministic tie order via (ts, event_id)."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    wnorm = W.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            F.col("n_raw").cast("bigint").alias("n"),
            F.round(
                F.col("n_raw") / F.sum("n_raw").over(wnorm).cast("double"), 9
            ).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM CAST(ts AS TIMESTAMP)) AS INT) AS dow,
           CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_seasonality(spark, sf_dir):
    """Seasonality fingerprint: event volume and value by
    (day-of-week, hour-of-day) — the profile capacity planning and
    anomaly baselines are built from (an observed count far from its
    (dow, hour) cell is the alarm). One aggregate over derived
    calendar keys; 168 output cells regardless of corpus size, so
    map-side partials do nearly all the work. Spark ``dayofweek`` is
    1-7 Sunday-first vs DuckDB ``EXTRACT(dow)`` 0-6 Sunday-first —
    aligned by subtracting 1."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("dow", "hour")
    )


@query(
    "orders_backlog_over_time",
    oracle="""
    WITH placed AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_placed
      FROM orders GROUP BY 1
    ), received AS (
      SELECT CAST(MAX(l_shipdate) AS DATE) AS d, COUNT(*) AS n_done
      FROM lineitem GROUP BY l_orderkey
    ), done AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_done FROM received GROUP BY d
    ), flows AS (
      SELECT COALESCE(p.d, dn.d) AS day,
             COALESCE(n_placed, 0) AS n_placed,
             COALESCE(n_done, 0) AS n_done
      FROM placed p FULL OUTER JOIN done dn ON p.d = dn.d
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_placed AS BIGINT) AS n_placed,
           CAST(n_done AS BIGINT) AS n_done,
           CAST(SUM(n_placed - n_done)
                OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_backlog
    FROM flows
    ORDER BY day
    """,
)
def orders_backlog_over_time(spark, sf_dir):
    """Open-order backlog time series: +1 on order placement, -1 on
    the day an order's LAST lineitem ships (this fixture carries no
    receipt date), cumulative-summed
    over days — the interval-stabbing pattern (how many intervals
    cover each day) reduced to two day-keyed aggregates and one
    window cumsum over the (day-count-sized) flow table. The fact
    tables are touched once each; the running sum never sees a fact
    row. The same shape answers concurrent-sessions/active-users at
    any scale."""
    t = load_tables(spark, sf_dir)
    placed = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_placed"))
    )
    done = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.to_date(F.max("l_shipdate")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_done"))
    )
    flows = (
        placed.join(done, "day", "full")
        .select(
            "day",
            F.coalesce("n_placed", F.lit(0)).alias("n_placed"),
            F.coalesce("n_done", F.lit(0)).alias("n_done"),
        )
    )
    cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return flows.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_placed").cast("bigint").alias("n_placed"),
        F.col("n_done").cast("bigint").alias("n_done"),
        F.sum(F.col("n_placed") - F.col("n_done"))
        .over(cum)
        .cast("bigint")
        .alias("open_backlog"),
    ).orderBy("day")


@query(
    "events_seasonal_naive_backtest",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, COUNT(*) AS n
      FROM events GROUP BY 1
    ), bounds AS (
      SELECT MAX(h) AS hmax FROM hourly
    ), joined AS (
      SELECT t.h, t.n AS actual, p.n AS predicted
      FROM hourly t
      JOIN hourly p ON p.h = t.h - INTERVAL 24 HOUR
      CROSS JOIN bounds
      WHERE t.h > hmax - INTERVAL 72 HOUR
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(AVG(ABS(actual - predicted) / actual), 9) AS mape,
           ROUND(AVG(ABS(CAST(actual AS DOUBLE) - predicted)), 9) AS mae,
           CAST(SUM(actual) AS BIGINT) AS total_actual
    FROM joined
    """,
)
def events_seasonal_naive_backtest(spark, sf_dir):
    """Forecast-quality floor: backtest the seasonal-naive predictor
    (this hour's volume = the same hour yesterday) over the last 72
    hours — MAPE/MAE here are the accuracy bar any real forecasting
    model must beat, and the first number a capacity-planning
    pipeline reports. The hourly rollup is one aggregate; the
    predictor is a self-join shifted by 24 h on the (tiny, hour-keyed)
    rollup — the fact table is scanned once, the backtest join never
    touches it. Same shape at any horizon: replace 24 h with the
    season length."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = hourly.agg(F.max("h").alias("hmax"))
    t = hourly.alias("t")
    p = hourly.select(
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h_pred"),
        F.col("n").alias("predicted"),
    )
    joined = (
        t.join(p, F.col("t.h") == F.col("h_pred"))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("t.h") > F.col("hmax") - F.expr("INTERVAL 72 HOURS"))
        .select(F.col("t.n").alias("actual"), "predicted")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(
            F.avg(F.abs(F.col("actual") - F.col("predicted")) / F.col("actual")), 9
        ).alias("mape"),
        F.round(
            F.avg(F.abs(F.col("actual").cast("double") - F.col("predicted"))), 9
        ).alias("mae"),
        F.sum("actual").cast("bigint").alias("total_actual"),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    ), stats AS (
      SELECT AVG(n) AS mu, COUNT(*) AS total FROM hourly
    ), cusum AS (
      SELECT h, n,
             SUM(n - mu) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS s
      FROM hourly CROSS JOIN stats
    ), peak AS (
      SELECT h, n, s,
             ROW_NUMBER() OVER (ORDER BY ABS(s) DESC, h) AS rn
      FROM cusum
    )
    SELECT strftime(p.h, '%Y-%m-%d %H:%M:%S') AS changepoint_hour,
           ROUND(p.s, 6) AS cusum_peak,
           ROUND(st.mu, 6) AS series_mean,
           CAST(st.total AS BIGINT) AS n_hours
    FROM peak p CROSS JOIN stats st
    WHERE p.rn = 1
    """,
)
def events_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection on the hourly volume series: the
    hour where the cumulative deviation from the series mean peaks is
    the maximum-likelihood single level-shift location — the "when
    did the crawl rate change" monitoring primitive that complements
    the seasonality fingerprint (expected shape) and the KL drift
    alarm (content shift). The running sum and the argmax both run
    on the hour-keyed rollup (facts scanned once); the mean rides as
    a broadcast 1-row aggregate."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    stats = hourly.agg(
        F.avg("n").alias("mu"), F.count(F.lit(1)).alias("total")
    )
    cum = W.orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    cusum = hourly.crossJoin(F.broadcast(stats)).select(
        "h",
        "mu",
        "total",
        F.sum(F.col("n") - F.col("mu")).over(cum).alias("s"),
    )
    peak = cusum.withColumn(
        "rn", F.row_number().over(W.orderBy(F.abs("s").desc(), "h"))
    ).filter(F.col("rn") == 1)
    return peak.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("changepoint_hour"),
        F.round("s", 6).alias("cusum_peak"),
        F.round("mu", 6).alias("series_mean"),
        F.col("total").cast("bigint").alias("n_hours"),
    )


@query(
    "orders_interarrival_median",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_days), 6)
             AS median_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    HAVING COUNT(gap_days) >= 5
    ORDER BY o_custkey
    """,
)
def orders_interarrival_median(spark, sf_dir):
    """Customer order-interarrival profile: per customer, the median
    and max days between consecutive orders (the inputs to a
    churn-risk / reorder-cadence model), customers with ≥5 gaps.
    One window shuffle on the customer key (lag over orderdate with
    orderkey tie-break so re-ordered input can't flip equal-date
    gaps), one aggregate on the same key — the second shuffle
    collapses under AQE since partitioning is unchanged."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.round(F.expr("percentile(gap_days, 0.5)"), 6).alias(
                "median_gap_days"
            ),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") >= 5)
        .orderBy("o_custkey")
    )




# Shared funnel-stage definitions (view -> click -> purchase, each
# stage within 7 days of the previous stage's FIRST qualifying event):
# the conversion, latency, and any future funnel query must use THESE
# so the stage rule can never desynchronize between them.
_FUNNEL_STAGES_SQL = """
    v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
       AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 7 DAY
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
       AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 7 DAY
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
"""


def _funnel_stages(spark, sf_dir):
    """(v, c, p) stage frames — the Spark twin of _FUNNEL_STAGES_SQL."""
    e = load_tables(spark, sf_dir)["events"]
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return v, c, p


@query(
    "events_funnel_conversion",
    oracle=f"""
    WITH {_FUNNEL_STAGES_SQL},
    n AS (SELECT (SELECT COUNT(*) FROM v) AS nv,
                 (SELECT COUNT(*) FROM c) AS nc,
                 (SELECT COUNT(*) FROM p) AS np)
    SELECT 1 AS stage_no, 'view' AS stage,
           CAST(nv AS BIGINT) AS n_users,
           CAST(1.0 AS DOUBLE) AS conv_from_prev FROM n
    UNION ALL
    SELECT 2, 'view>click', CAST(nc AS BIGINT),
           ROUND(nc / CAST(NULLIF(nv, 0) AS DOUBLE), 9) FROM n
    UNION ALL
    SELECT 3, 'view>click>purchase', CAST(np AS BIGINT),
           ROUND(np / CAST(NULLIF(nc, 0) AS DOUBLE), 9) FROM n
    """,
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered funnel analysis: view → click → purchase, each stage
    within 7 days of the previous stage's FIRST qualifying event —
    the product-analytics staple (signup funnels, checkout funnels)
    expressed as cascaded min-timestamp semi-aggregations.

    Plan shape: one stage = one filtered aggregate on user_id plus
    one user-keyed join to the previous stage's (user, t) frame —
    every shuffle is user-keyed and frame sizes shrink monotonically
    down the funnel. No windows, no per-user event sorting, no
    explode: at 100 TB the event scan happens once per stage filter
    (or once total if the engine collapses the shared scan) and all
    joins are on the reduced per-user frames."""
    v, c, p = _funnel_stages(spark, sf_dir)
    nv = v.agg(F.count(F.lit(1)).alias("nv"))
    nc = c.agg(F.count(F.lit(1)).alias("nc"))
    np_ = p.agg(F.count(F.lit(1)).alias("np"))
    one = nv.crossJoin(nc).crossJoin(np_)
    return one.selectExpr(
        "stack(3, "
        " 1, 'view',                CAST(nv AS BIGINT), CAST(1.0 AS DOUBLE), "
        " 2, 'view>click',          CAST(nc AS BIGINT), ROUND(nc / CAST(NULLIF(nv, 0) AS DOUBLE), 9), "
        " 3, 'view>click>purchase', CAST(np AS BIGINT), ROUND(np / CAST(NULLIF(nc, 0) AS DOUBLE), 9)"
        ") AS (stage_no, stage, n_users, conv_from_prev)"
    )


@query(
    "orders_churn_labels",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    cust AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, last_order,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(CASE WHEN last_order < mxd - INTERVAL 90 DAY
                     THEN 1 ELSE 0 END AS INTEGER) AS churned
    FROM cust CROSS JOIN mx
    """,
)
def orders_churn_labels(spark, sf_dir):
    """Supervised-label generation: per-customer churn labels
    (churned = no order in the trailing 90 days of the observation
    window) — the label-materialization step in front of any churn
    model, expressed so the label table is reproducible from the
    fact table alone. The window end is derived (MAX order date)
    rather than wall-clock, so the query is deterministic and
    backtestable at any as-of point.

    Plan: one customer-keyed aggregate over orders; the global max
    rides as a broadcast 1-row crossJoin; the label is a constant-
    time expression. One shuffle total, label table is
    customer-dimension-sized at any corpus scale."""
    orders = load_tables(spark, sf_dir)["orders"]
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    return cust.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "last_order",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.when(
            F.col("last_order") < F.col("mxd") - F.expr("INTERVAL 90 DAYS"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("churned"),
    )


@query(
    "events_funnel_latency",
    oracle=f"""
    WITH {_FUNNEL_STAGES_SQL},
    gaps AS (
      SELECT 'view>click' AS hop,
             epoch_us(c.t2) - epoch_us(v.t1) AS gap_us
      FROM c JOIN v ON c.user_id = v.user_id
      UNION ALL
      SELECT 'click>purchase',
             epoch_us(p.t3) - epoch_us(c.t2)
      FROM p JOIN c ON p.user_id = c.user_id
    ),
    ranked AS (
      SELECT hop, gap_us,
             ROW_NUMBER() OVER (PARTITION BY hop ORDER BY gap_us) AS rn,
             COUNT(*) OVER (PARTITION BY hop) AS n
      FROM gaps
    )
    SELECT hop, CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(MIN(CASE WHEN rn * 2 >= n THEN gap_us END) AS BIGINT)
             AS median_gap_us,
           CAST(MIN(CASE WHEN rn * 10 >= n * 9 THEN gap_us END) AS BIGINT)
             AS p90_gap_us
    FROM ranked GROUP BY hop
    """,
)
def events_funnel_latency(spark, sf_dir):
    """Funnel hop latencies: for users who advanced, the exact median
    and p90 time from first view to first qualifying click, and from
    that click to first qualifying purchase — the "where do users
    stall" companion to ``events_funnel_conversion``'s "where do they
    drop". Exact rank-based percentiles (rn·2 ≥ n / rn·10 ≥ 9n — the
    same integer-compare discipline as ``agg_weighted_median``) on
    microsecond-exact gaps, so both engines agree bit-for-bit where
    approximate percentiles could not.

    Plan: the same cascaded min-timestamp stage frames as the
    conversion query (user-keyed shuffles, monotonically shrinking),
    then one window pass over the per-user gap table — which is
    funnel-survivor-sized, far smaller than the event stream."""
    from pyspark.sql import Window as W

    v, c, p = _funnel_stages(spark, sf_dir)
    gap_vc = (
        c.join(v, "user_id")
        .select(
            F.lit("view>click").alias("hop"),
            (F.unix_micros("t2") - F.unix_micros("t1")).alias("gap_us"),
        )
    )
    gap_cp = (
        p.join(c, "user_id")
        .select(
            F.lit("click>purchase").alias("hop"),
            (F.unix_micros("t3") - F.unix_micros("t2")).alias("gap_us"),
        )
    )
    gaps = gap_vc.unionByName(gap_cp)
    w = W.partitionBy("hop").orderBy("gap_us")
    ranked = gaps.select(
        "hop",
        "gap_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("hop")).alias("n"),
    )
    return ranked.groupBy("hop").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("gap_us")))
        .cast("bigint")
        .alias("median_gap_us"),
        F.min(F.when(F.col("rn") * 10 >= F.col("n") * 9, F.col("gap_us")))
        .cast("bigint")
        .alias("p90_gap_us"),
    )


@query(
    "w_user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INTEGER) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, COUNT(*) AS streak_len, MIN(day) AS streak_start
      FROM grp GROUP BY user_id, anchor
    ),
    best AS (
      SELECT user_id, streak_len, streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start) AS rn
      FROM streaks
    )
    SELECT user_id, CAST(streak_len AS BIGINT) AS longest_streak_days,
           CAST(streak_start AS VARCHAR) AS streak_start
    FROM best WHERE rn = 1
    """,
)
def w_user_activity_streaks(spark, sf_dir):
    """Longest consecutive-active-day streak per user (gaps-and-
    islands on the DAY grain): day − row_number(day) is constant
    exactly while days are consecutive, so one user-keyed window plus
    one aggregate finds every streak; earliest streak wins ties
    deterministically. The engagement metric behind retention
    dashboards — and a different island construction from
    ``t_sessionize_gaps``'s time-gap rule (calendar adjacency, not
    a silence threshold).

    Plan: distinct (user, day) first — the window and everything
    after runs on the day-grain frame, orders of magnitude smaller
    than the event stream; all shuffles user-keyed."""
    from pyspark.sql import Window as W

    e = load_tables(spark, sf_dir)["events"]
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    grp = days.withColumn(
        "anchor",
        F.date_sub(
            F.col("day"),
            F.row_number().over(W.partitionBy("user_id").orderBy("day")),
        ),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    best = streaks.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.col("streak_len").desc(), "streak_start"
            )
        ),
    )
    return best.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("streak_len").cast("bigint").alias("longest_streak_days"),
        F.col("streak_start").cast("string").alias("streak_start"),
    )


# Activity-interval half-life for the coverage metric: each event
# opens a [ts, ts+5min) window; overlapping windows merge.
COVERAGE_WINDOW_US = 300 * 1_000_000


@query(
    "t_interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + {COVERAGE_WINDOW_US} AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id,
             MIN(s) AS island_start, MAX(e) AS island_end
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
           CAST(MAX(island_end) - MIN(island_start) AS BIGINT) AS span_us
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def t_interval_coverage(spark, sf_dir):
    """Interval-union coverage per user (gaps-and-islands over
    half-open activity windows): every event opens [ts, ts+5min),
    overlapping windows merge into islands, and the report is
    n_islands / total covered time / first-to-last span — the "time
    actually active" metric that raw event counts and sessionize-by-
    gap both miss (a burst of 50 events in one minute covers 6
    minutes, not 50×5). Classic running-max merge: an island starts
    where start exceeds the max end among ALL prior intervals (not
    just the previous row — intervals can nest under a long
    predecessor). All arithmetic in integer microseconds
    (unix_micros ↔ epoch_us, the repo's timestamp discipline), so
    every output column is exact. One user-keyed shuffle; both
    windows and the two aggregates share it."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(COVERAGE_WINDOW_US)).alias("e"),
    )
    prior_max_end = F.max("e").over(
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(prior_max_end, F.lit(-(1 << 63)).cast("long")),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(
            W.partitionBy("user_id")
            .orderBy("s", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_islands"),
            F.sum(F.col("island_end") - F.col("island_start"))
            .cast("bigint")
            .alias("covered_us"),
            (F.max("island_end") - F.min("island_start"))
            .cast("bigint")
            .alias("span_us"),
        )
        .orderBy("user_id")
    )


@query(
    "events_audience_overlap",
    oracle="""
    WITH seg AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, COUNT(*) AS n_users FROM seg GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM seg a JOIN seg b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(sa.n_users AS BIGINT) AS n_a,
           CAST(sb.n_users AS BIGINT) AS n_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           ROUND(p.n_both / CAST(sa.n_users + sb.n_users - p.n_both
                                 AS DOUBLE), 9) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    ORDER BY type_a, type_b
    """,
)
def events_audience_overlap(spark, sf_dir):
    """Audience overlap between event-type segments: for every pair
    of event types, the distinct-user counts and their Jaccard — the
    segment-overlap matrix behind "do purchasers also search?"
    targeting decisions. ONE distinct reduction (user, type) is the
    only corpus-sized work; the pair join runs on the reduced
    segment table keyed by user (|types| rows per user, so the
    self-join fan-out is types², bounded by the FIXED event-type
    vocabulary — not by corpus size), and the output is
    |types|²-sized. Jaccard = both/(a+b-both) on exact integers,
    rounded on both engines."""
    seg = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", "user_id")
        .distinct()
        # the per-type sizes and BOTH self-join sides read this frame;
        # unmaterialized, the fact scan + distinct shuffle runs three
        # times (AQE reuses none of the aliased branches). |seg| ≤
        # types·users.
        .localCheckpoint(eager=True)
    )
    sizes = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    a = seg.select(F.col("event_type").alias("type_a"), "user_id")
    b = seg.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                9,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "t_time_weighted_average",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value,
             epoch_us(ts) AS s,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS s_next
      FROM events
    ),
    agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(s) - MIN(s) AS BIGINT) AS span_us,
             CAST(SUM(CAST(value * (s_next - s) AS DECIMAL(38,6)))
                  AS DOUBLE) AS area
      FROM seq GROUP BY user_id
    )
    SELECT user_id, n_events, span_us,
           ROUND(area / CAST(NULLIF(span_us, 0) AS DOUBLE), 9)
             AS twa_value
    FROM agg
    ORDER BY user_id
    """,
)
def t_time_weighted_average(spark, sf_dir):
    """Time-weighted average of each user's event value — the
    irregular-series mean that plain AVG gets wrong (a value held for
    a week must weigh more than one held a minute; the metering/IoT/
    finance standard): step-function interpolation, value_i held over
    [t_i, t_{i+1}), last observation carries zero width, normalized
    by the user's observed span. Weights are exact integer
    microseconds (unix_micros ↔ epoch_us); the value·Δt products
    route through DECIMAL so cross-partition sum order can't leak
    into the 9th decimal; zero-span (single-event) users yield NULL
    via the shared NULLIF guard instead of an engine-specific
    inf/NaN. One user-keyed shuffle shared by the LEAD window and
    the aggregate."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros("ts").alias("s"),
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    seq = ev.withColumn("s_next", F.lead("s").over(w))
    agg = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("s") - F.min("s")).cast("bigint").alias("span_us"),
        F.sum(
            (F.col("value") * (F.col("s_next") - F.col("s"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("area"),
    )
    return agg.select(
        "user_id",
        "n_events",
        "span_us",
        F.round(
            F.col("area")
            / F.expr("cast(nullif(span_us, 0) as double)"),
            9,
        ).alias("twa_value"),
    ).orderBy("user_id")


# Tolerance for the nearest-direction as-of join: a click farther
# than this from the purchase (either side) doesn't attribute.
ASOF_NEAREST_TOL_US = 2 * 3600 * 1_000_000  # 2 hours


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, epoch_us(ts) AS cs, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT user_id, event_id, epoch_us(ts) AS ps FROM events
      WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT p.user_id, p.event_id, p.ps, c.cs, c.click_value,
             abs(p.ps - c.cs) AS gap_us
      FROM purchases p JOIN clicks c ON c.user_id = p.user_id
      WHERE abs(p.ps - c.cs) <= {ASOF_NEAREST_TOL_US}
    ),
    best AS (
      SELECT user_id, event_id, ps, cs, click_value, gap_us FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_id ORDER BY gap_us, cs) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT p.user_id, p.event_id,
           CAST(p.ps AS BIGINT) AS purchase_us,
           CAST(b.cs AS BIGINT) AS nearest_click_us,
           CAST(b.gap_us AS BIGINT) AS gap_us,
           b.click_value
    FROM purchases p
    LEFT JOIN best b ON b.event_id = p.event_id
    ORDER BY p.user_id, p.event_id
    """,
)
def join_asof_nearest(spark, sf_dir):
    """As-of join, direction=NEAREST with tolerance — the pandas
    ``merge_asof(direction='nearest', tolerance=2h)`` semantics the
    backward-only ``join_asof_click_before_purchase`` can't express
    (a click seconds AFTER the purchase should beat one hours
    before). Each purchase takes the minimum-|gap| click within ±2h,
    ties broken toward the EARLIER click; unmatched purchases keep a
    NULL row (left semantics). Implementation is the tolerance-banded
    candidate join — the per-user candidate set is bounded by the
    tolerance window, so the join never degenerates to per-user
    cross products the way an unbounded nearest would; gap arithmetic
    is exact integer microseconds. At scale this is the same
    range-join shape as `join_interval_binned` and would bucket by
    (user, time-band) the same way."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id", F.unix_micros("ts").alias("cs"), "click_value"
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ps")
    )
    cand = (
        purchases.join(clicks, "user_id")
        .withColumn("gap_us", F.abs(F.col("ps") - F.col("cs")))
        .filter(F.col("gap_us") <= ASOF_NEAREST_TOL_US)
    )
    best = (
        cand.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_id").orderBy("gap_us", "cs")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_id", "cs", "gap_us", "click_value")
    )
    return (
        purchases.join(best, "event_id", "left")
        .select(
            "user_id",
            "event_id",
            F.col("ps").cast("bigint").alias("purchase_us"),
            F.col("cs").cast("bigint").alias("nearest_click_us"),
            F.col("gap_us").cast("bigint").alias("gap_us"),
            "click_value",
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_survival_km",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS first_us,
             MAX(epoch_us(ts)) AS last_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS first_purchase_us
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN first_purchase_us IS NOT NULL THEN 1 ELSE 0 END
               AS converted,
             CAST(CASE WHEN first_purchase_us IS NOT NULL
                       THEN (first_purchase_us - first_us) // 86400000000
                       ELSE (last_us - first_us) // 86400000000
                  END AS BIGINT) AS dur_days
      FROM spans
    ),
    event_days AS (
      SELECT dur_days AS day,
             CAST(SUM(converted) AS BIGINT) AS n_events,
             CAST(SUM(1 - converted) AS BIGINT) AS n_censored
      FROM durations GROUP BY dur_days
    ),
    at_risk AS (
      SELECT d.day, d.n_events, d.n_censored,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM durations x
              WHERE x.dur_days >= d.day) AS n_at_risk
      FROM event_days d
      WHERE d.n_events > 0
    )
    SELECT day, n_at_risk, n_events, n_censored,
           ROUND(exp(SUM(ln(GREATEST(
                       1.0 - CAST(n_events AS DOUBLE) / n_at_risk,
                       1e-300)))
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 9) AS km_survival
    FROM at_risk
    ORDER BY day
    """,
)
def events_survival_km(spark, sf_dir):
    """Kaplan–Meier survival curve for time-to-first-purchase with
    right censoring — the estimator conversion analytics needs when
    not every user has converted yet (naive conversion-by-day
    undercounts late converters; KM handles censored users
    correctly). Duration = whole days from a user's first event to
    first purchase (event) or last event (censored); per event-day:
    n_at_risk (duration ≥ d), n_events, n_censored — ALL exact
    integers, so the only float work is the survival product,
    computed as exp(Σ ln(max(1 − d/n, 1e-300))) — the floor makes a
    fully-converted day contribute -690.7, whose exp ROUNDs to the
    exact 0.0 KM assigns, without tripping either engine's ln(0) —
    with both engines folding the
    SAME ordered per-day terms (a windowed cumulative over the
    day-keyed frame, deterministic order by day). Scale shape: one
    user-keyed reduce to durations (the only data-sized stage), then
    everything is day-keyed; the at-risk counts come from a
    theta-join of the day frame against the duration distribution —
    both day-sized after the reduce."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    spans = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("first_purchase_us"),
    )
    durations = spans.select(
        F.when(F.col("first_purchase_us").isNotNull(), 1)
        .otherwise(0)
        .alias("converted"),
        F.when(
            F.col("first_purchase_us").isNotNull(),
            F.expr("(first_purchase_us - first_us) div 86400000000"),
        )
        .otherwise(F.expr("(last_us - first_us) div 86400000000"))
        .cast("bigint")
        .alias("dur_days"),
    )
    event_days = durations.groupBy(F.col("dur_days").alias("day")).agg(
        F.sum("converted").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("converted")).cast("bigint").alias("n_censored"),
    )
    dur_counts = durations.groupBy("dur_days").agg(
        F.count(F.lit(1)).alias("n_dur")
    )
    at_risk = (
        event_days.filter(F.col("n_events") > 0)
        .join(dur_counts, F.col("dur_days") >= F.col("day"))
        .groupBy("day", "n_events", "n_censored")
        .agg(F.sum("n_dur").cast("bigint").alias("n_at_risk"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        at_risk.withColumn(
            "km_survival",
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.greatest(
                                1.0
                                - F.col("n_events").cast("double")
                                / F.col("n_at_risk"),
                                F.lit(1e-300),
                            )
                        )
                    ).over(w)
                ),
                9,
            ),
        )
        .select("day", "n_at_risk", "n_events", "n_censored", "km_survival")
        .orderBy("day")
    )


# Deterministic A/B arm assignment — ONE fragment shared by the
# experiment readout and the SRM health check so the two can never
# disagree on who is in which arm.
_AB_ARM_SQL = """CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '8'
                  THEN 'treatment' ELSE 'control' END"""


def ab_arm_col():
    """Spark twin of _AB_ARM_SQL."""
    return F.when(
        F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string")))
        < "8",
        "treatment",
    ).otherwise("control")


@query(
    "events_ab_test_report",
    oracle=f"""
    WITH arms AS (
      SELECT user_id,
             {_AB_ARM_SQL} AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events
      GROUP BY user_id
    ),
    per_arm AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM arms GROUP BY arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 'treatment' THEN n_users END) AS n_t,
        MAX(CASE WHEN arm = 'treatment' THEN n_converted END) AS c_t,
        MAX(CASE WHEN arm = 'control' THEN n_users END) AS n_c,
        MAX(CASE WHEN arm = 'control' THEN n_converted END) AS c_c
      FROM per_arm
    )
    SELECT n_t, c_t, n_c, c_c,
           ROUND(CAST(c_t AS DOUBLE) / n_t, 9) AS cr_treatment,
           ROUND(CAST(c_c AS DOUBLE) / n_c, 9) AS cr_control,
           ROUND(CAST(c_t AS DOUBLE) / n_t
                 - CAST(c_c AS DOUBLE) / n_c, 9) AS lift_abs,
           ROUND((CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c)
                 / NULLIF(sqrt(
                     (CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
                     * (1.0 - CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
                     * (1.0 / n_t + 1.0 / n_c)), 0.0), 9) AS z_score
    FROM wide
    """,
)
def events_ab_test_report(spark, sf_dir):
    """A/B experiment readout with DETERMINISTIC hash assignment —
    the md5 bridge as a bucketing function (the way real experiment
    platforms assign: stable per user, no assignment table to join,
    reproducible across engines/reruns): arm = first hex nibble of
    md5('ab:'‖user) < '8', i.e. a 50/50 split; metric = user-level
    purchase conversion; readout = per-arm counts (exact integers),
    conversion rates, absolute lift, and the pooled two-proportion
    z-score — every float a closed form over four integers, so both
    engines compute from bit-identical inputs. One user-keyed reduce
    is the only data-sized stage; the report is one row. On this
    synthetic corpus the arms are A/A (no real treatment), so |z|
    small is itself the correctness signal the test pins."""
    ev = load_tables(spark, sf_dir)["events"]
    arms = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    ).select(ab_arm_col().alias("arm"), "converted")
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "treatment", F.col("n_users"))).alias(
            "n_t"
        ),
        F.max(
            F.when(F.col("arm") == "treatment", F.col("n_converted"))
        ).alias("c_t"),
        F.max(F.when(F.col("arm") == "control", F.col("n_users"))).alias(
            "n_c"
        ),
        F.max(
            F.when(F.col("arm") == "control", F.col("n_converted"))
        ).alias("c_c"),
    )
    p_t = F.col("c_t").cast("double") / F.col("n_t")
    p_c = F.col("c_c").cast("double") / F.col("n_c")
    return wide.select(
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.round(p_t, 9).alias("cr_treatment"),
        F.round(p_c, 9).alias("cr_control"),
        F.round(p_t - p_c, 9).alias("lift_abs"),
        F.round(
            (p_t - p_c)
            / F.expr("nullif({se}, 0.0)".format(se="sqrt((cast(c_t + c_c as double) / (n_t + n_c)) * (1.0 - cast(c_t + c_c as double) / (n_t + n_c)) * (1.0 / n_t + 1.0 / n_c))")),
            9,
        ).alias("z_score"),
    )


# Zero-filled GLOBAL daily event-count series — ONE definition shared
# by the autocorrelation and Theil-Sen oracles (and their Spark twins
# via daily_series) so the two trend diagnostics can never disagree
# on the underlying series.
_DAILY_SERIES_SQL = """bounds AS (
      SELECT CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS lo,
             CAST(date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    counts AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    series AS (
      SELECT CAST(s.day AS DATE) AS day, COALESCE(c.x, 0) AS x
      FROM spine s LEFT JOIN counts c ON CAST(s.day AS DATE) = c.day
    )"""


def daily_series(spark, sf_dir):
    """Spark twin of _DAILY_SERIES_SQL: (day, x) zero-filled daily
    event counts. One groupBy-day scan of events; the spine is
    generated, never scanned. Calendar-bounded: one row per day at
    ANY data scale."""
    events = load_tables(spark, sf_dir)["events"]
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    counts = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    return spine.join(counts, "day", "left").select(
        "day", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )


def _acf_term_sql(lag: int) -> str:
    """One output row of the ACF oracle: a fixed IEEE expression over
    the exact integer moment sums (shared between the 7 UNION ALL
    arms so Spark and DuckDB evaluate identical scalar trees)."""
    l = lag
    return f"""
      SELECT {l} AS lag, CAST(m{l} AS BIGINT) AS n_pairs,
        ROUND((n * n * p{l} - n * s * (h{l} + t{l}) + (n - {l}) * s * s)
              / NULLIF(n * (n * q - s * s), 0), 9) AS acf
      FROM moments"""


@query(
    "t_autocorrelation_daily",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL},
    led AS (
      SELECT x,
             LEAD(x, 1) OVER (ORDER BY day) AS y1,
             LEAD(x, 2) OVER (ORDER BY day) AS y2,
             LEAD(x, 3) OVER (ORDER BY day) AS y3,
             LEAD(x, 4) OVER (ORDER BY day) AS y4,
             LEAD(x, 5) OVER (ORDER BY day) AS y5,
             LEAD(x, 6) OVER (ORDER BY day) AS y6,
             LEAD(x, 7) OVER (ORDER BY day) AS y7
      FROM series
    ),
    moments AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS s,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  AS DOUBLE) AS q,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y1 AS DECIMAL(19,0))) AS DOUBLE) AS p1,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0))) AS DOUBLE) AS p2,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y3 AS DECIMAL(19,0))) AS DOUBLE) AS p3,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y4 AS DECIMAL(19,0))) AS DOUBLE) AS p4,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y5 AS DECIMAL(19,0))) AS DOUBLE) AS p5,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y6 AS DECIMAL(19,0))) AS DOUBLE) AS p6,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y7 AS DECIMAL(19,0))) AS DOUBLE) AS p7,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN x END) AS DOUBLE) AS h1,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN x END) AS DOUBLE) AS h2,
             CAST(SUM(CASE WHEN y3 IS NOT NULL THEN x END) AS DOUBLE) AS h3,
             CAST(SUM(CASE WHEN y4 IS NOT NULL THEN x END) AS DOUBLE) AS h4,
             CAST(SUM(CASE WHEN y5 IS NOT NULL THEN x END) AS DOUBLE) AS h5,
             CAST(SUM(CASE WHEN y6 IS NOT NULL THEN x END) AS DOUBLE) AS h6,
             CAST(SUM(CASE WHEN y7 IS NOT NULL THEN x END) AS DOUBLE) AS h7,
             CAST(SUM(y1) AS DOUBLE) AS t1, CAST(SUM(y2) AS DOUBLE) AS t2,
             CAST(SUM(y3) AS DOUBLE) AS t3, CAST(SUM(y4) AS DOUBLE) AS t4,
             CAST(SUM(y5) AS DOUBLE) AS t5, CAST(SUM(y6) AS DOUBLE) AS t6,
             CAST(SUM(y7) AS DOUBLE) AS t7,
             CAST(COUNT(y1) AS BIGINT) AS m1, CAST(COUNT(y2) AS BIGINT) AS m2,
             CAST(COUNT(y3) AS BIGINT) AS m3, CAST(COUNT(y4) AS BIGINT) AS m4,
             CAST(COUNT(y5) AS BIGINT) AS m5, CAST(COUNT(y6) AS BIGINT) AS m6,
             CAST(COUNT(y7) AS BIGINT) AS m7
      FROM led
    )
    SELECT lag, n_pairs, acf FROM (
    """
    + "\n      UNION ALL".join(_acf_term_sql(l) for l in range(1, 8))
    + """
    ) ORDER BY lag
    """,
)
def t_autocorrelation_daily(spark, sf_dir):
    """Sample autocorrelation (lags 1-7) of the daily event-count
    series, zero-filled over the calendar spine. The series itself is
    calendar-bounded (one row per day — thousands of rows at ANY data
    scale), so the single-partition ordered window over it is safe by
    construction; the data-sized work is exactly one groupBy-day scan
    of events. ACF_l is expanded algebraically to integer moment sums
    (n² Σxy − nS(H+T) + (n−l)S²) / (n(nΣx² − S²)) so every input to
    the float math is exact (cross-products through DECIMAL(19,0)²,
    immune to count overflow at 100 TB) and the scalar IEEE tree is
    mirrored verbatim in the oracle — full-series mean, the
    statsmodels convention."""
    from pyspark.sql import Window as W

    series = daily_series(spark, sf_dir)
    w = W.orderBy("day")
    led = series.select(
        "x", *[F.lead("x", l).over(w).alias(f"y{l}") for l in range(1, 8)]
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(dec("x") * dec("x")).cast("double").alias("q"),
    ]
    for l in range(1, 8):
        aggs += [
            F.sum(dec("x") * dec(f"y{l}")).cast("double").alias(f"p{l}"),
            F.sum(F.when(F.col(f"y{l}").isNotNull(), F.col("x")))
            .cast("double")
            .alias(f"h{l}"),
            F.sum(f"y{l}").cast("double").alias(f"t{l}"),
            F.count(f"y{l}").cast("bigint").alias(f"m{l}"),
        ]
    m = led.agg(*aggs)
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    rows = []
    for l in range(1, 8):
        p, h, t_, cnt = (F.col(f"p{l}"), F.col(f"h{l}"), F.col(f"t{l}"),
                         F.col(f"m{l}"))
        # NULLIF guard: a constant series has zero variance — both
        # engines must return NULL, and ANSI Spark would otherwise
        # throw DIVIDE_BY_ZERO (the round-4 ADVICE zero-guard rule).
        acf = (n * n * p - n * s * (h + t_) + (n - l) * s * s) / F.nullif(
            n * (n * q - s * s), F.lit(0.0)
        )
        rows.append(
            m.select(
                F.lit(l).alias("lag"),
                cnt.alias("n_pairs"),
                F.round(acf, 9).alias("acf"),
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res.orderBy("lag")


@query(
    "t_theil_sen_trend",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL},
    idx AS (
      SELECT x, CAST(day - (SELECT lo FROM bounds) AS BIGINT) AS t
      FROM series
    ),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2,
             (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE))
               / (CAST(b.t AS DOUBLE) - CAST(a.t AS DOUBLE)) AS slope
      FROM idx a JOIN idx b ON a.t < b.t
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
    med_slope AS (
      SELECT slope FROM (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, t1, t2) AS rk
        FROM pairs
      ) WHERE rk = ((SELECT n_pairs FROM np) + 1) // 2
    ),
    resid AS (
      SELECT CAST(x AS DOUBLE) - (SELECT slope FROM med_slope)
               * CAST(t AS DOUBLE) AS r,
             t
      FROM idx
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx),
    icpt AS (
      SELECT r FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, t) AS rk FROM resid
      ) WHERE rk = ((SELECT n_days FROM nn) + 1) // 2
    )
    SELECT (SELECT n_days FROM nn) AS n_days,
           (SELECT n_pairs FROM np) AS n_pairs,
           ROUND((SELECT slope FROM med_slope), 9) AS slope,
           ROUND((SELECT r FROM icpt), 9) AS intercept
    """,
)
def t_theil_sen_trend(spark, sf_dir):
    """Theil-Sen robust trend of the daily event-count series: the
    median of all pairwise slopes (then the median residual as the
    intercept) — immune to the outlier days that wreck least-squares
    (cf. `agg_regression_by_group`). Reads the SAME zero-filled
    series as the autocorrelation (`_DAILY_SERIES_SQL` /
    `daily_series`). The pair set is (span_days choose 2) —
    CALENDAR-bounded, ~7M pairs even for a 10-year span, independent
    of corpus size; the only data-sized work is the one groupBy-day
    scan. Medians are exact lower-median rank selections
    ((n+1) div 2, integer both sides) over deterministically
    tie-broken orderings; each slope is one fixed IEEE division of
    exact integers."""
    from pyspark.sql import Window as W

    series = daily_series(spark, sf_dir)
    lo = series.agg(F.min("day").alias("lo"))
    idx = series.crossJoin(F.broadcast(lo)).select(
        "x", F.datediff("day", "lo").cast("bigint").alias("t")
    )
    a = idx.select(F.col("t").alias("t1"), F.col("x").alias("x1"))
    b = idx.select(F.col("t").alias("t2"), F.col("x").alias("x2"))
    pairs = (
        a.join(b, F.col("t1") < F.col("t2"))
        .select(
            "t1",
            "t2",
            (
                (F.col("x2").cast("double") - F.col("x1").cast("double"))
                / (F.col("t2").cast("double") - F.col("t1").cast("double"))
            ).alias("slope"),
        )
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    ranked = pairs.crossJoin(F.broadcast(np_)).withColumn(
        "rk", F.row_number().over(W.orderBy("slope", "t1", "t2"))
    )
    med_sel = ranked.filter(
        F.col("rk") == F.expr("(n_pairs + 1) div 2")
    ).select("slope")
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    # Degenerate shape is explicit: the one output row is built from
    # the always-one-row count aggregates, with the median slope and
    # residual LEFT-joined in — a single-day series (n_pairs = 0)
    # yields (n_days, 0, NULL, NULL) exactly like the oracle's
    # FROM-less scalar-subquery SELECT, instead of zero rows.
    base = nn.join(np_, F.lit(True), "left").join(
        med_sel, F.lit(True), "left"
    )
    resid = idx.crossJoin(F.broadcast(base.select("slope"))).select(
        "t",
        (
            F.col("x").cast("double")
            - F.col("slope") * F.col("t").cast("double")
        ).alias("r"),
    )
    icpt_sel = (
        resid.crossJoin(F.broadcast(nn))
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.asc_nulls_last("r"), "t")),
        )
        .filter(F.col("rk") == F.expr("(n_days + 1) div 2"))
        .select("r")
    )
    return base.join(icpt_sel, F.lit(True), "left").select(
        "n_days",
        "n_pairs",
        F.round("slope", 9).alias("slope"),
        F.round("r", 9).alias("intercept"),
    )


# Channel mapping of the attribution queries: props.k mod 4 → name.
ATTRIBUTION_CHANNELS = {0: "organic", 1: "paid", 2: "email", 3: "social"}


def attribution_channel_col():
    """Column expression: props.k mod 4 → channel name."""
    k4 = F.get_json_object("props", "$.k").cast("bigint") % 4
    expr = F.when(k4 == 0, ATTRIBUTION_CHANNELS[0])
    for i in (1, 2):
        expr = expr.when(k4 == i, ATTRIBUTION_CHANNELS[i])
    return expr.otherwise(ATTRIBUTION_CHANNELS[3])


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, event_id,
             CASE CAST(json_extract(props, '$.k') AS BIGINT) % 4
               WHEN 0 THEN 'organic' WHEN 1 THEN 'paid'
               WHEN 2 THEN 'email'   ELSE 'social' END AS channel
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS p_ts,
             CAST(value AS DECIMAL(18,4)) AS value
      FROM events WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT p.p_id, p.value, c.channel,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id
               ORDER BY c.c_ts DESC, c.event_id DESC
             ) AS rk
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
    ),
    last_touch AS (SELECT p_id, value, channel FROM attributed WHERE rk = 1),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases FROM purchases)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(value) AS DOUBLE) AS attributed_value,
           ROUND(COUNT(*) / CAST((SELECT n_purchases FROM np) AS DOUBLE), 9)
             AS share_of_purchases
    FROM last_touch
    GROUP BY channel
    ORDER BY channel
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase is credited
    to the channel of the user's most recent click at or before the
    purchase (channel derived from the synthetic props key, k mod 4 —
    the real column in a production feed). The as-of semantics are
    the `join_asof_click_before_purchase` family applied per
    PURCHASE (not per first-click), then rolled up to a channel
    report: conversions, DECIMAL-routed attributed revenue, share of
    all purchases. Scale shape: the user-keyed range join carries
    only (user, ts, channel) — the window that picks the latest
    touch partitions by purchase id, so no user's history concentrates
    on one task beyond its own purchase count; unattributed
    purchases (no prior click) fall out of the inner join and are
    visible as shares summing below 1."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    channel = attribution_channel_col()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        channel.alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,4)").alias("value"),
    )
    attributed = (
        purchases.join(clicks, "user_id")
        .filter(F.col("c_ts") <= F.col("p_ts"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("p_id").orderBy(
                    F.col("c_ts").desc(), F.col("c_id").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    np_ = purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
    return (
        attributed.crossJoin(F.broadcast(np_))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum("value").cast("double").alias("attributed_value"),
            F.round(
                F.count(F.lit(1))
                / F.first("n_purchases").cast("double"),
                9,
            ).alias("share_of_purchases"),
        )
        .orderBy("channel")
    )


@query(
    "t_seasonal_decompose_daily",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL},
    idx AS (
      SELECT x, CAST(day - (SELECT lo FROM bounds) AS BIGINT) AS t
      FROM series
    ),
    trend AS (
      SELECT t, x,
             CAST(SUM(x) OVER (ORDER BY t
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
             COUNT(*) OVER (ORDER BY t
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS w7
      FROM idx
    ),
    detrended AS (
      SELECT t % 7 AS weekday,
             7 * x - s7 AS d7
      FROM trend WHERE w7 = 7
    )
    SELECT CAST(weekday AS INT) AS weekday,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(d7) AS BIGINT) AS d7_sum,
           ROUND(CAST(SUM(d7) AS DOUBLE) / (7 * COUNT(*)), 9)
             AS seasonal_index
    FROM detrended
    GROUP BY weekday
    ORDER BY weekday
    """,
)
def t_seasonal_decompose_daily(spark, sf_dir):
    """Classical seasonal decomposition, weekday component: detrend
    the shared daily series with a centered 7-day moving average
    (full windows only), then average the detrended values per
    weekday phase ((day − lo) mod 7 — integer phase, immune to the
    Sunday-vs-Monday weekday-numbering split between engines). The
    fraction 1/7 never touches the data path: detrended values are
    kept as the INTEGER numerator 7x − S7, so the per-phase mean is a
    single division of exact integers at the output edge —
    `seasonal_index` is in events/day, positive = above-trend phase.
    One groupBy-day scan; the window runs over the calendar-bounded
    series."""
    from pyspark.sql import Window as W

    series = daily_series(spark, sf_dir)
    lo = series.agg(F.min("day").alias("lo"))
    idx = series.crossJoin(F.broadcast(lo)).select(
        "x", F.datediff("day", "lo").cast("bigint").alias("t")
    )
    w7 = W.orderBy("t").rowsBetween(-3, 3)
    trend = idx.select(
        "t",
        "x",
        F.sum("x").over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).alias("w7"),
    )
    detrended = trend.filter(F.col("w7") == 7).select(
        (F.col("t") % 7).cast("int").alias("weekday"),
        (7 * F.col("x") - F.col("s7")).alias("d7"),
    )
    return (
        detrended.groupBy("weekday")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("d7").cast("bigint").alias("d7_sum"),
            F.round(
                F.sum("d7").cast("double") / (7 * F.count(F.lit(1))), 9
            ).alias("seasonal_index"),
        )
        .orderBy("weekday")
    )


@query(
    "events_ab_srm_check",
    oracle=f"""
    WITH arms AS (
      SELECT DISTINCT user_id, {_AB_ARM_SQL} AS arm FROM events
    ),
    w AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_t,
        CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_c
      FROM arms
    )
    SELECT n_t, n_c,
           ROUND(CAST((n_t - n_c) AS DECIMAL(19,0)) * (n_t - n_c)
                 / CAST(n_t + n_c AS DOUBLE), 9) AS srm_chi2,
           (CAST(n_t - n_c AS DECIMAL(19,0)) * (n_t - n_c) * 1000
              > CAST(n_t + n_c AS DECIMAL(19,0)) * 3841) AS srm_flag
    FROM w
    """,
)
def events_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail for the hash-assigned
    experiment: under the shared `_AB_ARM_SQL` assignment the split
    is 50/50 by construction, so χ² = (n_t−n_c)²/n against the df=1
    critical value 3.841 detects broken bucketing, bot traffic, or a
    logging gap — the FIRST check any experimentation platform runs
    before reading lift (an SRM experiment's readout is garbage).
    The flag compare stays integral: (n_t−n_c)²·1000 > n·3841 on
    DECIMAL products (overflow-proof), never a float threshold; the
    reported χ² itself is one division of exact integers."""
    ev = load_tables(spark, sf_dir)["events"]
    arms = ev.select("user_id").distinct().select(
        ab_arm_col().alias("arm")
    )
    w = arms.agg(
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("bigint")
        .alias("n_c"),
    )
    d = F.col("n_t") - F.col("n_c")
    n = F.col("n_t") + F.col("n_c")
    return w.select(
        "n_t",
        "n_c",
        F.round(
            d.cast("decimal(19,0)") * d / n.cast("double"), 9
        ).alias("srm_chi2"),
        (
            d.cast("decimal(19,0)") * d * 1000
            > n.cast("decimal(19,0)") * 3841
        ).alias("srm_flag"),
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    wau AS (
      SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM ud, LATERAL (
        SELECT unnest(generate_series(ud.day, ud.day + 6, INTERVAL 1 DAY)) AS d
      )
      GROUP BY d
    ),
    mau AS (
      SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM ud, LATERAL (
        SELECT unnest(generate_series(ud.day, ud.day + 29, INTERVAL 1 DAY)) AS d
      )
      GROUP BY d
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud)
    SELECT strftime(CAST(dau.day AS DATE), '%Y-%m-%d') AS day,
           dau.dau, w.wau, m.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / m.mau, 9) AS stickiness,
           (dau.day >= (SELECT lo FROM bounds) + 29) AS full_mau
    FROM dau
    JOIN wau w ON CAST(w.day AS DATE) = dau.day
    JOIN mau m ON CAST(m.day AS DATE) = dau.day
    WHERE dau.day >= (SELECT lo FROM bounds) + 6
      AND dau.day <= (SELECT hi FROM bounds)
    ORDER BY day
    """,
)
def events_dau_wau_mau(spark, sf_dir):
    """The product-analytics staple: daily / trailing-7-day /
    trailing-30-day active users plus DAU/MAU stickiness, exact (no
    HLL) — a trailing DISTINCT can't be windowed directly, so each
    deduped (user, day) activity row is fanned out to the ≤30 future
    days it keeps the user 'active' for, and the per-day count
    distinct does the rest. The fan-out is a FIXED 30 on the
    activity-day frame (already collapsed to one row per user-day),
    the same bounded-explode shape as `join_interval_binned` — never
    data×data. Reported from the first full-WAU day, with a
    `full_mau` flag marking rows whose 30-day lookback is complete
    (partial-MAU rows are structurally understated — flagged, not
    hidden); stickiness
    is one guarded division of exact integers. DAU/WAU/MAU at 100 TB
    is this exact plan with the user-day dedup as the only
    fact-sized shuffle."""
    ev = load_tables(spark, sf_dir)["events"]
    ud = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))

    def trailing(n, alias):
        return (
            ud.select(
                "user_id",
                F.explode(
                    F.sequence(
                        F.col("day"),
                        F.date_add(F.col("day"), n - 1),
                    )
                ).alias("day"),
            )
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("bigint").alias(alias))
        )

    wau = trailing(7, "wau")
    mau = trailing(30, "mau")
    bounds = ud.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("day") >= F.date_add(F.col("lo"), 6))
            & (F.col("day") <= F.col("hi"))
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double")
                / F.nullif(F.col("mau").cast("double"), F.lit(0.0)),
                9,
            ).alias("stickiness"),
            (F.col("day") >= F.date_add(F.col("lo"), 29)).alias("full_mau"),
        )
        .orderBy("day")
    )


@query(
    "t_anomaly_seasonal_adjusted",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL},
    idx AS (
      SELECT day, x, CAST(day - (SELECT lo FROM bounds) AS BIGINT) AS t
      FROM series
    ),
    trend AS (
      SELECT day, t, x,
             CAST(SUM(x) OVER (ORDER BY t
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
             COUNT(*) OVER (ORDER BY t
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7
      FROM idx
    ),
    det AS (
      SELECT day, t % 7 AS weekday, x, 7 * x - s7 AS d7
      FROM trend WHERE w7 = 7
    ),
    season AS (
      SELECT weekday, CAST(COUNT(*) AS BIGINT) AS n_w,
             CAST(SUM(d7) AS BIGINT) AS d7_sum
      FROM det GROUP BY weekday
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.x,
           ROUND((CAST(d.d7 AS DOUBLE) * s.n_w - s.d7_sum)
                 / (7.0 * s.n_w), 9) AS residual
    FROM det d JOIN season s ON s.weekday = d.weekday
    ORDER BY ABS((CAST(d.d7 AS DOUBLE) * s.n_w - s.d7_sum)
                 / (7.0 * s.n_w)) DESC, day
    LIMIT 10
    """,
)
def t_anomaly_seasonal_adjusted(spark, sf_dir):
    """Top-10 anomaly days AFTER removing trend and weekday
    seasonality — the composition of the decomposition: residual_t =
    detrended_t − seasonal(weekday_t), where both terms come from the
    SAME shared fragments the ACF/Theil-Sen/decompose queries use
    (`_DAILY_SERIES_SQL`, the 7x−S7 integer detrend). The residual's
    numerator d7·n_w − Σd7(w) stays integral; one fixed IEEE division
    per row at the edge, |residual| ranking tie-broken by day. This
    is what a raw z-score day-outlier scan (t_zscore_outliers) gets
    WRONG on weekly-patterned traffic — Mondays aren't anomalies."""
    from pyspark.sql import Window as W

    series = daily_series(spark, sf_dir)
    lo = series.agg(F.min("day").alias("lo"))
    idx = series.crossJoin(F.broadcast(lo)).select(
        "day", "x", F.datediff("day", "lo").cast("bigint").alias("t")
    )
    w7 = W.orderBy("t").rowsBetween(-3, 3)
    det = (
        idx.select(
            "day",
            "t",
            "x",
            F.sum("x").over(w7).cast("bigint").alias("s7"),
            F.count(F.lit(1)).over(w7).alias("w7"),
        )
        .filter(F.col("w7") == 7)
        .select(
            "day",
            (F.col("t") % 7).alias("weekday"),
            "x",
            (7 * F.col("x") - F.col("s7")).alias("d7"),
        )
    )
    season = det.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_w"),
        F.sum("d7").cast("bigint").alias("d7_sum"),
    )
    joined = det.join(F.broadcast(season), "weekday")
    res = (
        F.col("d7").cast("double") * F.col("n_w") - F.col("d7_sum")
    ) / (7.0 * F.col("n_w"))
    return (
        joined.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.round(res, 9).alias("residual"),
            res.alias("_raw"),
        )
        # rank on the RAW residual exactly like the oracle's ORDER BY
        # — ranking on the rounded column could flip the limit cutoff
        .orderBy(F.abs(F.col("_raw")).desc(), "day")
        .limit(10)
        .drop("_raw")
    )


@query(
    "t_cross_correlation_click_purchase",
    oracle="""
    WITH eb AS (
      SELECT CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS lo,
             CAST(date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM eb
    ),
    ec AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    oc AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    series AS (
      SELECT CAST(s.day AS DATE) AS day,
             COALESCE(ec.x, 0) AS x, COALESCE(oc.y, 0) AS y
      FROM spine s
      LEFT JOIN ec ON ec.day = CAST(s.day AS DATE)
      LEFT JOIN oc ON oc.day = CAST(s.day AS DATE)
    ),
    led AS (
      SELECT x, y,
             LEAD(y, 1) OVER (ORDER BY day) AS y1,
             LEAD(y, 2) OVER (ORDER BY day) AS y2,
             LEAD(y, 3) OVER (ORDER BY day) AS y3,
             LEAD(x, 1) OVER (ORDER BY day) AS x1,
             LEAD(x, 2) OVER (ORDER BY day) AS x2,
             LEAD(x, 3) OVER (ORDER BY day) AS x3
      FROM series
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy0,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * y1) AS DOUBLE) AS sxy1,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * y2) AS DOUBLE) AS sxy2,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * y3) AS DOUBLE) AS sxy3,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * x1) AS DOUBLE) AS syx1,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * x2) AS DOUBLE) AS syx2,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * x3) AS DOUBLE) AS syx3,
             CAST(COUNT(y1) AS DOUBLE) AS m1, CAST(COUNT(y2) AS DOUBLE) AS m2,
             CAST(COUNT(y3) AS DOUBLE) AS m3,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN x END) AS DOUBLE) AS hx1,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN x END) AS DOUBLE) AS hx2,
             CAST(SUM(CASE WHEN y3 IS NOT NULL THEN x END) AS DOUBLE) AS hx3,
             CAST(SUM(y1) AS DOUBLE) AS ty1, CAST(SUM(y2) AS DOUBLE) AS ty2,
             CAST(SUM(y3) AS DOUBLE) AS ty3,
             CAST(SUM(CASE WHEN x1 IS NOT NULL THEN y END) AS DOUBLE) AS hy1,
             CAST(SUM(CASE WHEN x2 IS NOT NULL THEN y END) AS DOUBLE) AS hy2,
             CAST(SUM(CASE WHEN x3 IS NOT NULL THEN y END) AS DOUBLE) AS hy3,
             CAST(SUM(x1) AS DOUBLE) AS tx1, CAST(SUM(x2) AS DOUBLE) AS tx2,
             CAST(SUM(x3) AS DOUBLE) AS tx3
      FROM led
    )
    SELECT lag, n_pairs,
           ROUND(num / NULLIF(n_full * SQRT(denx) * SQRT(deny), 0), 9)
             AS xcorr
    FROM (
      SELECT 0 AS lag, CAST(n AS BIGINT) AS n_pairs, n AS n_full,
             n * n * sxy0 - n * sx * sy AS num,
             n * sxx - sx * sx AS denx, n * syy - sy * sy AS deny
      FROM m
      UNION ALL SELECT 1, CAST(m1 AS BIGINT), n,
             n * n * sxy1 - n * sx * ty1 - n * sy * hx1 + m1 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
      UNION ALL SELECT 2, CAST(m2 AS BIGINT), n,
             n * n * sxy2 - n * sx * ty2 - n * sy * hx2 + m2 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
      UNION ALL SELECT 3, CAST(m3 AS BIGINT), n,
             n * n * sxy3 - n * sx * ty3 - n * sy * hx3 + m3 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
      UNION ALL SELECT -1, CAST(m1 AS BIGINT), n,
             n * n * syx1 - n * sy * tx1 - n * sx * hy1 + m1 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
      UNION ALL SELECT -2, CAST(m2 AS BIGINT), n,
             n * n * syx2 - n * sy * tx2 - n * sx * hy2 + m2 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
      UNION ALL SELECT -3, CAST(m3 AS BIGINT), n,
             n * n * syx3 - n * sy * tx3 - n * sx * hy3 + m3 * sx * sy,
             n * sxx - sx * sx, n * syy - sy * sy FROM m
    ) ORDER BY lag
    """,
)
def t_cross_correlation_click_purchase(spark, sf_dir):
    """Lead-lag cross-correlation between the daily CLICK series and
    the daily PURCHASE series at lags −3..+3 (positive lag = clicks
    lead purchases) — the demand-signal diagnostic behind "does
    activity today predict conversions in k days". (The TPC-H orders
    table lives in a different calendar than events — 1995 vs 2024 —
    so the cross-series pair must come from the SAME feed.) Same algebraic discipline as the
    ACF: every moment is an exact integer sum (DECIMAL(19,0)²
    cross-products), the per-lag coefficient is a mirrored fixed IEEE
    tree with NULLIF guards, and the only data-sized work is the two
    groupBy-day scans — the lead columns live on the calendar-bounded
    zero-filled spine. Convention (stated): full-series means and
    variances normalize every lag, the numerator sums over the
    overlap — the standard cross-correlogram definition."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    # round 12: ONE filtered scan + groupBy-day with conditional
    # counts replaces two per-type scans and two spine joins — the
    # per-day click/purchase counts are the same integers (a day
    # missing a type aggregates that type's WHEN to 0, exactly what
    # the old per-type LEFT JOIN + COALESCE produced; days with
    # neither type still enter via the spine join's COALESCE)
    both = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
    )
    series = (
        spine.join(both, "day", "left")
        .select(
            "day",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
        # calendar-day-bounded frame; the lead window + the 25-term
        # moment aggregate referenced it from many branches, each
        # re-running the event scans + spine build (28 scans in the
        # one-scan rewrite's plan, 42 before it) — one
        # materialization serves all
        .localCheckpoint(eager=True)
    )
    w = W.orderBy("day")
    led = series.select(
        "x",
        "y",
        *[F.lead("y", l).over(w).alias(f"y{l}") for l in (1, 2, 3)],
        *[F.lead("x", l).over(w).alias(f"x{l}") for l in (1, 2, 3)],
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy0"),
    ]
    for l in (1, 2, 3):
        aggs += [
            F.sum(dec("x") * F.col(f"y{l}")).cast("double").alias(f"sxy{l}"),
            F.sum(dec("y") * F.col(f"x{l}")).cast("double").alias(f"syx{l}"),
            F.count(f"y{l}").cast("double").alias(f"m{l}"),
            F.sum(F.when(F.col(f"y{l}").isNotNull(), F.col("x")))
            .cast("double")
            .alias(f"hx{l}"),
            F.sum(f"y{l}").cast("double").alias(f"ty{l}"),
            F.sum(F.when(F.col(f"x{l}").isNotNull(), F.col("y")))
            .cast("double")
            .alias(f"hy{l}"),
            F.sum(f"x{l}").cast("double").alias(f"tx{l}"),
        ]
    m = led.agg(*aggs)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy = F.col("sxx"), F.col("syy")
    rows = [
        m.select(
            F.lit(0).alias("lag"),
            n.cast("bigint").alias("n_pairs"),
            n.alias("n_full"),
            (n * n * F.col("sxy0") - n * sx * sy).alias("num"),
            (n * sxx - sx * sx).alias("denx"),
            (n * syy - sy * sy).alias("deny"),
        )
    ]
    for l in (1, 2, 3):
        ml = F.col(f"m{l}")
        rows.append(
            m.select(
                F.lit(l).alias("lag"),
                ml.cast("bigint").alias("n_pairs"),
                n.alias("n_full"),
                (
                    n * n * F.col(f"sxy{l}")
                    - n * sx * F.col(f"ty{l}")
                    - n * sy * F.col(f"hx{l}")
                    + ml * sx * sy
                ).alias("num"),
                (n * sxx - sx * sx).alias("denx"),
                (n * syy - sy * sy).alias("deny"),
            )
        )
        rows.append(
            m.select(
                F.lit(-l).alias("lag"),
                ml.cast("bigint").alias("n_pairs"),
                n.alias("n_full"),
                (
                    n * n * F.col(f"syx{l}")
                    - n * sy * F.col(f"tx{l}")
                    - n * sx * F.col(f"hy{l}")
                    + ml * sx * sy
                ).alias("num"),
                (n * sxx - sx * sx).alias("denx"),
                (n * syy - sy * sy).alias("deny"),
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    xcorr = F.col("num") / F.nullif(
        F.col("n_full") * F.sqrt(F.col("denx")) * F.sqrt(F.col("deny")),
        F.lit(0.0),
    )
    return res.select(
        "lag", "n_pairs", F.round(xcorr, 9).alias("xcorr")
    ).orderBy("lag")


@query(
    "t_cohort_ltv_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE))
               AS cohort
      FROM events GROUP BY user_id
    ),
    cohort_size AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort
    ),
    purchases AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort,
                  CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE))
                  // 7 AS INT) AS age_weeks,
             CAST(e.value AS DECIMAL(18,4)) AS v
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
    ),
    by_age AS (
      SELECT cohort, age_weeks,
             CAST(SUM(v) AS DECIMAL(38,4)) AS rev
      FROM purchases GROUP BY 1, 2
    )
    SELECT strftime(b.cohort, '%Y-%m-%d') AS cohort, b.age_weeks,
           cs.n_users,
           CAST(SUM(b.rev) OVER (
             PARTITION BY b.cohort ORDER BY b.age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cum_revenue,
           ROUND(CAST(SUM(b.rev) OVER (
             PARTITION BY b.cohort ORDER BY b.age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / cs.n_users, 9) AS ltv_per_user
    FROM by_age b JOIN cohort_size cs ON cs.cohort = b.cohort
    ORDER BY cohort, age_weeks
    """,
)
def t_cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curve: users grouped by first-seen
    WEEK, cumulative DECIMAL-routed purchase revenue per cohort as a
    function of cohort age in weeks, normalized per cohort member —
    the revenue twin of `t_retention_cohorts` (retention counts
    presence; LTV integrates value). Cohort age is integer calendar
    arithmetic (week-start day-diff div 7 — no timestamp
    subtraction), the cumulative window runs over the
    (cohorts × ages) frame which is calendar²-bounded, and the
    per-user division is one guarded flop at the edge."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts")).cast("date")).alias(
            "cohort"
        )
    )
    cohort_size = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort",
            F.expr(
                "cast(datediff(cast(date_trunc('week', ts) as date),"
                " cohort) div 7 as int)"
            ).alias("age_weeks"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
    )
    by_age = purchases.groupBy("cohort", "age_weeks").agg(
        F.sum("v").cast("decimal(38,4)").alias("rev")
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("rev").over(w).cast("double")
    return (
        by_age.join(F.broadcast(cohort_size), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "age_weeks",
            "n_users",
            cum.alias("cum_revenue"),
            F.round(cum / F.col("n_users"), 9).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


@query(
    "events_ab_power_analysis",
    oracle=f"""
    WITH arms AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv,
             CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS p0
      FROM arms
    )
    SELECT mde_rel, n_users, n_conv, ROUND(p0, 9) AS baseline_cr,
           CAST(CEIL(
             POWER(1.959964 * SQRT(2 * pbar * (1 - pbar))
                   + 0.841621 * SQRT(p0 * (1 - p0) + p1 * (1 - p1)), 2)
             / NULLIF(delta * delta, 0)) AS BIGINT) AS n_per_arm,
           (CAST(CEIL(
             POWER(1.959964 * SQRT(2 * pbar * (1 - pbar))
                   + 0.841621 * SQRT(p0 * (1 - p0) + p1 * (1 - p1)), 2)
             / NULLIF(delta * delta, 0)) AS BIGINT) * 2 <= n_users) AS feasible_now
    FROM (
      SELECT b.*, m.mde_rel,
             LEAST(b.p0 * (1 + m.mde_rel), 1.0) AS p1,
             b.p0 * m.mde_rel AS delta,
             (b.p0 + LEAST(b.p0 * (1 + m.mde_rel), 1.0)) / 2 AS pbar
      FROM base b,
           (SELECT unnest([0.05, 0.10, 0.20]) AS mde_rel) m
    )
    ORDER BY mde_rel
    """,
)
def events_ab_power_analysis(spark, sf_dir):
    """Experiment sizing (two-proportion z-test power analysis,
    α=0.05 two-sided, power=0.80): per relative MDE (5/10/20%), the
    required users per arm given the MEASURED baseline conversion —
    the third leg of the experimentation tier (assignment:
    `events_ab_test_report`; health: `events_ab_srm_check`; sizing:
    this). The z quantiles ride as 6-dp literals (1.959964, 0.841621
    — no erf in either engine), the baseline (HIGH-VALUE
    conversion: a purchase of value >= 200 — the any-purchase rate
    saturates at 1.0 on this fixture, sizing everything to zero)
    comes from one user aggregate, and the sizing formula is a
    mirrored fixed IEEE tree;
    `feasible_now` is the integer compare n_per_arm·2 <= n_users;
    a target rate is clamped at 1.0 (a baseline too high to lift by
    the requested MDE sizes against the ceiling instead of erroring).
    POWER(x, 2) is the literal-exponent square both engines
    constant-fold identically — verified by the value hash."""
    ev = load_tables(spark, sf_dir)["events"]
    arms = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 200)
            ).cast("int")
        ).alias("converted")
    )
    base = arms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("p0"),
    )
    mdes = base.select(
        "*",
        F.explode(F.array(F.lit(0.05), F.lit(0.10), F.lit(0.20))).alias(
            "mde_rel"
        ),
    ).select(
        "*",
        F.least(
            F.col("p0") * (1 + F.col("mde_rel")), F.lit(1.0)
        ).alias("p1"),
        (F.col("p0") * F.col("mde_rel")).alias("delta"),
        (
            (
                F.col("p0")
                + F.least(
                    F.col("p0") * (1 + F.col("mde_rel")), F.lit(1.0)
                )
            )
            / 2
        ).alias("pbar"),
    )
    p0, p1, pbar, delta = (
        F.col("p0"),
        F.col("p1"),
        F.col("pbar"),
        F.col("delta"),
    )
    n_arm = F.ceil(
        F.pow(
            1.959964 * F.sqrt(2 * pbar * (1 - pbar))
            + 0.841621 * F.sqrt(p0 * (1 - p0) + p1 * (1 - p1)),
            2,
        )
        / F.nullif(delta * delta, F.lit(0.0))
    ).cast("bigint")
    return mdes.select(
        "mde_rel",
        "n_users",
        "n_conv",
        F.round(p0, 9).alias("baseline_cr"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2 <= F.col("n_users")).alias("feasible_now"),
    ).orderBy("mde_rel")
