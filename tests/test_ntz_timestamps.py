"""Regression: naive-parquet timestamps must never surface as
TIMESTAMP_NTZ to operators.

The driver's testdata carries events.ts as parquet ``timestamp[us]``
with ``isAdjustedToUTC=false``; Spark 4's default
``spark.sql.parquet.inferTimestampNTZ.enabled=true`` reads that as
TIMESTAMP_NTZ, a type that supports neither ``CAST(ts AS BIGINT)`` nor
``unix_micros(ts)`` — round 2's bench and two CORRECTNESS rows died on
exactly this (BENCH_r02.json rc=1). ``load_tables`` now normalizes any
NTZ column to TIMESTAMP_LTZ (session tz = UTC, so rendered values and
the DuckDB-oracle comparison are unchanged). These tests pin that.
"""

import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from tests.conftest import SF_DIR


def test_loaded_events_ts_is_ltz(tables):
    assert isinstance(tables["events"].schema["ts"].dataType, TimestampType)
    for name, df in tables.items():
        for f in df.schema.fields:
            assert not isinstance(f.dataType, TimestampNTZType), (
                f"{name}.{f.name} leaked TIMESTAMP_NTZ"
            )


def test_raw_read_is_ntz_without_normalization(spark):
    # Sanity that the hazard is real in this environment: a bare read
    # (inferTimestampNTZ on) yields NTZ — i.e. load_tables' cast is
    # doing the protection, not a lucky reader default.
    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
        assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)


@pytest.mark.parametrize(
    "name",
    [
        "t3_session_windows",
        "t_sessionize_gaps",
        "t2_tumbling_window_events",
        "t_ewma_events",
        "t_funnel_click_to_purchase",
        "join_asof_click_before_purchase",
    ],
)
def test_epoch_arithmetic_queries_run_on_real_testdata(spark, name):
    # The r2 failures resolved epoch math against the raw column; run
    # every epoch-arithmetic query end-to-end on the real parquet.
    from elastic_freight_spark import registry

    registry.load_all()
    assert registry.QUERIES[name](spark, SF_DIR).count() > 0


def test_t_interval_coverage_matches_python_recompute(spark):
    """Merge the 5-minute activity intervals per user in plain Python
    and compare n_islands / covered_us / span_us exactly."""
    from collections import defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.temporal import COVERAGE_WINDOW_US
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_islands"], r["covered_us"], r["span_us"])
        for r in registry.QUERIES["t_interval_coverage"](spark, sf).collect()
    }
    per_user = defaultdict(list)
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "unix_micros(ts) AS s")
        .collect()
    ):
        per_user[row["user_id"]].append(row["s"])
    want = {}
    for uid, starts in per_user.items():
        starts.sort()
        islands = []
        for s in starts:
            e = s + COVERAGE_WINDOW_US
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[uid] = (
            len(islands),
            sum(e - s for s, e in islands),
            islands[-1][1] - islands[0][0],
        )
    assert got == want


def test_t_interval_coverage_cross_engine_on_adversarial_events(
    spark, tmp_path
):
    """Spark vs DuckDB on hand-built hostile event sequences:
    duplicate (user, ts) pairs (the island-id cumsum must use the
    same event_id tie order in both engines), exactly-adjacent
    half-open windows (start == previous end merges), and an
    interval fully nested under a long predecessor (the running max
    must look past the immediately preceding row)."""
    import datetime as dt

    import duckdb

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.temporal import COVERAGE_WINDOW_US

    registry.load_all()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    w_s = COVERAGE_WINDOW_US // 1_000_000

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: duplicate timestamps (event_id tie-break in play)
        (10, ts(0), 1), (11, ts(0), 1), (12, ts(0), 1),
        # user 2: exactly adjacent — second starts AT first's end
        (20, ts(0), 2), (21, ts(w_s), 2),
        # user 2: clear gap after
        (22, ts(3 * w_s + 1), 2),
        # user 3: nesting — long head, two intervals inside its span,
        # then one that starts inside but extends past
        (30, ts(0), 3), (31, ts(10), 3), (32, ts(20), 3),
        (33, ts(w_s - 1), 3),
        # user 4: strictly one microsecond past adjacency (new island)
        (40, ts(0), 4),
        (41, t0 + dt.timedelta(microseconds=COVERAGE_WINDOW_US + 1), 4),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(e, t, u, "click", 1.0, "{}") for e, t, u in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["t_interval_coverage"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(registry.ORACLE["t_interval_coverage"]).fetchall()
    )
    assert got == want
    by_user = {r[0]: r[1:] for r in got}
    W = COVERAGE_WINDOW_US
    assert by_user[1] == (1, W, W)  # three duplicates = one island
    assert by_user[2] == (2, 3 * W, 4 * W + 1_000_000)  # adjacency merges
    assert by_user[3] == (1, 2 * W - 1_000_000, 2 * W - 1_000_000)  # nesting
    assert by_user[4] == (2, 2 * W, 2 * W + 1)  # 1 us past = new island


def test_events_audience_overlap_matches_python_recompute(spark):
    """Recompute the segment-overlap matrix from distinct (type,
    user) sets in plain Python."""
    from collections import defaultdict
    from itertools import combinations

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_a"], r["n_b"], r["n_both"], r["jaccard"]
        )
        for r in registry.QUERIES["events_audience_overlap"](spark, sf).collect()
    }
    segs = defaultdict(set)
    for row in load_tables(spark, sf)["events"].select(
        "event_type", "user_id"
    ).collect():
        segs[row["event_type"]].add(row["user_id"])
    want = {}
    for ta, tb in combinations(sorted(segs), 2):
        both = len(segs[ta] & segs[tb])
        if both:
            want[(ta, tb)] = (
                len(segs[ta]),
                len(segs[tb]),
                both,
                round(both / (len(segs[ta]) + len(segs[tb]) - both), 9),
            )
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3]
        assert abs(got[k][3] - want[k][3]) < 1e-9


def test_t_time_weighted_average_matches_python_recompute(spark):
    """Step-function TWA recomputed in plain Python; single-event
    users must be NULL (zero span), never inf/NaN."""
    from collections import defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twa_value"])
        for r in registry.QUERIES["t_time_weighted_average"](spark, sf).collect()
    }
    per_user = defaultdict(list)
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS s", "value")
        .collect()
    ):
        per_user[row["user_id"]].append((row["s"], row["event_id"], row["value"]))
    assert set(got) == set(per_user)
    for uid, evs in per_user.items():
        evs.sort()
        span = evs[-1][0] - evs[0][0]
        if span == 0:
            assert got[uid][2] is None
            continue
        area = sum(
            v * (evs[i + 1][0] - s)
            for i, (s, _, v) in enumerate(evs[:-1])
        )
        assert got[uid][0] == len(evs)
        assert got[uid][1] == span
        assert abs(got[uid][2] - round(area / span, 9)) < 1e-8


def test_join_asof_nearest_matches_python_recompute(spark):
    """merge_asof(direction='nearest', tolerance=2h) semantics
    recomputed in plain Python: min |gap| within tolerance, ties to
    the earlier click, left rows preserved."""
    from collections import defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.operators.temporal import ASOF_NEAREST_TOL_US
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: (r["nearest_click_us"], r["gap_us"], r["click_value"])
        for r in registry.QUERIES["join_asof_nearest"](spark, sf).collect()
    }
    clicks = defaultdict(dict)  # user -> {cs: max value}
    purchases = []
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS s",
                    "event_type", "value")
        .collect()
    ):
        if row["event_type"] == "click":
            cur = clicks[row["user_id"]].get(row["s"])
            clicks[row["user_id"]][row["s"]] = (
                row["value"] if cur is None else max(cur, row["value"])
            )
        elif row["event_type"] == "purchase":
            purchases.append((row["user_id"], row["event_id"], row["s"]))
    want = {}
    for uid, eid, ps in purchases:
        best = None
        for cs, val in clicks.get(uid, {}).items():
            gap = abs(ps - cs)
            if gap <= ASOF_NEAREST_TOL_US and (
                best is None or (gap, cs) < (best[1], best[0])
            ):
                best = (cs, gap, val)
        want[eid] = best if best else (None, None, None)
    assert got == want
    assert any(v[0] is not None for v in got.values())


def test_events_survival_km_matches_python_recompute(spark):
    """Kaplan-Meier recomputed in plain Python with the textbook
    product form; censoring taken at each user's last event."""
    from collections import Counter, defaultdict

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = [
        (r["day"], r["n_at_risk"], r["n_events"], r["n_censored"],
         r["km_survival"])
        for r in registry.QUERIES["events_survival_km"](spark, sf).collect()
    ]
    first = {}
    last = {}
    first_purchase = {}
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "unix_micros(ts) AS s", "event_type")
        .collect()
    ):
        u, s_us = row["user_id"], row["s"]
        first[u] = min(first.get(u, s_us), s_us)
        last[u] = max(last.get(u, s_us), s_us)
        if row["event_type"] == "purchase":
            first_purchase[u] = min(first_purchase.get(u, s_us), s_us)
    durations = []
    for u in first:
        if u in first_purchase:
            durations.append(((first_purchase[u] - first[u]) // 86400000000, 1))
        else:
            durations.append(((last[u] - first[u]) // 86400000000, 0))
    ev_days = Counter(d for d, c in durations if c == 1)
    cens_days = Counter(d for d, c in durations if c == 0)
    surv = 1.0
    want = []
    for d in sorted(ev_days):
        n_risk = sum(1 for dd, _ in durations if dd >= d)
        n_ev = ev_days[d]
        surv *= max(1.0 - n_ev / n_risk, 1e-300)
        want.append((d, n_risk, n_ev, cens_days.get(d, 0), round(surv, 9)))
    assert [g[:4] for g in got] == [w[:4] for w in want]
    for g, w in zip(got, want):
        assert abs(g[4] - w[4]) < 1e-8
    # survival is monotone non-increasing and starts below 1
    kms = [g[4] for g in got]
    assert all(a >= b for a, b in zip(kms, kms[1:]))
    assert kms[0] < 1.0


def test_events_ab_test_report_matches_python_recompute(spark):
    """Hash-assignment A/A readout recomputed in plain Python; on a
    null experiment |z| must be small (the assignment is independent
    of behavior by construction)."""
    import hashlib
    import math

    from elastic_freight_spark import registry
    from elastic_freight_spark.session import load_tables

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    r = registry.QUERIES["events_ab_test_report"](spark, sf).collect()[0]
    users = {}
    for row in (
        load_tables(spark, sf)["events"]
        .selectExpr("user_id", "event_type")
        .collect()
    ):
        users[row["user_id"]] = users.get(row["user_id"], 0) or int(
            row["event_type"] == "purchase"
        )
    n_t = c_t = n_c = c_c = 0
    for u, conv in users.items():
        if hashlib.md5(f"ab:{u}".encode()).hexdigest() < "8":
            n_t += 1
            c_t += conv
        else:
            n_c += 1
            c_c += conv
    assert (r["n_t"], r["c_t"], r["n_c"], r["c_c"]) == (n_t, c_t, n_c, c_c)
    p_t, p_c = c_t / n_t, c_c / n_c
    pooled = (c_t + c_c) / (n_t + n_c)
    se = math.sqrt(pooled * (1 - pooled) * (1 / n_t + 1 / n_c))
    z = (p_t - p_c) / se if se else None
    assert abs(r["lift_abs"] - round(p_t - p_c, 9)) < 1e-9
    if z is None:
        # degenerate pooled rate (0 or 1): both sides must agree NULL
        assert r["z_score"] is None
    else:
        assert abs(r["z_score"] - round(z, 9)) < 1e-8
        assert abs(r["z_score"]) < 4.0  # A/A: no real effect


def test_events_ab_test_report_detects_synthetic_effect(spark, tmp_path):
    """A constructed corpus where hash-assigned treatment users
    convert far more often must yield a large positive z."""
    import datetime as dt
    import hashlib

    from elastic_freight_spark import registry

    registry.load_all()
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(400):
        treated = hashlib.md5(f"ab:{u}".encode()).hexdigest() < "8"
        rows.append((eid, t0, u, "view", 1.0, "{}")); eid += 1
        # treatment converts ~80% (u % 5 != 0), control ~20% (u % 5 == 0)
        if (treated and u % 5 != 0) or (not treated and u % 5 == 0):
            rows.append((eid, t0, u, "purchase", 1.0, "{}")); eid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    r = registry.QUERIES["events_ab_test_report"](spark, sf).collect()[0]
    assert r["n_t"] + r["n_c"] == 400
    assert r["cr_treatment"] > 0.7 and r["cr_control"] < 0.3
    assert r["z_score"] > 5.0


def test_t3_session_windows_subsecond_gap(spark, tmp_path):
    """A gap of 30 min + 0.5 s opens a new session: the gap compare
    is exact in microseconds, as in the oracle's interval compare
    (whole-second casts truncated it to exactly 30 min, one session)."""
    import datetime as dt

    from elastic_freight_spark import registry

    registry.load_all()
    t0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=30, milliseconds=500)
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, t0, 7, "view", 1.0, "{}"), (2, t0 + gap, 7, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    rows = registry.QUERIES["t3_session_windows"](spark, sf).collect()
    assert len(rows) == 2
