"""Unit pins for the round-6 distributed-rank helpers
(windows.bucketed_cum / dist_rank / dist_rank_unique): exact
equivalence to the single-window row_number/cumulative they replace,
on adversarial shapes — heavy ties, a single hot value, singleton
buckets, descending order — plus the plan property that no Window in
their output is data-partitioned on an empty spec."""
import random

import pytest
from pyspark.sql import Window as W, functions as F

from elastic_freight_spark.operators.windows import (
    bucketed_cum,
    dist_rank,
    dist_rank_unique,
)


def _ranks(df, cols):
    return {
        tuple(r)
        for r in df.withColumn(
            "rank", F.row_number().over(W.orderBy(*cols)).cast("bigint")
        )
        .select("k", "rank")
        .collect()
    }


@pytest.mark.parametrize("seed,vdomain", [(7, 9), (11, 2), (13, 1000)])
def test_dist_rank_equals_row_number(spark, seed, vdomain):
    random.seed(seed)
    rows = [(i * 3 + 1, random.randint(0, vdomain)) for i in range(503)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        tuple(r)
        for r in dist_rank(
            df, "v", "k", F.expr("v div 3"), key_div=37
        )
        .select("k", "rank")
        .collect()
    }
    assert got == _ranks(df, ["v", "k"])


def test_dist_rank_single_hot_value(spark):
    """Every row shares ONE v (the worst tie block): ranks must come
    entirely from the key-range machinery."""
    df = spark.createDataFrame([(i, 5) for i in range(200)], "k long, v long")
    got = {
        tuple(r)
        for r in dist_rank(df, "v", "k", F.expr("v div 3"), key_div=16)
        .select("k", "rank")
        .collect()
    }
    assert got == {(i, i + 1) for i in range(200)}


def test_dist_rank_unique_equals_row_number(spark):
    random.seed(3)
    ks = random.sample(range(100_000), 700)
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = {
        tuple(r)
        for r in dist_rank_unique(df, "k", key_div=64, bucket_div=8)
        .select("k", "rank")
        .collect()
    }
    want = {(k, i + 1) for i, k in enumerate(sorted(ks))}
    assert got == want


@pytest.mark.parametrize("ascending", [True, False])
def test_bucketed_cum_matches_global_window(spark, ascending):
    random.seed(5)
    rows = [(v, random.randint(1, 9)) for v in random.sample(range(500), 80)]
    cnt = spark.createDataFrame(rows, "v long, c long").withColumn(
        "b", F.expr("v div 7")
    )
    got = {
        (r["v"], r["c_cum"])
        for r in bucketed_cum(cnt, "v", "b", ["c"], ascending=ascending).collect()
    }
    order = F.col("v").asc() if ascending else F.col("v").desc()
    want = {
        (r["v"], r["c_cum"])
        for r in cnt.select(
            "v",
            F.sum("c")
            .over(
                W.orderBy(order).rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .alias("c_cum"),
        ).collect()
    }
    assert got == want


def test_bucketed_cum_grouped_multi_sum(spark):
    rows = [
        ("a", 1, 2, 10),
        ("a", 3, 1, 5),
        ("a", 5, 4, 1),
        ("b", 1, 7, 2),
        ("b", 9, 1, 1),
    ]
    cnt = spark.createDataFrame(rows, "g string, v long, c long, m long").withColumn(
        "b", F.expr("v div 4")
    )
    out = {
        (r["g"], r["v"]): (r["c_cum"], r["m_cum"])
        for r in bucketed_cum(cnt, "v", "b", ["c", "m"], grp_cols=["g"]).collect()
    }
    assert out == {
        ("a", 1): (2, 10),
        ("a", 3): (3, 15),
        ("a", 5): (7, 16),
        ("b", 1): (7, 2),
        ("b", 9): (8, 3),
    }


def test_dist_rank_unique_negative_keys(spark):
    """Signed-domain pin (round-6 advisor): Spark's `div` truncates
    toward zero, which is monotone — range 0 is just double-width —
    so ranks stay exact for negative keys. Keys straddle every edge:
    -key_div, -1, 0, key_div-1, and deep negatives."""
    random.seed(17)
    ks = random.sample(range(-50_000, 50_000), 600)
    for edge in (-64, -1, 0, 63, 64, -65):
        if edge not in ks:
            ks.append(edge)
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = {
        tuple(r)
        for r in dist_rank_unique(df, "k", key_div=64, bucket_div=8)
        .select("k", "rank")
        .collect()
    }
    assert got == {(k, i + 1) for i, k in enumerate(sorted(ks))}


def test_dist_rank_negative_values_and_keys(spark):
    """dist_rank with negative v AND negative unique keys: the
    truncating `div` bucketing stays monotone on both axes."""
    random.seed(19)
    rows = [
        (k, random.randint(-30, 30))
        for k in random.sample(range(-5_000, 5_000), 400)
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        tuple(r)
        for r in dist_rank(df, "v", "k", F.expr("v div 7"), key_div=37)
        .select("k", "rank")
        .collect()
    }
    assert got == _ranks(df, ["v", "k"])


def test_dist_rank_unique_sparse_64bit_domain(spark):
    """Ultra-wide sparse key domain (64-bit ids): most key ranges and
    most bucket-of-bucket ranges hold a single row, so every offset
    path is exercised with huge `_kb` values (no overflow: bigint all
    the way through)."""
    random.seed(23)
    # random.sample needs len(range) < 2**63; draw directly instead
    ks = sorted({random.randrange(-(2**62), 2**62) for _ in range(500)})
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = {
        tuple(r)
        for r in dist_rank_unique(df, "k", key_div=65536, bucket_div=4096)
        .select("k", "rank")
        .collect()
    }
    assert got == {(k, i + 1) for i, k in enumerate(sorted(ks))}


def test_dist_rank_all_ties_sparse_keys(spark):
    """All-ties frame over a sparse signed key domain: the value
    machinery contributes one tie block; ordering comes entirely from
    key ranges that are mostly singletons."""
    random.seed(29)
    ks = random.sample(range(-(2**40), 2**40), 300)
    df = spark.createDataFrame([(k, 0) for k in ks], "k long, v long")
    got = {
        tuple(r)
        for r in dist_rank(df, "v", "k", F.expr("v div 3"), key_div=64)
        .select("k", "rank")
        .collect()
    }
    assert got == {(k, i + 1) for i, k in enumerate(sorted(ks))}


@pytest.mark.parametrize("ascending", [True, False])
def test_bucketed_cum_negative_value_domain(spark, ascending):
    """bucketed_cum on a signed value domain with the truncating-div
    bucketing its docstring blesses: monotone, bucket 0 double-width,
    cumulative sums exact both directions."""
    random.seed(31)
    rows = [(v, random.randint(1, 9)) for v in random.sample(range(-400, 400), 120)]
    cnt = spark.createDataFrame(rows, "v long, c long").withColumn(
        "b", F.expr("v div 7")
    )
    got = {
        (r["v"], r["c_cum"])
        for r in bucketed_cum(cnt, "v", "b", ["c"], ascending=ascending).collect()
    }
    order = F.col("v").asc() if ascending else F.col("v").desc()
    want = {
        (r["v"], r["c_cum"])
        for r in cnt.select(
            "v",
            F.sum("c")
            .over(
                W.orderBy(order).rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .alias("c_cum"),
        ).collect()
    }
    assert got == want


def test_dist_rank_plan_has_no_unpartitioned_window(spark):
    """The helper's whole point: every Window it plans is partitioned
    (the offsets prefix included — it partitions on the bucket-of-
    buckets in dist_rank_unique and on the value/bucket columns in
    dist_rank's tie machinery) or runs over the #buckets frame only."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py")
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("v")
    )
    plan = (
        dist_rank(df, "v", "k", F.expr("v div 3"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # dist_rank itself plans exactly one empty-partition Window: the
    # bucketed_cum offsets prefix over the #value-buckets frame
    assert pa.unpartitioned_windows(plan) <= 1
