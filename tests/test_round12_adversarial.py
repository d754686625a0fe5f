"""Round-12 adversarial pins.

1. stats_bootstrap_ci's one-md5-per-row property (r11 advice item 3):
   the conv()+CASE weight decode references the staged digest column
   `h` 16 times in one projection, and its 16.4 s -> 4.2 s win exists
   ONLY while Spark's CollapseProject heuristic declines to inline the
   multiply-referenced non-cheap md5. That is optimizer-version
   behavior pinned until now by a comment — this test counts md5
   occurrences in the optimized plan so a future Spark upgrade that
   changes CollapseProject's cost rules fails a test instead of
   silently re-running 16 md5s per row.
2. The round-12 fold argmin (`vectors._argmin_idx`) first-minimum tie
   rule: bit-identical to array_position(d2, array_min(d2)) - 1,
   including duplicate minima (must pick the EARLIEST) and the
   codebook-literal single-reference property it exists for.
3. `_dlit` (expr-string double literals): exact IEEE round-trip on
   adversarial values (shortest-repr forms, tiny/huge magnitudes,
   negative zero) and type equality with F.lit's nested form; NaN and
   ±inf raise instead of reaching Spark's parser.
"""
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


def test_bootstrap_md5_evaluates_once_in_plan(spark):
    """The optimized plan of stats_bootstrap_ci must contain exactly
    one md5 call: the decode's 16 conv(substr(h, ...)) references must
    read the staged column, not 16 inlined digests."""
    from elastic_freight_spark.operators.relational import stats_bootstrap_ci

    df = stats_bootstrap_ci(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("md5(") == 1, (
        "CollapseProject inlined the bootstrap digest: md5 appears "
        f"{plan.lower().count('md5(')} times in the optimized plan "
        "(expected exactly 1 — the 16x-md5 regression the r11 rewrite "
        "removed is back)"
    )


def test_argmin_idx_first_min_tie_rule(spark):
    """_argmin_idx == array_position(d2, array_min(d2)) - 1 on
    duplicate minima, single elements, and unordered arrays."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators.vectors import _argmin_idx

    rows = [
        ([3.0, 1.0, 1.0, 2.0],),  # duplicate min -> earliest index 1
        ([1.0, 1.0],),  # all-tie -> 0
        ([5.0],),  # singleton -> 0
        ([2.0, -1.0, 0.0, -1.0],),  # negative duplicate min -> 1
        ([0.0, -0.0],),  # -0.0 == 0.0 -> first stays 0
    ]
    df = spark.createDataFrame(rows, "d2 array<double>")
    out = df.select(
        _argmin_idx(F.col("d2")).alias("fold"),
        (F.array_position("d2", F.array_min("d2")) - 1)
        .cast("bigint")
        .alias("twopass"),
    ).collect()
    for r in out:
        assert r["fold"] == r["twopass"], (r["fold"], r["twopass"])


def test_argmin_single_literal_reference(spark):
    """pq_encode's plan must carry each codebook literal ONCE per
    subspace (the r12 plan-size win): the two-pass form duplicated the
    book-literal subtree via array_position(d2, array_min(d2))."""
    from pyspark.sql import functions as F

    from elastic_freight_spark.operators.vectors import pq_encode

    # a distinctive marker value that appears nowhere else in the plan
    marker = 0.123456789012345
    books = [[[marker, 2.0], [3.0, 4.0]]]  # 1 subspace, k=2, sub_d=2
    df = spark.createDataFrame([([1.0, 1.0],)], "vec array<double>")
    plan = (
        pq_encode(df, books)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count(repr(marker)) == 1, plan


def test_dlit_round_trip_and_type(spark):
    import struct

    from elastic_freight_spark.operators.vectors import _dlit

    vals = [
        [0.1, 1 / 3, -0.0, 1e-300],
        [1e300, -1.7976931348623157e308, 5e-324, 3.141592653589793],
    ]
    df = spark.range(1).select(_dlit(vals).alias("a"))
    assert df.schema["a"].simpleString() == "a:array<array<double>>"
    out = df.collect()[0]["a"]
    for want, got in zip([x for r in vals for x in r], [x for r in out for x in r]):
        assert struct.pack("<d", want) == struct.pack("<d", got), (want, got)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_dlit_rejects_non_finite(bad):
    from elastic_freight_spark.operators.vectors import _dlit

    with pytest.raises(ValueError, match="non-finite codebook value"):
        _dlit([[0.0, bad]])
