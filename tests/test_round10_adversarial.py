"""Round-10 adversarial pins (round-9 ADVICE items).

1. tools/replicate_10x.py salt_text must COMMUTE WITH LOWERCASING:
   the shingler (_SHINGLE_SQL) lowercases raw text before shingling,
   so any character class the salt leaves un-rotated (round 9:
   uppercase A-Z) survives into the lowered shingles identically
   across copies — silently weakening the salted replica's
   "essentially disjoint shingle sets" duplicate-density claim that
   the 100x dedup-oracle battery relies on.
2. tools/drive_contract.py's final summary JSON must make a SUBSET
   run (EFS_ONLY / EFS_SKIP) distinguishable from a full-contract
   pass: before round 10 a green EFS_ONLY run printed the same
   total/failed=[] shape as a full pass in the ~2 KB tail capture.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_salt_text_commutes_with_lowercasing(spark):
    """lower(salt_text(t, i)) == salt_text(lower(t), i) for mixed-case
    text — i.e. the rotation covers every character the shingler sees.
    Before the round-10 fix, uppercase letters passed through
    un-rotated ('AbZ9' @ i=1 -> 'AcZ0', lowering to 'acz0' instead of
    'bca0'), so salted copies of mixed-case documents kept shared
    lowered shingles."""
    from pyspark.sql import functions as F

    from tools.replicate_10x import salt_text

    rows = [("AbZ9 Quick-BROWN fox #42",), ("MiXeD Case 007",)]
    df = spark.createDataFrame(rows, ["text"])
    for i in (1, 7, 25):
        salted_then_lower = [
            r["text"]
            for r in salt_text(df, i)
            .select(F.lower("text").alias("text"))
            .collect()
        ]
        lower_then_salted = [
            r["text"]
            for r in salt_text(
                df.select(F.lower("text").alias("text")), i
            ).collect()
        ]
        assert salted_then_lower == lower_then_salted, i
        # and the rotation really changed the lowered text (disjointness
        # has teeth only if copies differ post-lowering)
        originals = [r[0].lower() for r in rows]
        assert salted_then_lower != originals, i


def test_salt_text_copy0_is_identity(spark):
    """Copy 0 must keep the original corpus verbatim (the replica's
    documented contract: the un-salted originals survive as copy 0)."""
    from tools.replicate_10x import salt_text

    df = spark.createDataFrame([("AbZ9 Quick-BROWN fox #42",)], ["text"])
    assert salt_text(df, 0).collect() == df.collect()


# --- order-unspecified float log-sum ban (the salted-100x finding) --------
#
# The salted-100x battery caught text_unigram_lm_score MISMATCHING and a
# re-run producing ZERO diff rows: a plain SUM over float ln-terms is
# order-unspecified (Spark's reduction order varies with task
# scheduling), and at 500k docs some doc's mean_nll lands close enough
# to a ROUND(..., 9) boundary to flip run-to-run. The five affected
# queries now fold key-ORDERED term lists on both engines
# (sampling.sorted_fold ↔ list_sort(list(struct_pack(...))) +
# list_transform + list_reduce — NOT list(... ORDER BY key), whose
# DuckDB ordered-aggregate buffering OOMed at the salted 100x).

# SUM(ln(...)) inside an ordered window frame is a deterministic
# prefix fold, not an unordered reduction — the one allowed form.
_ORDERED_WINDOW_LOGSUM_ALLOW = {"events_survival_km"}

def _balanced_end(src: str, start: int, quotes: str) -> int:
    """Index just past the paren that closes depth 1 at `start`,
    ignoring parens inside quoted literals (`quotes` lists the quote
    chars for the dialect: `'` for SQL text, `'\"` for Python source).
    registry's ROUND-rewrite walker is quote-guarded the same way — a
    bare counter desyncs on a literal like '%(%' (review finding)."""
    depth, i, in_q = 1, start, None
    while depth and i < len(src):
        ch = src[i]
        if in_q:
            if ch == in_q:
                in_q = None
        elif ch in quotes:
            in_q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    return i


_FOLD_CONVERTED = (
    "text_unigram_lm_score",
    "text_bigram_lm_score",
    "text_entropy_score",
    "text_source_drift_kl",
    "dsir_importance_weights",
)


def test_no_unordered_float_logsum_in_oracles():
    """Registry-wide lint: no oracle may reduce ln() terms with a plain
    aggregate SUM — every float log-reduction must be an explicit-order
    list fold (list(... ORDER BY ...) + list_reduce) or an ordered
    window frame (allowlisted)."""
    import re

    from elastic_freight_spark import registry

    registry.load_all()
    offenders = []
    for name, sql in registry.ORACLE.items():
        if name in _ORDERED_WINDOW_LOGSUM_ALLOW:
            # must actually be the windowed form it is allowed for
            assert re.search(r"SUM\(ln\(", sql) is None or "OVER" in sql
            continue
        for m in re.finditer(r"SUM\s*\(", sql):
            # unordered if an ln( appears ANYWHERE inside the SUM's
            # balanced-paren argument (depth-walk, mirroring the
            # Spark-side lint below — the old two-prefix-regex form
            # missed `SUM(c * ln(...))` with a bare-identifier
            # multiplier, the exact pre-fix oracle shape)
            end = _balanced_end(sql, m.end(), quotes="'")
            if re.search(r"\bln\s*\(", sql[m.end() : end]):
                offenders.append(name)
                break
    assert not offenders, offenders


def test_no_unordered_float_logsum_in_spark_operators():
    """Source lint for the Spark side of the same ban: F.sum over an
    F.log-bearing expression in operators/ or streaming/ is the
    order-unspecified reduction the oracle lint bans."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "elastic_freight_spark"
    paths = [*pkg.glob("operators/*.py"), *pkg.glob("streaming/*.py")]
    assert paths
    offenders = []
    for path in paths:
        src = open(path).read()
        for m in re.finditer(r"F\.sum\(", src):
            i = _balanced_end(src, m.end(), quotes="'\"")
            if "F.log" not in src[m.end() : i]:
                continue
            # a running sum over an ORDERED window frame is a
            # deterministic prefix fold — the allowed form
            # (events_survival_km's KM product)
            if re.match(r"\s*\.over\(", src[i:]):
                continue
            offenders.append(f"{path}:{src[:m.start()].count(chr(10)) + 1}")
    assert not offenders, offenders


def test_fold_converted_oracles_use_sorted_fold_form():
    """The five salted-100x-class queries must keep the sorted-fold
    oracle form — list_sort over an UNORDERED list aggregate of
    (key, v) structs, then list_transform + list_reduce. Two
    regressions are banned: plain SUM (re-opens the run-to-run
    ROUND(9) flips) and list(... ORDER BY ...) (DuckDB's ordered
    aggregate buffers pathologically — 92 GB OOM in 27 s at the
    salted 100x where list_sort runs the identical fold in 1 s)."""
    import re

    from elastic_freight_spark import registry

    registry.load_all()
    for name in _FOLD_CONVERTED:
        sql = registry.ORACLE[name]
        assert "list_reduce(" in sql, name
        assert "list_sort(list(struct_pack(" in sql, name
        # no ordered list aggregate anywhere in these oracles
        assert not re.search(r"list\([^)]*ORDER BY", sql), name


def test_unigram_lm_partition_order_invariance(spark):
    """The rewritten text_unigram_lm_score must be bit-identical under
    different input partitionings (the failure mode was run-to-run
    sum-order drift). Distinct repartitions change Spark's reduction
    schedule; the token-ordered fold must erase that."""
    import os
    import tempfile

    from elastic_freight_spark.operators.text import text_unigram_lm_score

    vocab = [f"w{i}" for i in range(37)]
    docs = [
        (i, " ".join(vocab[(i * 7 + j) % 37] for j in range(5 + i % 60)),
         "en", f"src{i % 4}", 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.repartition(1).write.parquet(os.path.join(d, "documents.parquet"))
        a = sorted(map(tuple, text_unigram_lm_score(spark, d).collect()))
    with tempfile.TemporaryDirectory() as d:
        df.repartition(13).write.parquet(os.path.join(d, "documents.parquet"))
        b = sorted(map(tuple, text_unigram_lm_score(spark, d).collect()))
    assert a == b


def test_drive_contract_summary_reports_subset_visibility():
    """Source-level pin (same style as the cast-ban lints): the summary
    JSON printed by tools/drive_contract.py must carry ran/skipped/
    efs_skip/efs_only alongside total/failed, so a green subset run
    can't be mistaken for a full pass in the driver tail capture."""
    src = open(os.path.join(REPO, "tools", "drive_contract.py")).read()
    for key in ('"total"', '"ran"', '"skipped"', '"efs_skip"',
                '"efs_only"', '"oracled"', '"failed"'):
        assert key in src, key
    # the skipped tally must count BOTH fence mechanisms — the append
    # happens in the shared continue branch, before the skip-only print
    assert "skipped.append(name)" in src
