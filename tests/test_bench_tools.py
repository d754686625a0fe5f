"""Pins for bench.py's round-over-round comparison source selection
(_prev_bench): prefer the full per-query archives, fall back to
parseable driver records, skip crash records. No SparkSession involved."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _write(d, name, obj):
    (d / name).write_text(json.dumps(obj))


def test_prefers_full_archive_over_driver_record(tmp_path):
    _write(
        tmp_path,
        "BENCH_FULL_r06.json",
        {"value": 1.0, "queries": {f"q{i}": 0.1 for i in range(12)}},
    )
    _write(
        tmp_path,
        "BENCH_r07.json",
        {"parsed": {"value": 2.0, "queries": {f"q{i}": 0.2 for i in range(12)}}},
    )
    name, data = bench._prev_bench(str(tmp_path))
    assert name == "BENCH_FULL_r06.json"
    assert data["queries"]["q3"] == 0.1


def test_latest_full_archive_wins(tmp_path):
    for n, v in (("BENCH_FULL_r05.json", 0.5), ("BENCH_FULL_r06.json", 0.6)):
        _write(tmp_path, n, {"queries": {f"q{i}": v for i in range(12)}})
    name, data = bench._prev_bench(str(tmp_path))
    assert name == "BENCH_FULL_r06.json"


def test_small_full_archive_skipped(tmp_path):
    """A compact (slowest-5-only) record must not be mistaken for a
    full archive — fewer than 10 queries falls through."""
    _write(tmp_path, "BENCH_FULL_r06.json", {"queries": {"q1": 1.0}})
    _write(
        tmp_path,
        "BENCH_r05.json",
        {"parsed": {"queries": {f"q{i}": 0.3 for i in range(12)}}},
    )
    name, data = bench._prev_bench(str(tmp_path))
    assert name == "BENCH_r05.json"
    assert data["queries"]["q0"] == 0.3


def test_crash_records_walked_past(tmp_path):
    _write(tmp_path, "BENCH_r02.json", {"rc": 1, "parsed": None})
    _write(
        tmp_path,
        "BENCH_r01.json",
        {"parsed": {"queries": {f"q{i}": 0.4 for i in range(12)}}},
    )
    name, data = bench._prev_bench(str(tmp_path))
    assert name == "BENCH_r01.json"


def test_nothing_usable(tmp_path):
    _write(tmp_path, "BENCH_r02.json", {"rc": 1, "parsed": None})
    name, data = bench._prev_bench(str(tmp_path))
    assert name is None and data is None


def test_headline_names_all_registered():
    """Every bench headline name must resolve in the registry — a
    renamed/dropped query must fail HERE, not crash the driver's
    per-round bench run (the BENCH_r02 rc=1 class)."""
    import __spark_entry__ as e

    q = e.queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes
