import pytest

import compare


def _record(cores, value):
    return {
        "workload": "serve_mixed",
        "host": {"cores": cores, "machine_canary_s": 0.05},
        "end_to_end": {"op_ms": value},
        "per_layer": {"indexer.read_shard_ms": 0.0},
    }


def test_refuses_different_core_counts():
    with pytest.raises(ValueError, match="not comparable"):
        compare.compare(_record(4, 80.0), _record(8, 60.0))


def test_ratio_per_metric():
    lines = compare.compare(_record(4, 80.0), _record(4, 60.0))
    assert "end_to_end op_ms 80 60 0.750" in lines
    assert "per_layer indexer.read_shard_ms 0 0 n/a" in lines
