"""BENCHMARK.json names exactly the metrics the harness reports."""

import json
import os

import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_lists_match_harness():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        workloads.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        workloads.per_layer_metrics()
    )
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_every_operator_module_is_covered():
    from elastic_freight_spark import registry

    registry.load_all()
    modules = {registry.QUERIES[n].__module__.rsplit(".", 1)[1] for n in workloads.ANALYTICS_QUERIES}
    assert modules == set(workloads.OPERATOR_MODULES)
