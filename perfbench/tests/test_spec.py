"""BENCHMARK.json, workloads.py and the engine's registry agree."""

import json
import os
import sys

import pytest
from workloads import EXPECTED_MOVES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _short(key):
    return "r09_12" if key.startswith("r09_12") else key.split("_")[0]


def test_workloads_match_and_each_why_lists_its_keys():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for w in SPEC["workloads"]:
        keys = WORKLOADS[w["name"]]
        assert w["why"].startswith(f"{len(keys)} ")
        assert all(f" {_short(k)}" in w["why"] or f"({_short(k)}" in w["why"] for k in keys)


def test_metric_names_unique_and_bounds_sane():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_expected_moves_name_real_metrics():
    layer = [m["name"] for m in SPEC["per_layer"]]
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for prefix, (targets, workloads) in EXPECTED_MOVES.items():
        assert any(n.startswith(prefix) for n in layer), prefix
        assert {t.strip() for t in targets.split(",")} <= e2e | {"process.peak_rss_mb"}
        assert set(workloads) <= set(WORKLOADS)


def test_module_metrics_cover_every_workload_module():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from presto_weather_spark.registry import all_queries

    queries = all_queries()
    modules = {queries[k].fn.__module__.rsplit(".", 1)[-1] for keys in WORKLOADS.values() for k in keys}
    layer = {m["name"] for m in SPEC["per_layer"]}
    listed = {n.rsplit(".", 1)[0] for n in layer if n.endswith((".fn_s", ".write_s"))} - {"registry", "sink"}
    assert listed == modules
