"""BENCHMARK.json and metrics.json agree with each other and the code."""

import json
import os
import re

from perfbench.workloads import MIX_QUERIES, WARMUP_PASSES

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def load(path):
    with open(path) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.fullmatch(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.fullmatch(m["unit"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


def test_workloads_match_the_code_and_are_documented():
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    doc = load(os.path.join(HERE, "metrics.json"))
    assert [w["name"] for w in spec["workloads"]] == list(WARMUP_PASSES)
    assert set(doc["workloads"]) == set(WARMUP_PASSES)
    assert set(doc["workloads"]["query_mix"]["sizes"]["queries"]) == set(MIX_QUERIES)


def test_every_metric_is_documented_with_what_it_should_move():
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    doc = load(os.path.join(HERE, "metrics.json"))
    assert {m["name"] for m in spec["end_to_end"]} <= set(doc["end_to_end"])
    in_result = {k for k, v in doc["per_layer"].items() if v["in_result"]}
    assert {m["name"] for m in spec["per_layer"]} == in_result
    for name, entry in doc["per_layer"].items():
        if entry["layer"] != "diagnostic":
            assert entry["moves"], name
