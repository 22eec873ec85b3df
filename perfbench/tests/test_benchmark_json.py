"""BENCHMARK.json is metrics.benchmark_json() and keeps its format's
limits (key set, name and unit alphabets, bounds, sizes)."""

import json
import os
import re

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_file_matches_the_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_format_limits():
    b = metrics.benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60 and 2 <= len(b["workloads"]) <= 8
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert all(m["bound"] <= 0.25 and UNIT.match(m["unit"]) for m in b["end_to_end"])
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert len(json.dumps(b)) <= 64 * 1024


def test_per_layer_modules_cover_the_headline():
    from data_pipeline_2025_spark import registry

    from perfbench.analytics import headline

    specs = registry.load_all()
    leaves = {specs[n].spark_fn.__module__.rsplit(".", 1)[-1] for n in headline()}
    assert leaves == set(metrics.HEADLINE_MODULES)
