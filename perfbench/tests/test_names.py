"""Every emitted metric has a valid name and a unit, and BENCHMARK.json
lists exactly what the benchmark emits."""

import json
import os
import re

from perfbench import report

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_names_and_units_are_well_formed():
    names = list(report.END_TO_END) + list(report.PER_LAYER)
    assert len(names) == len(set(names))
    for name, unit in {**report.END_TO_END, **report.PER_LAYER}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_tail_percentile_keeps_ten_samples_beyond():
    assert report.tail([1.0] * 19) is None
    pct, _ = report.tail([float(i) for i in range(100)])
    assert pct == 90.0
    pct, val = report.tail([float(i) for i in range(40)])
    assert (pct, val) == (75.0, 29.0)
