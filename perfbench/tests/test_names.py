"""Every metric the benchmark prints has a well-formed name and a unit, and
the printed sets are exactly the ones BENCHMARK.json declares."""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pytest

from perfbench import datagen, run, workloads

REPO = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def declared():
    return json.loads((REPO / "BENCHMARK.json").read_text())


@pytest.mark.parametrize(
    "units", [run.END_TO_END_UNITS, run.per_layer_units()], ids=["end_to_end", "per_layer"]
)
def test_names_and_units_are_well_formed(units):
    for name, unit in units.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)


def test_printed_metrics_match_benchmark_json():
    spec = declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_default_window_is_run_seconds():
    assert run.DEFAULT_SECONDS == declared()["run_seconds"]


def test_result_line_has_exactly_the_four_keys():
    units = run.END_TO_END_UNITS
    line = run.result_line(True, 10, 0, {n: 1.5 for n in units}, units)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in units.items()}
    with pytest.raises(ValueError):
        run.result_line(True, 10, 0, {}, units)


def test_inputs_depend_only_on_the_seed():
    a, b = datagen.directory_listing(7), datagen.directory_listing(7)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["name"], datagen.directory_listing(8)["name"])
    t1, t2 = datagen.build_tables(), datagen.build_tables()
    assert all(t1[name].equals(t2[name]) for name in t1)
