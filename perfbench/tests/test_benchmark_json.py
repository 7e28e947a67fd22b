"""BENCHMARK.json names exactly the workloads and metrics the command emits."""

import json
import os

from perfbench.layers import PER_LAYER
from perfbench.run import END_TO_END, ROOT
from perfbench.workloads import WORKLOADS


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_and_metrics_match_the_code():
    bench = load()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in load()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) and all(0 < b <= 0.25 for b in bounds.values())


def test_layer_map_names_known_metrics():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layer_map = json.load(f)["layers"]
    names = {n for n, _ in PER_LAYER}
    prefixes = {n.split(".", 1)[0] for n in names}
    for key, entry in layer_map.items():
        assert key in names or (key.endswith(".*") and key[:-2] in prefixes), key
        assert set(entry["moves"]) <= set(END_TO_END), key
        assert set(entry["workloads"]) <= set(WORKLOADS), key
