"""BENCHMARK.json names the metrics and workloads run.py produces."""

import json
import os

from perfbench import run


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metrics_match_run_py():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_missing_engine_exits_nonzero(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "crud_mixed", "--seed", "1",
                     "--seconds", "1"]) == 2
