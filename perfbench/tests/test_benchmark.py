"""``BENCHMARK.json`` and the runnable workloads agree."""

import json
from pathlib import Path

from perfbench.workloads import WORKLOADS


def test_every_listed_workload_runs_and_no_other():
    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
