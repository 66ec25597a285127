"""BENCHMARK.json names what the benchmark prints."""

import json
import os

import ledger
import run
import workloads

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.SPECS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(ledger.METRICS)
    raw = {
        "passes": [{"job_s": 2.0, "jvm_cpu_s": 1.0, "python_cpu_s": 3.0, "jvm_hwm_mb": 100.0}],
        "check": {"docs": 10, "units": [("u", b"", 4)] * 10},
        "worker_peak_rss_mb": 50.0,
        "setup_s": 5.0,
    }
    e2e = run.end_to_end(raw)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert e2e["docs_per_s"][0] == 5.0 and e2e["pages_per_s"][0] == 20.0
    assert e2e["cpu_s_per_kdoc"][0] == 400.0
