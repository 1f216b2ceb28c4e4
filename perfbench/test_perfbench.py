"""Self-test of the benchmark: every workload, briefly, on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once untraced and once traced at scale 0.001 (about
6,000 lineitem rows) for two seconds. The untraced run must emit every
end-to-end metric of BENCHMARK.json with its unit, check its results, and
see no statement fail; the traced run must emit every per-layer metric and
write spans for each layer the workload drives. A run takes about 40 s,
most of it the engine's start-up and ingest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# layers whose spans each traced workload must produce (warehouse: the
# ingest at set-up; sources: only the write workload writes)
LAYERS = {
    "tpch_reexec": {"warehouse", "server", "pgcompat", "engine"},
    "dashboard_rw": {"warehouse", "server", "pgcompat", "engine", "sources"},
    "session_churn": {"warehouse", "server", "pgcompat", "engine"},
}


def _run(workload: str, trace: int, seed: int = 7) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record = json.loads(lines[-2])["record"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result, record


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_untraced_run_emits_every_end_to_end_metric(workload):
    result, record = _run(workload, trace=0)
    assert result["correct"], record["mismatches"]
    assert result["failed"] == 0 and record["error_rate"] == 0, record["errors"]
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: m["unit"] for k, m in metrics.items()} == want
    for name, m in metrics.items():
        assert isinstance(m["value"], float) and m["value"] > 0, (name, m)
    assert record["SPARK_GRAFT_CPUS"] and record["SPARK_GRAFT_DRIVER_MEM"]
    assert "steal_pct" in record and record["bw_canary_s"] > 0


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_emits_spans_for_every_layer(workload):
    result, record = _run(workload, trace=1)
    assert result["correct"], record["mismatches"]
    assert result["failed"] == 0, record["errors"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    with open(os.path.join(REPO, record["trace_file"])) as fh:
        trace = json.load(fh)
    names = trace["fields"].index("name")
    layers = {span[names].split(".")[0] for span in trace["spans"]}
    assert LAYERS[workload] <= layers, layers
