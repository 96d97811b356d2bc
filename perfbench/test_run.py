"""Smoke tests of the benchmark itself, at sf0.001.

    python3 -m pytest perfbench/test_run.py -q

Each workload runs twice in a fresh process: untraced, which must print
every end-to-end metric of BENCHMARK.json with its unit, and traced
with one query's result corrupted, which must print every per-layer
metric, write a span tree whose parents all exist, and count the
corrupted executions as failed.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SMOKE_DATA = BENCH / "data" / "sf0.001"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

sys.path.insert(0, str(BENCH))
import run  # noqa: E402
import tracing  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--data", str(SMOKE_DATA), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result = bench(workload, 0)
    assert result["correct"] and result["failed"] == 0
    passes = 1 + run.WARMUP_PASSES + run.MIN_WARM_PASSES
    assert result["attempted"] == passes * len(run.WORKLOADS[workload])
    assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_spans_layers_and_counts_a_wrong_result(workload):
    victim = run.WORKLOADS[workload][0]
    result = bench(workload, 1, "--corrupt", victim)
    assert_metrics(result, SPEC["per_layer"])
    passes = result["attempted"] // len(run.WORKLOADS[workload])
    assert result["failed"] == passes and not result["correct"]

    record = json.loads(
        (BENCH / "out" / f"{workload}-seed7-trace1.json").read_text())
    spans = {s["id"]: s for s in record["spans"]}
    roots = [s for s in spans.values() if s["parent"] is None]
    assert [r["name"] for r in roots] == [f"workload:{workload}"]
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    phases = {s["name"] for s in spans.values()
              if s["parent"] is not None and spans[s["parent"]]["name"] == victim}
    assert phases == {"build", "plan", "execute", "verify"}
    failures = [e for e in record["executions"] if not e["ok"]]
    assert {e["query"] for e in failures} == {victim}


def test_plan_nodes_reads_the_final_adaptive_plan():
    text = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) HashAggregate(keys=[k#1], functions=[count(1)])
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 0
            +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS
               +- *(1) Project [(id#0 % 7) AS k#1]
                  :- BroadcastExchange HashedRelationBroadcastMode
                  +- *(1) Range (0, 10, step=1, splits=4)
+- == Initial Plan ==
   HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS
      +- Range (0, 10, step=1, splits=4)
"""
    nodes = tracing.plan_nodes(text)
    assert nodes == ["ResultQueryStage", "HashAggregate", "AQEShuffleRead",
                     "ShuffleQueryStage", "Exchange", "Project",
                     "BroadcastExchange", "Range"]
    assert tracing.count_exchanges(nodes) == 2
