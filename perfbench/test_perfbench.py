"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench -q

Checks that BENCHMARK.json names exactly the metrics ``run.py`` emits,
that a clean run prints every end-to-end metric with its unit and passes
its own correctness gate, and that a traced run whose reference counts
are corrupted prints every per-layer metric and fails the gate. Each
tiny run is a child process of its own: a run starts and stops its own
Spark and sets process-wide state, which must not meet the session or
the temporary directories of the test process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import reference, run
from perfbench.spans import parse_metric

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")

# child-process entry point: registers a tiny workload, optionally
# corrupts the reference's expected counts, then runs run.main
_TINY_MAIN = """
import sys
from perfbench import reference, run
from perfbench.inputs import Shape
run.WORKLOADS["tiny"] = Shape(turns=3_000, convs=30, prose_bytes=256)
if CORRUPT:
    real = reference.compute

    def corrupted(*args, **kwargs):
        ref = real(*args, **kwargs)
        ref.sink_counts["unmatched"] += 1
        return ref

    reference.compute = corrupted
sys.exit(run.main(sys.argv[1:]))
"""


def _spec() -> dict:
    with open(BENCHMARK, encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_parse_metric_forms():
    assert parse_metric("40,000") == (40000.0, None)
    assert parse_metric("1.5 s") == (1.5, None)
    total, dist = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1483.3 KiB (277.1 KiB, 364.5 KiB, 552.9 KiB (stage 11.0: task 13))")
    assert total == pytest.approx(1483.3 * 1024)
    assert dist == pytest.approx((277.1 * 1024, 364.5 * 1024, 552.9 * 1024))


def test_expected_sinks_follow_redeliveries():
    ref = reference.Reference(
        turns=3, sink_counts={"a": 2, "b": 1}, checksum=0, conv_turns={},
        window_lo=[], window_counts=[],
        pool_original={"c1": {"a": 1}}, pool_revised={"c1": {"z": 1}})
    assert ref.sinks_now(set()) == {"a": 2, "b": 1}
    assert ref.sinks_now({"c1"}) == {"a": 1, "b": 1, "z": 1}


def _tiny_run(trace: int, corrupt: bool = False) -> dict:
    code = _TINY_MAIN.replace("CORRUPT", str(corrupt))
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", "tiny", "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_tiny_run_emits_every_end_to_end_metric():
    result = _tiny_run(trace=0)
    _assert_metrics(result, run.E2E_UNITS)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= len(run.WARM_UP) + run.MIN_CYCLES * len(run.CYCLE)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_gate_fails_on_corrupted_expected_count():
    result = _tiny_run(trace=1, corrupt=True)
    _assert_metrics(result, run.LAYER_UNITS)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["ops.failed_ratio"]["value"] > 0
