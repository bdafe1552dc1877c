"""Self-tests of the benchmark on sf0.001 smoke runs of each workload.

    python -m pytest perfbench/tests -q

Each smoke run starts its own Spark JVM, so the module takes a few
minutes on 4 cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SMOKE = ["--seed", "7", "--seconds", "0", "--timed-sf", "0.001"]

sys.path.insert(0, str(ROOT))

from perfbench.check import compare  # noqa: E402
from perfbench.trace import _parse_shown  # noqa: E402


def _cli(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--trace", str(trace), *SMOKE],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    *_, summary, result = p.stdout.strip().splitlines()
    return json.loads(summary), json.loads(result)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    summary, result = _cli(workload, trace)
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    if trace:
        # no Spark job ran under the tracer's own job group
        assert summary["tracer_jobs"] == 0
        # pass 2 (traced) started as many jobs as pass 3 (untraced) on the
        # same calls and inputs
        jobs = {no: (traced, n) for no, traced, n in summary["pass_jobs"]}
        assert jobs[2][0] and not jobs[3][0]
        assert jobs[2][1] == jobs[3][1] > 0
        trace_doc = json.loads((ROOT / summary["trace_file"]).read_text())
        for call in trace_doc["calls"]:
            assert call["accounted_share"] > 0.95, call
        # each workload bypasses a layer the other one exercises
        bypassed = {"curation_iterative": "streaming.",
                    "medallion_streaming": "functions."}[workload]
        for key, value in result["metrics"].items():
            if key.startswith(bypassed):
                assert value["value"] == 0, key


def test_injected_failure_is_counted_and_the_run_goes_on():
    from perfbench.harness import run
    from perfbench.workloads import Call, workloads

    def broken(spark, inp):
        raise RuntimeError("injected")

    calls = workloads()["curation_iterative"].calls[:1] + [Call("broken", broken)]
    summary = run(ROOT, "curation_iterative", 7, 0, False, timed_sf=0.001, calls=calls)
    assert summary["attempted"] == 2
    assert summary["failed"] == 1
    assert summary["end_to_end"]["error_rate"] == pytest.approx(1 / 2)
    assert "injected" in summary["errors"][0]


def test_compare_is_order_insensitive_and_tolerant():
    a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.3], "k": [1, 2]})
    assert compare(a, b) is None
    assert compare(a, b.iloc[:1]) is not None
    assert compare(a, b.assign(v=[1.0, 0.4])) is not None


def test_parse_shown_metric_strings():
    shown = "total (min, med, max (stageId: taskId))\n8.9 s (2.1 s, 2.2 s, 2.3 s)"
    assert _parse_shown(shown) == pytest.approx(8.9)
    assert _parse_shown("total (min, med, max)\n51.6 KiB (1 KiB)") == pytest.approx(51.6 * 1024)
    assert _parse_shown("total (min, med, max)\n345 ms (1 ms)") == pytest.approx(0.345)
