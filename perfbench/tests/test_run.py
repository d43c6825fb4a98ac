"""Self-test of the benchmark on the bundled sf0.001 fixtures.

    python3 -m pytest perfbench/tests -q

Each test starts ``run.py`` as its own process from a scratch cwd, for
one pass (or, for the multi-client workload, a short window), and
checks what it prints against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")
SF = os.path.join(BENCH_DIR, "fixtures", "bench_sf0.001")

sys.path.insert(0, BENCH_DIR)
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_bench(cwd, workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """One run; returns the detail line and the result line."""
    args = ["--workload", workload, "--seed", "7", "--seconds", "3",
            "--trace", str(trace), "--sf-dir", SF, *extra]
    if WORKLOADS[workload].clients == 1:
        args += ["--passes", "1"]
    proc = subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail), json.loads(result)


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload, tmp_path):
    detail, result = run_bench(tmp_path, workload, 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert result["failed"] == 0, detail["failures"]
    assert result["correct"]
    assert result["attempted"] > len(WORKLOADS[workload].ops)
    for m in result["metrics"].values():
        assert m["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_writes_spans_and_layers(workload, tmp_path):
    detail, result = run_bench(tmp_path, workload, 1)
    assert_metrics(result, SPEC["per_layer"])
    assert result["failed"] == 0, detail["failures"]
    with open(os.path.join(ROOT, detail["trace_file"])) as fh:
        spans = json.load(fh)["spans"]
    for name in ("construct", "fetch"):
        assert {s["op"] for s in spans if s["name"] == name} == set(WORKLOADS[workload].ops)
    assert result["metrics"]["trace.span_cover_frac"]["value"] > 0.98


def test_wrong_digest_counts_as_failed(tmp_path):
    detail, result = run_bench(tmp_path, "relational", 0,
                               "--corrupt-digest", "q1_pricing_summary")
    # the warm-up, settle and measured passes' results all mismatch
    assert result["failed"] == 3
    assert not result["correct"]
    assert detail["failed_frac"] == 3 / result["attempted"]
    for failure in detail["failures"]:
        assert failure.startswith("q1_pricing_summary: result digest")
