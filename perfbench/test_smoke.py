"""Smoke test of the benchmark itself: tiny inputs, every metric printed.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _left_behind() -> list[int]:
    """Processes that run in a benchmark run's scratch directory: the JVM
    names it on its command line, its Python workers in their TMPDIR."""
    mark = os.path.join(ROOT, ".perfbench_work").encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{name}/{part}", "rb") as fh:
                    if mark in fh.read():
                        found.append(int(name))
                        break
            except OSError:
                continue
    return found


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _left_behind() == []
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check(result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result = _run(workload, 0)
    _check(result, "end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values()), result


@pytest.mark.parametrize(
    "workload, layer",
    [
        ("export_batch_stream", "streaming.pipeline.batch_ms"),
        ("llm_dedup_ann", "operators.dedup.lsh_pairs_s"),
    ],
)
def test_traced_run_prints_every_per_layer_metric(workload, layer):
    result = _run(workload, 1)
    _check(result, "per_layer")
    values = {name: m["value"] for name, m in result["metrics"].items()}
    assert values[layer] > 0
    assert values["trace.latency_p50_ratio"] > 0
    assert values["trace.spans"] > 0


def test_sigterm_stops_the_run_and_everything_it_started():
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOADS[0],
         "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    deadline = time.monotonic() + 120
    while not _left_behind() and time.monotonic() < deadline:
        time.sleep(0.5)
    assert _left_behind(), "the run started no JVM"
    proc.terminate()
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert out == ""
    assert _left_behind() == []


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
