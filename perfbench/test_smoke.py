"""Smoke test: every workload runs end to end at tiny size (``--seconds 1
--smoke``) and prints a correct, complete result line.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(f"{ROOT}/BENCHMARK.json") as fh:
    BENCH = json.load(fh)


def _leftovers(workload: str) -> list[str]:
    """Processes still running for a workload's scratch directory: the JVM
    names it on its command line, its Python workers in their TMPDIR."""
    work = f"{HERE}/.work/{workload}"
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            with open(f"/proc/{pid}/environ", "rb") as fh:
                env = fh.read()
        except OSError:
            continue
        if work.encode() in cmd or f"TMPDIR={work}/".encode() in env:
            found.append(pid + ": " + cmd.replace(b"\0", b" ")[:200].decode(errors="replace"))
    return found


def _run(workload: str, trace: int) -> dict:
    # Output goes to files, not pipes: a pipe stays open until the last
    # process holding it (the JVM) exits, which would hide a late exit.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run(
            [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=ROOT, stdout=out, stderr=err, timeout=600,
        )
        left = _leftovers(workload)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert p.returncode == 0, stderr[-3000:]
    assert not left, left
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_is_correct_and_complete(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]


def test_traced_run_reports_every_layer():
    out = _run("ingest_trickle", 1)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    with open(f"{HERE}/.results/trace_ingest_trickle.json") as fh:
        report = json.load(fh)
    assert report["spans"] and report["self_time_s"]["session.get_spark"] > 0


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout of the engine the benchmark exits non-zero and
    prints no result."""
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(f"{HERE}/{f}") as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    with open(f"{ROOT}/BENCHMARK.json") as src, open(tmp_path / "BENCHMARK.json", "w") as dst:
        dst.write(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
