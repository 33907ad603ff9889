"""Smoke test for the benchmark itself: one short run of each workload,
untraced and traced, at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that nothing failed or mismatched its oracle, that the trace file
parses, that no process the run started outlives it, and that the
command refuses to run without the package.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> tuple[subprocess.CompletedProcess, list[int]]:
    """The finished run, and the processes it left running when it
    exited. Output goes to files, not pipes: reading a pipe to its end
    waits for every process that inherited it, which would hide one
    left running."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py")]
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run(
            cmd
            + ["--workload", workload, "--seed", "1", "--seconds", "1"]
            + ["--trace", str(trace), "--sf", "0.001"],
            cwd=cwd,
            stdout=out,
            stderr=err,
            text=True,
            timeout=600,
        )
        left = _left_running(cwd)
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(p.args, p.returncode, out.read(), err.read()), left


def _left_running(cwd: str) -> list[int]:
    """Processes that still carry a run's scratch directory in their
    environment: the JVM and the Python workers it forked inherit it."""
    mark = b"TMPDIR=" + os.path.join(cwd, "perfbench", ".work", "tmp").encode()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as fh:
                    env = fh.read()
            except OSError:
                continue
            if any(v.startswith(mark) for v in env.split(b"\0")):
                out.append(int(name))
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload: str, trace: int) -> None:
    p, left = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    assert left == []
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in want:
        assert f"{m['name']} = " in p.stdout
        assert isinstance(result["metrics"][m["name"]]["value"], float)
    fracs = dict(re.findall(r"(fail_frac|wrong_frac)=([0-9.]+)", p.stdout))
    assert fracs == {"fail_frac": "0.0000", "wrong_frac": "0.0000"}
    if trace:
        path = re.search(r"^# trace: (.+)$", p.stdout, re.M).group(1)
        with open(path) as fh:
            spans = json.load(fh)["spans"]
        names = {s["name"] for s in spans}
        assert {"session.get_spark", "plans.build", "exec.collect", "query"} <= names
        ids = {s["id"] for s in spans}
        assert all(s["parent"] in ids for s in spans if s["parent"] is not None)


def test_refuses_without_package(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__")
    )
    p, _ = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
