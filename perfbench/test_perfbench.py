"""Self-check of the benchmark: tiny runs of every workload.

    python -m pytest perfbench -q -p no:cacheprovider

Each workload (kg_serve too, which BENCHMARK.json does not list), at tiny
size, must print every metric BENCHMARK.json names with its unit
(end-to-end untraced, per-layer traced); a planted wrong
expected result must come out as a failure with no numbers; and the
benchmark must refuse to run where the package is missing. No run may
leave a process behind.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["kg_build", "kg_rescore", "kg_serve"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def session_processes(sid: int) -> list[str]:
    """pid and command line of each process in session ``sid``, zombies included."""
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            if os.getsid(int(entry)) == sid:
                with open(f"/proc/{entry}/cmdline") as f:
                    found.append(f"{entry} {f.read().replace(chr(0), ' ')}")
        except OSError:
            continue
    return found


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, str]:
    """One run in a session of its own; nothing it started may outlive it."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    out, _ = proc.communicate(timeout=600)
    assert session_processes(proc.pid) == []
    return proc.returncode, out


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_spec_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,section", [("0", "end_to_end"), ("1", "per_layer")])
def test_tiny_run_emits_every_metric(workload, trace, section):
    rc, out = run(workload, "--trace", trace)
    res = last_json(out)
    assert rc == 0, out
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {name: m["unit"] for name, m in res["metrics"].items()}
    assert got == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_mismatch_is_a_failure(workload):
    rc, out = run(workload, "--trace", "0", "--plant-mismatch")
    res = last_json(out)
    assert rc != 0
    assert res["correct"] is False and res["failed"] >= 1 and res["metrics"] == {}


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run("kg_build", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not out.strip()
