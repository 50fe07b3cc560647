"""Self-test of the benchmark: runs every workload at toy scale, traced
and untraced, and checks the output against the result format and the
names in ``BENCHMARK.json``.

    python3 -m pytest perfbench/ -q

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import SHAPES  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_follows_contract():
    b = spec()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(SHAPES)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               and "\n" not in w["why"] for w in b["workloads"])
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert bounds["setup_s"] == max(bounds.values())


def run(args, cwd=ROOT) -> subprocess.CompletedProcess:
    cmd = spec()["command"] + args
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=600)


def check_result(stdout: str, metrics: list[dict]) -> dict:
    lines = stdout.strip().splitlines()
    assert len(lines) == 1, f"stdout must hold only the result: {lines}"
    r = json.loads(lines[0])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert set(r["metrics"]) == {m["name"] for m in metrics}
    for want in metrics:
        m = r["metrics"][want["name"]]
        assert set(m) == {"value", "unit"} and m["unit"] == want["unit"]
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
    return r


@pytest.mark.parametrize("workload", list(SHAPES))
def test_toy_untraced(workload):
    p = run(["--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--toy"])
    assert p.returncode == 0, p.stderr[-3000:]
    r = check_result(p.stdout, spec()["end_to_end"])
    assert all(m["value"] > 0 for m in r["metrics"].values())


@pytest.mark.parametrize("workload", list(SHAPES))
def test_toy_traced(workload):
    p = run(["--workload", workload, "--seed", "4", "--seconds", "1",
             "--trace", "1", "--toy"])
    assert p.returncode == 0, p.stderr[-3000:]
    m = check_result(p.stdout, spec()["per_layer"])["metrics"]
    assert m["trace.unattributed_jobs"]["value"] == 0
    assert m["plans.crawl.spark_jobs"]["value"] > 0
    active = m["operators.dedup.filter_active_rounds"]["value"]
    assert (active > 0) == (workload == "polite_resume")


def test_fails_without_the_program(tmp_path):
    """Outside a checkout (only BENCHMARK.json and the benchmark's own
    files) the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = run(["--workload", "wide_round", "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout == ""
