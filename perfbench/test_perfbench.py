"""Smoke tests for the benchmark itself (4-6 minutes on 4 cores).

    python3 -m pytest perfbench -q

Each workload runs once untraced and once traced at the tiny input
size; every metric BENCHMARK.json names must come out with its unit,
and the output checks must pass. The generators must write
byte-identical inputs for one seed and different inputs for another.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, props_a = gen.cached(str(tmp_path / "a"), workload, 3, "tiny")
    b, props_b = gen.cached(str(tmp_path / "b"), workload, 3, "tiny")
    c, _ = gen.cached(str(tmp_path / "c"), workload, 4, "tiny")
    assert props_a == props_b
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_panel_inputs_cover_every_change_kind(tmp_path):
    inp, props = gen.cached(str(tmp_path), "panel_build", 5, "bench")
    assert props["longest_chain"] >= 3
    assert 0 < props["org_change_share"] < 1
    assert props["releases"] == 16
    # the pure-Python expectation drops junk rows and re-keys retired codes
    panel = gen.expected_panel(inp)
    assert not {code for code, _ in panel} & gen.retired_codes(inp)
    assert not {code for code, _ in panel} & {"", "ENG"}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    record, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, record["checks"]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert metrics["trace.self_s_sum"] <= metrics["trace.wall_s"] + 1e-6
        assert metrics["engine.jobs"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["host"]["pyspark"] and record["inputs"]["files"] >= 1


def test_refuses_to_run_outside_a_checkout(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            with open(src, "rb") as fh:
                (bench / name).write_bytes(fh.read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
