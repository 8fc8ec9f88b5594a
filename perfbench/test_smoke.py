"""Smoke test of the benchmark: each workload for about one op at the
tiny input size. Run from the repository root:

    python -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(*args):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "42",
         "--seconds", "1", "--scale", "tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(result, specs):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_end_to_end_metrics(workload, tmp_path):
    golden = tmp_path / "golden.json"
    r = run_bench("--workload", workload, "--trace", "0",
                  "--golden", str(golden), "--write-golden")
    assert_metrics(r, BENCH["end_to_end"])
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1

    # the digests just recorded hold on a second run ...
    assert run_bench("--workload", workload, "--trace", "0",
                     "--golden", str(golden))["failed"] == 0
    # ... and a corrupted one fails every op
    data = json.loads(golden.read_text())
    for outputs in data[workload]["digests"].values():
        for d in outputs.values():
            d[0] += 1
    golden.write_text(json.dumps(data))
    bad = run_bench("--workload", workload, "--trace", "0",
                    "--golden", str(golden))
    assert not bad["correct"]
    assert bad["failed"] == bad["attempted"] >= 1


def test_per_layer_metrics():
    r = run_bench("--workload", "mosaic_join", "--trace", "1")
    assert_metrics(r, BENCH["per_layer"])
    assert r["correct"]


def test_refuses_without_engine(tmp_path):
    """Without the engine package the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in ("run.py", "spans.py", "workloads.py"):
        (bench / name).write_text(open(os.path.join(HERE, name)).read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "zonal_many",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
