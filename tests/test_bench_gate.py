"""scripts/bench_regression_check.py compares like with like only."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = os.path.join(REPO, "scripts", "bench_regression_check.py")


def _gate(rec):
    return subprocess.run([sys.executable, GATE], input=json.dumps(rec),
                          capture_output=True, text=True, timeout=60)


def test_gate_refuses_unmatched_cpus_or_sf():
    for cpus, sf in ((4, 0.1), (32, 0.01)):
        r = _gate({"cpus": cpus, "sf": sf, "queries": {"q": 1.0}})
        assert r.returncode == 2, r.stdout
        assert f"cpus={cpus} sf={sf}" in r.stderr


def test_gate_uses_newest_matching_record():
    r = _gate({"cpus": 32, "sf": 1.0, "queries": {"q": 1.0}})
    assert r.returncode == 0, r.stderr
    assert "BENCH_r06_frozen.json" in r.stdout
    r = _gate({"cpus": 32, "sf": 0.1, "queries": {"q": 1.0}})
    assert r.returncode == 0, r.stderr
    assert "BENCH_r06.json" in r.stdout
