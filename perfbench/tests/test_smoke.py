"""Smoke test: every workload once at tiny sizes, traced, in one command;
every end-to-end and per-layer metric must be emitted and every output
check must pass. Takes about three minutes (two Spark sessions)."""

import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH_DIR))

import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_smoke_emits_every_metric():
    res = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--smoke"],
        cwd=BENCH_DIR.parent, capture_output=True, text=True, timeout=900,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    lines = [json.loads(line) for line in res.stdout.splitlines() if line.startswith("{")]
    assert lines[-1] == {"smoke_ok": True, "problems": []}
    per_workload = {line["workload"]: line for line in lines[:-1]}
    assert set(per_workload) == set(WORKLOADS)
    for out in per_workload.values():
        assert set(out["end_to_end"]) == set(metrics.END_TO_END)
        assert set(out["layers"]) == set(metrics.PER_LAYER)
        assert out["end_to_end"]["job_s"] > 0
