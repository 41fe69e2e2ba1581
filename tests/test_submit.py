"""North-rule deployment evidence: the engine runs via spark-submit
--py-files (BASELINE.json: "run via spark-submit --py-files on a
multi-executor cluster").

The test builds the trustfuse_spark zip exactly as a cluster operator
would, then launches ``scripts/submit_job.py`` through the REAL
spark-submit binary from a scratch working directory — so the package is
importable ONLY through the ``--py-files`` zip, not via the repo on
sys.path. Passing proves the engine is self-contained under Spark's
standard deployment path (driver + executors receive the zip), which is
precisely what breaks when a module smuggles repo-relative imports or
import-time SparkSession access.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

from trustfuse_spark.session import CODEGEN_CACHE_MAX_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_spark_submit_py_files(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        import pytest

        pytest.skip("spark-submit binary not on this machine")
    zip_base = tmp_path / "trustfuse_spark"
    shutil.make_archive(str(zip_base), "zip", REPO, "trustfuse_spark")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only import path
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--py-files",
            str(zip_base) + ".zip",
            os.path.join(REPO, "scripts", "submit_job.py"),
            "--entities", "200",
            "--sources", "10",
            "--model", "crh",
            "--partitions", "8",
        ],
        cwd=tmp_path,  # NOT the repo: bare `import trustfuse_spark` must fail here
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert payload, proc.stdout[-2000:]
    out = json.loads(payload[-1])
    assert out["model"] == "crh"
    assert out["n_triples"] > 0
    # provenance: the package must have been imported from the zip itself
    assert "trustfuse_spark.zip" in out["pkg"], out["pkg"]
    # the submitted session carries the engine's JVM-wide settings
    assert out["static_conf"] == {
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES)
    }
