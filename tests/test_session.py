"""Session defaults: worker import path and driver memory."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from trustfuse_spark.session import DRIVER_MEM_CAP_MB, default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from trustfuse_spark.session import get_spark
from trustfuse_spark.operators.fusion.crh import fuse_crh
from trustfuse_spark.functions.similarity import jaro_udf

spark = get_spark(app_name="cwd_probe", master="local[2]", shuffle_partitions=2)
claims = spark.createDataFrame(
    [(0, "s1", "e", "a", "x", None, "string"),
     (0, "s2", "e", "a", "x", None, "string"),
     (0, "s3", "e", "a", "y", None, "string")],
    "bucket_id int, source string, entity string, attr string,"
    " value_str string, value_num double, claim_type string",
)
res = fuse_crh(claims, max_itr=2)
print(json.dumps({{
    "truth": [r["value_str"] for r in res.truth.collect()],
    "jaro": claims.select(jaro_udf(F.col("value_str"), F.lit("x"))).first()[0],
    "driver_mem": spark.sparkContext.getConf().get("spark.driver.memory"),
}}))
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """Python workers unpickle trustfuse_spark functions (the CRH kernel, the
    Jaro UDF) when the driver runs outside the checkout with no PYTHONPATH
    and found the package only through its own sys.path."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert out == {"truth": ["x"], "jaro": 1.0, "driver_mem": "1g"}


def test_driver_memory_default_fits_host(spark):
    with open("/proc/meminfo") as fh:
        total_mb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:")) // 1024
    mb = int(default_driver_memory().rstrip("m"))
    assert 0 < mb <= min(total_mb // 2, DRIVER_MEM_CAP_MB)
    want = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
