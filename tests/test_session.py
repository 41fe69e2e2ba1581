"""Session defaults: worker import path, driver memory and the
generated-code cache."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from trustfuse_spark.datagen import gen_docs, gen_entity_dictionary
from trustfuse_spark.plans.curate import curate_corpus
from trustfuse_spark.plans.pipeline import run_pipeline
from trustfuse_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    DRIVER_MEM_CAP_MB,
    default_driver_memory,
)

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


def _link_curate(spark, docs_path, dict_path):
    """One linked-pipeline + curation call, both outputs materialized."""
    docs = spark.read.parquet(docs_path)
    triples, _ = run_pipeline(
        docs,
        model="majority",
        link_entities=True,
        entity_dictionary=spark.read.parquet(dict_path),
    )
    text = docs.select(
        "doc_id",
        F.substring("doc_id", 9, 4).alias("source"),
        F.concat_ws(
            " ",
            F.transform(F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]),
        ).alias("text"),
    )
    packed = curate_corpus(text, min_quality=0.2, default_rate=0.9, capacity=512)
    return sorted(triples.collect()), sorted(packed.collect())


def test_repeated_pipeline_compiles_nothing(spark, tmp_path):
    """A repeated linking + curation call reuses every generated class: the
    codegen cache holds the call's whole working set (about 130 classes on
    a cold JVM; Spark's default 100-entry LRU cache recompiled 117 of
    them on the second call)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    docs_path, dict_path = str(tmp_path / "docs"), str(tmp_path / "dict")
    gen_docs(spark, 40, 5, 2, entity_noise=True).write.parquet(docs_path)
    gen_entity_dictionary(spark, 40).write.parquet(dict_path)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # AQE re-plans as shuffle stages finish (e.g. it broadcasts whichever
    # join side is done first), so a second call can meet a plan variant,
    # with its own generated code, that the first never ran. Static plans
    # keep that timing out of a test about the cache.
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        first = _link_curate(spark, docs_path, dict_path)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        second = _link_curate(spark, docs_path, dict_path)
        after = metrics.METRIC_COMPILATION_TIME().getCount()
    finally:
        spark.conf.set(key, prev)
    assert second == first and first[0] and first[1]
    assert after - before == 0, f"{after - before} classes recompiled"
