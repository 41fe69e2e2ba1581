"""spark-submit entry point (north_rule: `spark-submit --py-files`).

Runs the flagship KG pipeline (synthesized interleaved docs -> extraction ->
fusion -> triples) and prints one JSON line — the job a cluster operator
would submit, with the engine shipped as a zip via --py-files (nothing
installed on the executors; `pkg` in the output line proves the package was
imported from the zip, not from a checkout on sys.path).

Usage:
  cd /root/repo && python -c "import shutil; shutil.make_archive('/tmp/trustfuse_spark', 'zip', '.', 'trustfuse_spark')"
  cd /tmp && spark-submit --master 'local[8]' --py-files /tmp/trustfuse_spark.zip \
      /root/repo/scripts/submit_job.py --entities 240000 --model crh --max-itr 3

(run from OUTSIDE the repo so the zip is the only way to reach the package;
`scripts/bench_scaling_submit.py` wraps this at two parallelism levels.)
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=200)
    ap.add_argument("--sources", type=int, default=20)
    ap.add_argument("--revs", type=int, default=4)
    ap.add_argument("--model", default="crh")
    ap.add_argument("--max-itr", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    # spark-submit puts the --py-files zip on the driver's PYTHONPATH before
    # this script starts, so the package imports before the session exists.
    import trustfuse_spark
    from trustfuse_spark.session import STATIC_CONF

    # Master / memory / ActiveProcessorCount come from the spark-submit
    # command line — this script only sets job-shape conf, plus the engine's
    # JVM-wide settings, which Spark reads only when the session starts.
    spark = (
        SparkSession.builder.appName("trustfuse_submit")
        .config("spark.sql.shuffle.partitions", str(args.partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config(map=STATIC_CONF)
        .getOrCreate()
    )
    from trustfuse_spark.datagen import gen_docs
    from trustfuse_spark.plans.pipeline import run_pipeline

    docs = gen_docs(
        spark,
        n_entities=args.entities,
        n_sources=args.sources,
        n_revs=args.revs,
        num_partitions=args.partitions,
    ).localCheckpoint(eager=True)
    n_docs = docs.count()
    t0 = time.perf_counter()
    # majority is closed-form; max_itr only parameterizes the iterative models
    kw = {} if args.model == "majority" else {"max_itr": args.max_itr}
    triples, _ = run_pipeline(docs, model=args.model, **kw)
    n_triples = triples.count()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "model": args.model,
                "n_docs": n_docs,
                "n_triples": n_triples,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "master": spark.sparkContext.master,
                "pkg": trustfuse_spark.__file__,
                "static_conf": {k: spark.conf.get(k) for k in STATIC_CONF},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
