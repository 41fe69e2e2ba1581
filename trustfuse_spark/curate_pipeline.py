"""CLI for the corpus-curation pipeline (plans/curate.py):

    python -m trustfuse_spark.curate_pipeline \
        --docs raw_docs.parquet --out packed_dir \
        [--benchmark grams.parquet] [--min-quality 0.25] \
        [--rates '{"en": 0.5}'] [--default-rate 1.0] [--salt 0] \
        [--capacity 2048] [--stratum-col lang] [--shard-col source] \
        [--neardup-threshold 0.8]

Reads a parquet docs table (doc_id, text + stratum/shard columns), runs
exact dedup -> [MinHash near-dup drop] -> quality filter -> [benchmark
decontamination] -> stratified sampling -> sequence packing, writes the
packed-sequence table, and prints one JSON stats line. The counterpart of
`fusion_pipeline` for the document side: the reference's CLI curates
claims, this one curates the corpus those claims come from.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="parquet docs table")
    ap.add_argument("--out", required=True, help="packed-sequence parquet dir")
    ap.add_argument("--benchmark", default=None,
                    help="parquet table with a 'gram' column (eval n-grams)")
    ap.add_argument("--bench-ngram", type=int, default=8)
    ap.add_argument("--min-quality", type=float, default=0.25)
    ap.add_argument("--rates", default=None, help="JSON stratum -> keep rate")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--capacity", type=int, default=2048)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--stratum-col", default="source")
    ap.add_argument("--shard-col", default="source")
    ap.add_argument("--neardup-threshold", type=float, default=None,
                    help="run a MinHash near-dup pass at this Jaccard "
                         "threshold and drop non-representatives")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from trustfuse_spark.plans.curate import curate_corpus
    from trustfuse_spark.session import get_spark

    spark = get_spark(app_name="trustfuse_curate_pipeline")
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()

    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None

    drop_ids = None
    n_neardup = 0
    if args.neardup_threshold is not None:
        from trustfuse_spark.operators.dedup import (
            near_duplicates_minhash,
            neardup_drop_ids,
        )
        from trustfuse_spark.operators.fusion.base import cache

        pairs = near_duplicates_minhash(
            docs, args.id_col, args.text_col, threshold=args.neardup_threshold
        )
        drop_ids = cache(neardup_drop_ids(pairs))
        n_neardup = drop_ids.count()

    # sampling draw: xxhash64 (corpus-scale path); the portable polyfold
    # draw is for oracle-gated runs only
    draw = (
        F.pmod(F.xxhash64(F.col(args.id_col).cast("string"), F.lit(args.salt)),
               F.lit(1_000_000)) / 1_000_000.0
    )
    packed = curate_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        stratum_col=args.stratum_col,
        shard_col=args.shard_col,
        benchmark=benchmark,
        bench_ngram=args.bench_ngram,
        drop_ids=drop_ids,
        min_quality=args.min_quality,
        rates=json.loads(args.rates) if args.rates else None,
        default_rate=args.default_rate,
        salt=args.salt,
        capacity=args.capacity,
        sample_hash=draw,
    )
    packed.write.mode("overwrite").parquet(args.out)
    out_df = spark.read.parquet(args.out)
    stats = {
        "n_docs_in": n_in,
        "n_neardup_dropped": n_neardup,
        "n_docs_packed": out_df.count(),
        "n_bins": out_df.select(args.shard_col, "bin_id").distinct().count(),
        "capacity": args.capacity,
        "out": args.out,
    }
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
