"""End-to-end corpus-curation pipeline.

Chains the curation stages a training-data run applies between raw ingest
and tokenization, in the canonical order (cheap row-local filters first so
the expensive global stages see fewer rows; dedup before decontamination so
duplicate contaminated docs are counted once):

    exact dedup -> quality filter -> [decontaminate] -> stratified sample
    -> sequence packing

All stages are the individually-gated operators from
`operators/dedup.py` / `operators/textstats.py` / `operators/curation.py`;
this module only composes them, so the 100-TB shapes (hash-first dedup,
broadcast benchmark join, stateless sample, per-shard packing) carry over
unchanged. Near-dup (MinHash/SimHash) is intentionally NOT in the default
chain — it is corpus-dependent and an order of magnitude more expensive;
run `dedup.near_duplicates_minhash` beforehand and pass the ids to drop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.curation import (
    _tokens,
    decontaminate,
    pack_sequences,
    stratified_sample,
)
from trustfuse_spark.operators.dedup import exact_duplicates
from trustfuse_spark.operators.fusion.base import checkpoint
from trustfuse_spark.operators.textstats import quality_features


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
    shard_col: str = "source",
    benchmark: DataFrame | None = None,
    bench_ngram: int = 8,
    drop_ids: DataFrame | None = None,
    min_quality: float = 0.25,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    salt: int = 0,
    capacity: int = 2048,
    sample_hash: Column | None = None,
) -> DataFrame:
    """Run the full curation chain; returns packed-sequence rows
    (shard, id, n_tokens, bin_id, bin_offset).

    ``benchmark``: optional eval-suite n-gram table (``gram`` column) —
    contaminated docs are dropped. ``drop_ids``: optional (id) table of
    near-duplicate ids to remove (output of a prior LSH pass). ``rates``:
    per-stratum keep rates for `stratified_sample`; default keeps
    everything (rate 1.0). ``sample_hash``: optional draw column override —
    pass an ``F.xxhash64``-based draw at corpus scale (the default
    portable draw is interpreted-HOF, gate/test-scale only).
    """
    # 0. NULL text never reaches scoring/packing: a null doc would pass the
    # quality filter (ratios default to 0 -> score ~0.39) and then
    # F.size(split(NULL)) = -1 would DECREASE the packing fill.
    # Materialize the input ONCE (eager localCheckpoint): downstream stages
    # scan it repeatedly (exact-dedup hash pass + verify pass + the
    # semi-join probe side, then the fused quality->decontaminate->sample->
    # pack chain) — when the caller hands a DERIVED corpus (e.g. bench.py's
    # span->text HOF projection) every scan re-runs that interpreted
    # derivation. Measured at 1.48M docs: median 25s -> 11s for the full
    # chain (4 interleaved A/B reps). This is the stage boundary a
    # production pipeline writes to a table anyway (plans/lineage.py).
    docs = checkpoint(docs.filter(F.col(text_col).isNotNull()))

    # 1. exact dedup: keep only each text's representative doc
    reps = exact_duplicates(docs, id_col, text_col).select(
        F.col("rep_id").alias(id_col)
    )
    out = docs.join(reps, id_col, "left_semi")

    # 1b. optional near-dup drop list from a prior LSH pass
    if drop_ids is not None:
        out = out.join(
            drop_ids.select(F.col(drop_ids.columns[0]).alias(id_col)),
            id_col,
            "left_anti",
        )

    # 2. quality filter (pure expressions)
    out = quality_features(out, text_col).filter(
        F.col("quality_score") >= min_quality
    )

    # 3. benchmark decontamination (broadcast n-gram join)
    if benchmark is not None:
        out = decontaminate(out, benchmark, id_col, text_col, n=bench_ngram).filter(
            ~F.col("contaminated")
        )

    # 4. deterministic stratified sampling
    if rates or default_rate < 1.0:
        out = stratified_sample(
            out,
            stratum_col,
            rates or {},
            key_col=id_col,
            default_rate=default_rate,
            salt=salt,
            hash_expr=sample_hash,
        )

    # 5. pack into training sequences per shard
    toks = _tokens(F.col(text_col))
    sized = out.select(shard_col, id_col, F.size(toks).cast("long").alias("n_tokens"))
    return pack_sequences(
        sized, capacity, group_col=shard_col, order_col=id_col,
        tokens_col="n_tokens",
    )
