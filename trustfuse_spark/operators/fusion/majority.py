"""Majority-vote / median fusion — CRH's truth initialization as a standalone
model (reference crh.py:92-103 ``initialize_truth``), the walking-skeleton
fuser of SURVEY §7.2 slice 0.

Categorical facts -> mode (tie: lexicographically smallest, = pandas
``mode().iloc[0]``); numeric facts -> exact median, snapped to the nearest
claimed value so emitted triples always carry a claimed object.
Weights = each source's share of claims agreeing with the fused truth
(a simple accuracy, for rank diagnostics — the reference's majority init has
no weight concept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    assemble_truth,
    checkpoint,
    median_per_fact,
    mode_per_fact,
    snap_to_claimed,
    split_claims,
)


def fuse_majority(claims: DataFrame) -> FusionResult:
    # mode/median/snap/weights each re-derive claims otherwise — with a
    # lazy extraction upstream that's 4-6 replays of the whole scan
    # (measured 10.7s -> ~2s on the docs pipeline at sf0.1)
    claims = checkpoint(claims)
    cat, num = split_claims(claims)
    cat_truth = mode_per_fact(cat)
    num_truth = snap_to_claimed(num, median_per_fact(num))
    truth = assemble_truth(cat_truth, num_truth)

    # Source accuracy vs fused truth. claims ⋈ truth is fact-keyed on both
    # sides (truth is per-fact — NOT broadcast-able at scale; AQE picks the
    # join strategy and handles skewed facts).
    agree = F.when(
        F.col("is_numeric"), F.col("value_num") == F.col("t_num")
    ).otherwise(F.col("value_str") == F.col("t_str"))
    weights = (
        claims.join(
            truth.select(
                *FACT_KEYS,
                F.col("value_str").alias("t_str"),
                F.col("value_num").alias("t_num"),
                "is_numeric",
            ),
            FACT_KEYS,
        )
        .groupBy(*WEIGHT_KEYS)
        .agg(F.avg(agree.cast("double")).alias("weight"))
    )
    return FusionResult(truth=truth, weights=weights)
