"""SLiMFast — the reference's degenerate logistic-regression variant.

Reference semantics (slimfast.py, verified): every source maps to the SAME
single feature key "w" (convert_input builds source_features[s] = {"w": 0}
for all s), so feature_weights collapses to ONE shared scalar and all
sources always carry the identical accuracy sigmoid(w). We replicate that
faithfully:

  per iteration (10 default):
    truth: ACCU-style vote with the shared accuracy a — per fact score(v) =
      count(v) * ln((n-1) a / (1-a)); single-valued facts short-circuit;
      argmax (ties -> ascending value; if ln-term < 0 this picks the
      LEAST-claimed value, a genuine property of the shared-weight
      degeneracy — kept)
    SGD: sequential over claims — w -= alpha * (-sigmoid(-w)) per correct
      claim, w -= alpha * sigmoid(w) per incorrect; then one L1 shrink by
      alpha*reg toward 0; a = sigmoid(w) (clamped at exact 1.0/0.0 to
      0.99/0.01)

The SGD recurrence is order-dependent; the reference's order is dict
insertion (hash/row order). We pin claims order = sorted (entity, attr,
value, source). The scalar fold runs per bucket inside applyInPandas
(Arrow-batched); the general multi-feature SLiMFast would instead be a
Spark-ML LogisticRegression — noted, out of reference scope.

Init accuracy: reference draws uniform(0.7, 0.99) per source but then
immediately overwrites all accuracies from the shared weight after the first
update; only the FIRST truth vote sees the random init. We pin init a = 0.8.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trustfuse_spark.operators.fusion.accu import one_claim_per_source, vote
from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    checkpoint,
    iterate,
    value_truth,
)

_W_SCHEMA = T.StructType(
    [
        T.StructField("bucket_id", T.IntegerType()),
        T.StructField("w_shared", T.DoubleType()),
    ]
)


def _accuracy() -> F.Column:
    """Every source's accuracy: sigmoid of the shared weight, clamped at
    exactly 1.0 / 0.0 to 0.99 / 0.01."""
    a = 1.0 / (1.0 + F.exp(-F.col("w_shared")))
    return F.when(a >= 1.0, 0.99).when(a <= 0.0, 0.01).otherwise(a)


def _sgd_factory(alpha: float, reg: float):
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["entity", "attr", "vkey", "source"])
        w = float(pdf["w_shared"].iloc[0])
        for correct in pdf["correct"]:
            if correct:
                w -= alpha * (-1.0 / (math.exp(-w) + 1.0))
            else:
                w -= alpha * (1.0 / (1.0 + math.exp(-w)))
        if w > 0:
            w = max(0.0, w - alpha * reg)
        elif w < 0:
            w = min(0.0, w + alpha * reg)
        return pd.DataFrame({"bucket_id": [pdf["bucket_id"].iloc[0]], "w_shared": [w]})

    return fold


def fuse_slimfast(
    claims: DataFrame,
    max_itr: int = 10,
    alpha: float = 0.01,
    reg: float = 0.01,
    init_accuracy: float = 0.8,
) -> FusionResult:
    if max_itr < 1:
        raise ValueError("max_itr must be >= 1")
    # one claim per (source, fact), smallest value pinned (dict-overwrite twin)
    prepared, claims_n = one_claim_per_source(claims)
    buckets = prepared.select("bucket_id").distinct()
    sgd = _sgd_factory(alpha, reg)

    def truth_of(shared_w: DataFrame) -> DataFrame:
        claims_w = claims_n.join(F.broadcast(shared_w), "bucket_id").withColumn(
            "a", _accuracy()
        )
        return vote(claims_w, F.col("a"))

    def step(shared_w: DataFrame) -> DataFrame:
        correct = prepared.join(
            truth_of(shared_w).select(*FACT_KEYS, F.col("vkey").alias("t_vkey")), FACT_KEYS
        ).withColumn("correct", F.col("vkey") == F.col("t_vkey"))
        return (
            correct.join(F.broadcast(shared_w), "bucket_id")
            .select("bucket_id", "entity", "attr", "vkey", "source", "correct", "w_shared")
            .groupBy("bucket_id")
            .applyInPandas(sgd, _W_SCHEMA)
        )

    init_w = buckets.withColumn("w_shared", F.lit(-math.log(1.0 / init_accuracy - 1.0)))
    shared_w, prev = iterate(checkpoint(init_w), step, max_itr)
    # the truth is the vote that produced the final shared weight
    out_truth = value_truth(truth_of(prev))
    weights = (
        prepared.select(*WEIGHT_KEYS)
        .distinct()
        .join(F.broadcast(shared_w), "bucket_id")
        .select(*WEIGHT_KEYS, _accuracy().alias("weight"))
    )
    return FusionResult(truth=out_truth, weights=weights)
