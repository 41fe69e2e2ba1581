"""ACCU (Bayesian independent-source voting) as iterated DataFrame aggs.

Reference semantics (accu.py, verified):

  input reduction: ONE claim per (source, fact) — the reference's
  convert_input dict overwrite keeps the source's last claim; we pin the
  deterministic equivalent (smallest value) since long-form claims carry no
  row order. One claim per (source, fact) is the common case anyway.

  init: inferred truth = a claimer's value (reference: first source in dict
  order — hash-order dependent; pinned here to the value of the smallest
  source name). Source accuracy init: reference draws uniform(0.5, 1) per
  source (seed-dependent, SURVEY §5.2); pinned to a constant (0.8) by
  default, or caller-supplied per-source priors.

  iterate max_itr (reference: 100, fixed):
    vote:  per (fact, value) score = Σ_claimers ln((n-1)·a_s / (1 - a_s)),
           n = #distinct values of the fact; single-value facts score 1.0
    truth: argmax score (ties -> ascending value; the reference's
           "max_value = -1" sentinel bug — truth silently 0 when every score
           <= -1 — is NOT replicated, documented divergence)
    accuracy: per source, fraction of its claims matching inferred truth;
           clamped to 0.99 / 0.01 only at exactly 1.0 / 0.0

  weights = final source accuracy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    argmax_per_fact,
    checkpoint,
    iterate,
    max_abs_change,
    value_key,
    value_truth,
)


def one_claim_per_source(claims: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(prepared, claims_n): one claim per (source, fact), materialized —
    the smallest value, a pinned stand-in for the reference's
    last-write-wins dict — and the same rows with ``n_vals``, the fact's
    number of distinct values."""
    w_dedup = Window.partitionBy(*FACT_KEYS, "source").orderBy("vkey")
    prepared = checkpoint(
        claims.withColumn("vkey", value_key())
        .withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
        .select(*FACT_KEYS, "source", "vkey", "value_str", "value_num")
    )
    n_distinct = prepared.groupBy(*FACT_KEYS).agg(
        F.countDistinct("vkey").alias("n_vals")
    )
    return prepared, prepared.join(n_distinct, FACT_KEYS)


def vote(claims_w: DataFrame, acc: Column) -> DataFrame:
    """Per fact the value with the largest Σ ln((n-1)·a / (1-a)) over its
    claimers' accuracy ``acc`` (1.0 on single-valued facts; ties ->
    ascending value) -> FACT_KEYS, vkey, value_str, value_num."""
    scored = (
        claims_w.groupBy(*FACT_KEYS, "vkey", "n_vals")
        .agg(
            F.sum(F.log((F.col("n_vals") - 1) * acc / (1 - acc))).alias("score_sum"),
            F.first("value_str").alias("value_str"),
            F.first("value_num").alias("value_num"),
        )
        .withColumn(
            "score",
            F.when(F.col("n_vals") == 1, F.lit(1.0)).otherwise(F.col("score_sum")),
        )
    )
    return argmax_per_fact(scored, F.col("score"), "vkey").select(
        *FACT_KEYS, "vkey", "value_str", "value_num"
    )


def fuse_accu(
    claims: DataFrame,
    max_itr: int = 100,
    init_accuracy: float = 0.8,
    init_weights: DataFrame | None = None,
    tol: float | None = 0.0,
) -> FusionResult:
    if max_itr < 1:
        raise ValueError("max_itr must be >= 1")
    prepared, claims_n = one_claim_per_source(claims)
    if init_weights is None:
        acc = (
            prepared.select(*WEIGHT_KEYS)
            .distinct()
            .withColumn("acc", F.lit(float(init_accuracy)))
        )
    else:
        acc = init_weights.select(*WEIGHT_KEYS, F.col("weight").alias("acc"))

    def truth_of(acc: DataFrame) -> DataFrame:
        return vote(claims_n.join(F.broadcast(acc), WEIGHT_KEYS), F.col("acc"))

    def step(acc: DataFrame) -> DataFrame:
        return (
            prepared.join(
                truth_of(acc).select(*FACT_KEYS, F.col("vkey").alias("t_vkey")), FACT_KEYS
            )
            .groupBy(*WEIGHT_KEYS)
            .agg(F.avg((F.col("vkey") == F.col("t_vkey")).cast("double")).alias("a"))
            .select(
                *WEIGHT_KEYS,
                F.when(F.col("a") == 1.0, F.lit(0.99))
                .when(F.col("a") == 0.0, F.lit(0.01))
                .otherwise(F.col("a"))
                .alias("acc"),
            )
        )

    # Early stop at the EXACT weights fixed point (tol=0.0 default):
    # acc_{i+1} == acc_i implies every later iteration repeats verbatim
    # (argmax ties are pinned), so stopping returns the identical output
    # the reference's fixed 100 iterations would — reference parity is
    # preserved, ~95 dead materializations are not (VERDICT r1 item 7).
    # tol=None restores the strict fixed-iteration loop.
    def stop(old: DataFrame, new: DataFrame) -> bool:
        return max_abs_change(old, new, WEIGHT_KEYS, "acc") <= tol

    acc, prev = iterate(checkpoint(acc), step, max_itr, None if tol is None else stop)
    # the truth is the vote that produced the final accuracies
    out_truth = value_truth(truth_of(prev))
    return FusionResult(
        truth=out_truth, weights=acc.select(*WEIGHT_KEYS, F.col("acc").alias("weight"))
    )
