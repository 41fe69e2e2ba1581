"""CATD (confidence-aware truth discovery) as iterated DataFrame aggregations.

Reference semantics (catd.py, verified):
  numeric-only model (settings.py MODEL_PARAMETERS: numeric=True ->
  quantity-type attrs only).

  init: w = 1 per source; truth = exact median per fact.
  iterate (<= max_itr, stop when ||w_old - w|| / ||w_old|| <= tol):
    weight: raw_s = Σ_facts (v - truth)^2
            w_s = chi2.cdf(0.025, count_s) / raw_s   (raw > 0)
            w_s = 1e10                               (raw == 0)
            count_s = #facts the source participates in
    truth:  per fact weighted mean Σ w·v / Σ w
  final: snap truth to the nearest claimed value (ties -> smaller value).

The mean is taken over log-weights shifted by the fact's largest: for k
above about 200, chi2.cdf(0.025, k) underflows to 0 and so would Σ w.

Convergence is evaluated globally across all buckets (max per-bucket err)
— the reference stops each bucket independently inside its per-bucket loop;
post-convergence extra iterations are fixed-point no-ops to float precision,
and the fixed-iteration mode (tol=None) is exactly reproducible.

chi2.cdf(0.025, k) has no Spark builtin; its log is evaluated on the tiny
per-source weights table via an Arrow-batched pandas UDF implementing the
regularized lower incomplete gamma log P(k/2, 0.0125) by series expansion
(converges in a handful of terms for x = 0.0125).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    assemble_truth,
    facts_per_source,
    iterate,
    median_per_fact,
    quantity_claims,
    rel_l2_change,
    snap_to_claimed,
)


@pandas_udf(T.DoubleType())
def log_chi2_cdf_0025(k: pd.Series) -> pd.Series:
    """log chi2.cdf(0.025, k) = log P(k/2, 0.0125), P(a, x) = x^a e^-x
    Σ_{n>=0} x^n / Γ(a+n+1), the sum taken relative to its first term so it
    stays finite where P underflows."""
    a, x = k.to_numpy(dtype="float64") / 2.0, 0.0125
    term = np.ones_like(a)
    total = term.copy()
    for n in range(1, 60):
        term = term * x / (a + n)
        total += term
        if np.all(term < 1e-18):
            break
    return pd.Series(a * math.log(x) - x - np.vectorize(math.lgamma)(a + 1.0) + np.log(total))


def fuse_catd(
    claims: DataFrame,
    max_itr: int = 10,
    tol: float | None = 0.1,
    zero_tol: float = 1e-9,
) -> FusionResult:
    """zero_tol: residual sums below this count as the reference's exact
    raw == 0 (-> weight 1e10). Float summation order across shuffles leaves
    ~1e-22 residue where numpy gets an exact 0; an explicit tolerance is the
    shuffle-stable equivalent (SURVEY §7.4 risk 1)."""
    if max_itr < 1:
        raise ValueError("max_itr must be >= 1")
    claims = quantity_claims(claims)
    counts = facts_per_source(claims)
    init_truth = median_per_fact(claims)  # lazy

    def truth_of(weights: DataFrame | None) -> DataFrame:
        """Per-fact weighted mean over broadcast log-weights, shifted by the
        fact's largest (median before the first weights)."""
        if weights is None:
            return init_truth
        shifted = F.exp(F.col("logw") - F.max("logw").over(Window.partitionBy(*FACT_KEYS)))
        return (
            claims.join(F.broadcast(weights), WEIGHT_KEYS)
            .withColumn("w", shifted)
            .groupBy(*FACT_KEYS)
            .agg((F.sum(F.col("w") * F.col("value_num")) / F.sum("w")).alias("truth_num"))
        )

    def step(weights: DataFrame | None) -> DataFrame:
        raw = (
            claims.join(truth_of(weights), FACT_KEYS)
            .groupBy(*WEIGHT_KEYS)
            .agg(F.sum((F.col("value_num") - F.col("truth_num")) ** 2).alias("raw"))
        )
        positive, log_cdf = F.col("raw") > zero_tol, log_chi2_cdf_0025(F.col("cnt"))
        return raw.join(counts, WEIGHT_KEYS).select(
            *WEIGHT_KEYS,
            F.when(positive, log_cdf - F.log("raw")).otherwise(math.log(1e10)).alias("logw"),
            F.when(positive, F.exp(log_cdf) / F.col("raw")).otherwise(1e10).alias("weight"),
        )

    def stop(old: DataFrame | None, new: DataFrame) -> bool:
        return rel_l2_change(old, new, WEIGHT_KEYS, "weight") <= tol

    weights, _ = iterate(None, step, max_itr, None if tol is None else stop)
    num_truth = snap_to_claimed(claims, truth_of(weights))
    return FusionResult(truth=assemble_truth(None, num_truth), weights=weights.drop("logw"))
