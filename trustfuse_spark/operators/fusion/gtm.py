"""GTM (Gaussian truth model) as iterated DataFrame aggregations.

Reference semantics (gtm.py, verified — including its quirks, which we
replicate deliberately per SURVEY §7.4):

  numeric-only. Per fact:
    prior   = exact median of claims
    outlier strip = SINGLE pass removing claims with
                    |v - prior| / prior > delta0 (only when prior != 0)
                    (the reference's `while np.all(outliers) is False` loop
                    body never executes: np.bool_ is never Python False)
    sigma_e = population std of the surviving claims
    cn      = v - prior   (normalized claims; NOT divided by sigma_e)

  init:    truth0 = prior (non-normalized!), sigma^2 per source from the
           maximization step evaluated against truth0 — replicating the
           reference's mixed-scale initialization.
  EM loop (<= max_itr, global ||Δtruth||/||truth|| <= tol stop):
    E: truth_i = (mu0/sigma0^2 + Σ cn/σ_s^2) / (1/sigma0^2 + Σ 1/σ_s^2)
    M: σ_s^2 = Σ_facts (2β + (cn - truth)^2) / (2(α+1) + count_s)
  rescale: truth*sigma_e + prior, then snap to the nearest of the ORIGINAL
  claims (outliers included — reference snaps against initial_claim).
  weights = σ_s^2 (the reference reports source variance as "weights").
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
    facts_per_source,
    iterate,
    quantity_claims,
    rel_l2_change,
    snap_to_claimed,
)


def fuse_gtm(
    claims: DataFrame,
    max_itr: int = 20,
    tol: float | None = 1e-3,
    alpha: float = 10.0,
    beta: float = 10.0,
    mu0: float = 0.0,
    sigma0: float = 1.0,
    delta0: float = 1.0,
) -> FusionResult:
    original = quantity_claims(claims)
    prior = original.groupBy(*FACT_KEYS).agg(
        F.expr("percentile(value_num, 0.5)").alias("prior")
    )
    kept = original.join(prior, FACT_KEYS).filter(
        (F.col("prior") == 0)
        | (F.abs(F.col("value_num") - F.col("prior")) / F.abs(F.col("prior")) <= delta0)
    )
    # NB: reference divides by prior without abs(); priors are medians of
    # claimed values which are positive in all its datasets. abs() here keeps
    # the same behavior for positive priors and a sane one for negative.
    fact_stats = kept.groupBy(*FACT_KEYS).agg(
        F.stddev_pop("value_num").alias("sigma_e"),
        F.count("*").alias("n_kept"),
    )
    cn = checkpoint(
        kept.select(*FACT_KEYS, "source", (F.col("value_num") - F.col("prior")).alias("cn"))
    )
    counts = facts_per_source(cn)

    def maximization(truth_df: DataFrame) -> DataFrame:
        return (
            cn.join(truth_df, FACT_KEYS)
            .groupBy(*WEIGHT_KEYS)
            .agg(F.sum(2 * beta + (F.col("cn") - F.col("truth")) ** 2).alias("ssum"))
            .join(counts, WEIGHT_KEYS)
            .select(
                *WEIGHT_KEYS,
                (F.col("ssum") / (2 * (alpha + 1) + F.col("cnt"))).alias("sigma2"),
            )
        )

    def expectation(sigma2: DataFrame) -> DataFrame:
        return (
            cn.join(F.broadcast(sigma2), WEIGHT_KEYS)
            .groupBy(*FACT_KEYS)
            .agg(
                (
                    (F.lit(mu0 / sigma0**2) + F.sum(F.col("cn") / F.col("sigma2")))
                    / (F.lit(1.0 / sigma0**2) + F.sum(1.0 / F.col("sigma2")))
                ).alias("truth")
            )
        )

    # init: truth0 = prior (non-normalized), evaluated against normalized cn
    truth = prior.select(*FACT_KEYS, F.col("prior").alias("truth"))
    sigma2 = checkpoint(maximization(truth))
    if tol is None:
        # truth stays lazy; the final one is the E step of the previous sigma2
        sigma2, prev = iterate(
            sigma2, lambda s: maximization(expectation(s)), max_itr
        )
        if prev is not None:
            truth = expectation(prev)
    else:
        # truth is materialized too: the stop test compares consecutive truths
        # (||Δtruth|| / ||truth_old||; none against the prior)
        def stop(old: tuple, new: tuple) -> bool:
            return rel_l2_change(old[0], new[0], FACT_KEYS, "truth") <= tol

        (last, sigma2), _ = iterate(
            (None, sigma2),
            (lambda st: expectation(st[1]), lambda st: maximization(st[0])),
            max_itr,
            stop,
        )
        truth = truth if last is None else last

    rescaled = (
        truth.join(prior, FACT_KEYS)
        .join(fact_stats, FACT_KEYS)
        .select(
            *FACT_KEYS,
            (F.col("truth") * F.col("sigma_e") + F.col("prior")).alias("truth_num"),
        )
    )
    num_truth = snap_to_claimed(original, rescaled)
    weights = sigma2.select(*WEIGHT_KEYS, F.col("sigma2").alias("weight"))
    return FusionResult(truth=assemble_truth(None, num_truth), weights=weights)
