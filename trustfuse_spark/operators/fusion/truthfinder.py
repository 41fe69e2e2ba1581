"""TruthFinder as iterated DataFrame aggregations + a fact-local pair join.

Reference semantics (truthfinder.py, verified):

  per iteration (update_claim :57-100, update_source :43-54):
    σ(fact, v)  = Σ τ[sources claiming v]
    tmp(v):
      string/entity: (1 - ρ(1-θ))·σ(v) + ρ·Σ_{u≠v} σ(u)·(exp(-jaro(v,u)) - θ)
      quantity:      (1 - ρ(1-θ))·σ(v) + ρ·Σ_{u}   σ(u)·(exp(-|v-u|)  - θ)
                     (note: the quantity branch INCLUDES u=v — reference sums
                     over the whole claim_set; the string branch excludes it)
      other types:   σ(v) unchanged
    s(v)  = 1 / (1 + exp(-γ·tmp(v)))
    t_src = mean of s over the source's claims
    τ_src = ln(1e10) if t ≥ 1 else -ln(1 - t)

  init τ = -ln(1 - 0.9); fixed max_itr iterations; final truth per fact =
  claimed value with max s (ties pinned to ascending value).

The pairwise implication term is a fact-local self-join over *distinct
claimed values* (≤ #sources per fact), not an applyInPandas — it stays
distributed and AQE-skew-handled. Jaro similarity is the only Python, as an
Arrow-batched pandas UDF over the pair rows (``functions.similarity``; the
reference models/utils.py:32-68 algorithm, reimplemented).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.functions.similarity import jaro_udf
from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    argmax_per_fact,
    checkpoint,
    iterate,
    value_key,
    value_truth,
)


def _sigma(claims_w: DataFrame) -> DataFrame:
    """σ per (fact, distinct value): Σ τ of claimers. vkey is the grouping
    value (string repr; numeric facts keyed by their double value)."""
    return (
        claims_w.groupBy(*FACT_KEYS, "vkey")
        .agg(
            F.sum("tau").alias("sigma"),
            F.first("value_str").alias("value_str"),
            F.first("value_num").alias("value_num"),
            F.first("branch").alias("branch"),
        )
    )


def _static_pairs(prepared: DataFrame) -> DataFrame:
    """Iteration-invariant implication pairs: (fact, vkey, vkey2, impl).

    The candidate set (distinct claimed values per fact) and the pairwise
    implication weight impl = exp(-jaro(u,v)) / exp(-|u-v|) never change
    across iterations — only σ does. Computing them ONCE and checkpointing
    means the jaro pandas UDF runs once per pair instead of once per pair
    per iteration (10x fewer Arrow round-trips at the default budget), and
    the per-iteration work collapses to one join + one aggregation.

    jaro branch excludes u == v; quantity branch includes it (reference
    truthfinder.py:57-100 sums over the whole claim_set in the qty branch).
    """
    cands = prepared.select(
        *FACT_KEYS, "vkey", "value_str", "value_num", "branch"
    ).distinct()
    cj = cands.filter(F.col("branch") == "jaro")
    oj = cj.select(
        *FACT_KEYS,
        F.col("vkey").alias("vkey2"),
        F.col("value_str").alias("vstr2"),
    )
    pj = (
        cj.join(oj, FACT_KEYS)
        .filter(F.col("vkey") != F.col("vkey2"))
        .select(
            *FACT_KEYS, "vkey", "vkey2",
            F.exp(-jaro_udf(F.col("value_str"), F.col("vstr2"))).alias("impl"),
        )
    )
    cq = cands.filter(F.col("branch") == "qty")
    oq = cq.select(
        *FACT_KEYS,
        F.col("vkey").alias("vkey2"),
        F.col("value_num").alias("vnum2"),
    )
    pq = cq.join(oq, FACT_KEYS).select(
        *FACT_KEYS, "vkey", "vkey2",
        F.exp(-F.abs(F.col("vnum2") - F.col("value_num"))).alias("impl"),
    )
    return pj.unionByName(pq)


def _tmp_scores(
    sigma: DataFrame, pairs: DataFrame, rho: float, theta: float
) -> DataFrame:
    """Implication-adjusted support per (fact, value): one join of the
    static pair table against this iteration's σ, one aggregation."""
    base = (1 - rho * (1 - theta)) * F.col("sigma")
    sig2 = sigma.select(
        *FACT_KEYS, F.col("vkey").alias("vkey2"), F.col("sigma").alias("sigma2")
    )
    loss = (
        pairs.join(sig2, [*FACT_KEYS, "vkey2"])
        .groupBy(*FACT_KEYS, "vkey")
        .agg(F.sum(F.col("sigma2") * (F.col("impl") - F.lit(theta))).alias("loss_sum"))
    )
    tmp = (
        F.when(F.col("branch") == "none", F.col("sigma"))
        .otherwise(base + rho * F.coalesce("loss_sum", F.lit(0.0)))
    )
    return (
        sigma.join(loss, [*FACT_KEYS, "vkey"], "left")
        .withColumn("tmp", tmp)
        .select(*FACT_KEYS, "vkey", "value_str", "value_num", "tmp")
    )


def fuse_truthfinder(
    claims: DataFrame,
    max_itr: int = 10,
    rho: float = 0.5,
    gamma: float = 0.3,
    theta: float = 0.0,
) -> FusionResult:
    if max_itr < 1:
        raise ValueError("max_itr must be >= 1")
    branch = (
        F.when(F.col("claim_type").isin("string", "entity"), F.lit("jaro"))
        .when(F.col("claim_type") == "quantity", F.lit("qty"))
        .otherwise(F.lit("none"))
    )
    # Severed + materialized once (see fuse_crh note on cache vs checkpoint).
    prepared = checkpoint(
        claims.select(*FACT_KEYS, "source", "value_str", "value_num", "claim_type")
        .withColumn("branch", branch)
        .withColumn("vkey", value_key())
    )

    tau = checkpoint(
        prepared.select(*WEIGHT_KEYS)
        .distinct()
        .withColumn("tau", F.lit(-math.log(1 - 0.9)))
    )

    # The pair table (with jaro sims) is iteration-invariant: materialize
    # it once, outside the loop (never rotated — every iteration reads it).
    pairs = checkpoint(_static_pairs(prepared))

    def scores_of(tau: DataFrame) -> DataFrame:
        claims_w = prepared.join(F.broadcast(tau), WEIGHT_KEYS)
        return _tmp_scores(_sigma(claims_w), pairs, rho, theta).withColumn(
            "s", 1.0 / (1.0 + F.exp(-gamma * F.col("tmp")))
        )

    def step(tau: DataFrame) -> DataFrame:
        per_claim = prepared.join(
            scores_of(tau).select(*FACT_KEYS, "vkey", "s"), [*FACT_KEYS, "vkey"]
        )
        return (
            per_claim.groupBy(*WEIGHT_KEYS)
            .agg(F.avg("s").alias("t"))
            .select(
                *WEIGHT_KEYS,
                F.when(F.col("t") >= 1.0, F.lit(math.log(1e10)))
                .otherwise(-F.log(1.0 - F.col("t")))
                .alias("tau"),
            )
        )

    # Per iteration only the tiny tau table is materialized; claim scores
    # stay lazy (constant-depth lineage over cached claims + checkpointed
    # tau/pairs) — one job per iteration.
    tau, prev = iterate(tau, step, max_itr)
    # the final truth reads the scores that produced the final tau
    truth = value_truth(argmax_per_fact(scores_of(prev), F.col("s"), "vkey"))
    return FusionResult(
        truth=truth, weights=tau.select(*WEIGHT_KEYS, F.col("tau").alias("weight"))
    )
