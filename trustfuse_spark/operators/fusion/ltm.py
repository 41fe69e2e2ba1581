"""LTM (latent truth model) — collapsed Gibbs sampling per (bucket, attr)
group via applyInPandas, soft source-quality as DataFrame aggregations.

Reference semantics (ltm.py, verified):
  Facts are BINARY: one per (entity, claimed value). A source claims "1" for
  values it stated; it makes an implicit "0" claim for every other claimed
  value of entities it touched for that attribute (ltm.py:159-164).
  Hyperpriors (after the reference's index-reversing constructor,
  ltm.py:32-39, alpha_set=[[50,50],[100,10000]], beta_set=[10,10]):
    alpha[t][o]: a11=50 a10=50 a01=100 a00=10000 ; beta = {0:10, 1:10}
  Collapsed Gibbs (100 iterations, burn-in 8, thinning 2): per fact,
  multiply per-source posterior-predictive ratios (current-assignment counts
  minus self for the kept state), flip w.p. p_-t/(p_t + p_-t), accumulate
  the sample mean after burn-in; emit values with posterior >= 0.9
  (possibly none or several per entity — multi-valued truth).
  Source quality: soft confusion counts weighted by posterior ->
  recall/specificity with the alpha priors.

Determinism: the sampler is seeded per (bucket, attr) group from a stable
hash, fact order is sorted (entity, value), source order sorted — identical
output across partitionings and runs for a fixed seed (the reference's
global `random` module state is irreproducible across processes instead;
SURVEY §5.2 allows pinning).

Output weights: the reference's get_results overwrites weights with the
LAST attribute's quality dict (ltm.py get_results) — a bug we do not copy;
we report weight = mean recall per (bucket, source) over attributes, plus a
`quality` DataFrame with per-attr recall/specificity.
"""

from __future__ import annotations

import random
import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    cache,
    checkpoint,
    value_key,
    value_truth,
)

_POST_SCHEMA = T.StructType(
    [
        T.StructField("bucket_id", T.IntegerType()),
        T.StructField("attr", T.StringType()),
        T.StructField("entity", T.StringType()),
        T.StructField("vkey", T.StringType()),
        T.StructField("posterior", T.DoubleType()),
    ]
)

ALPHA = {"1": {"1": 50.0, "0": 50.0}, "0": {"1": 100.0, "0": 10000.0}}
BETA = {"1": 10.0, "0": 10.0}


def binary_claims(claims: DataFrame) -> DataFrame:
    """Explicit '1' claims + implicit '0' claims (source touched the entity
    for this attr but did not state this value)."""
    stated = (
        claims.withColumn("vkey", value_key())
        .select(*FACT_KEYS, "source", "vkey", "value_str", "value_num")
        .distinct()
    )
    facts = stated.select(*FACT_KEYS, "vkey").distinct()
    touched = stated.select(*FACT_KEYS, "source").distinct()
    zero = (
        touched.join(facts, FACT_KEYS)
        .join(stated.select(*FACT_KEYS, "source", "vkey"), [*FACT_KEYS, "source", "vkey"], "left_anti")
        .select(*FACT_KEYS, "source", "vkey", F.lit("0").alias("obs"))
    )
    one = stated.select(*FACT_KEYS, "source", "vkey", F.lit("1").alias("obs"))
    return one.unionByName(zero)


def _gibbs_factory(max_itr: int, burnin: int, thin: int, seed: int):
    def sample(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket_id"].iloc[0])
        attr = str(pdf["attr"].iloc[0])
        # stable across processes (Python str hash is salted per process)
        rng = random.Random((zlib.crc32(f"{bucket}|{attr}".encode()) ^ seed) & 0x7FFFFFFF)
        facts = sorted({(e, v) for e, v in zip(pdf["entity"], pdf["vkey"])})
        fidx = {f: i for i, f in enumerate(facts)}
        # per fact: list of (source, obs)
        claims: list[list[tuple[str, str]]] = [[] for _ in facts]
        for e, v, s, o in zip(pdf["entity"], pdf["vkey"], pdf["source"], pdf["obs"]):
            claims[fidx[(e, v)]].append((s, o))
        for lst in claims:
            lst.sort()
        truth = ["1" if rng.uniform(0, 1) >= 0.5 else "0" for _ in facts]
        # source confusion counts n[s][t][o]
        n: dict[str, dict[str, dict[str, int]]] = {}
        for i, lst in enumerate(claims):
            for s, o in lst:
                m = n.setdefault(s, {"0": {"0": 0, "1": 0}, "1": {"0": 0, "1": 0}})
                m[truth[i]][o] += 1
        sample_size = max_itr // thin - burnin // thin
        post = [0.0] * len(facts)
        for it in range(1, max_itr + 1):
            for i, lst in enumerate(claims):
                t = truth[i]
                nt = str(1 - int(t))
                ptf = BETA[t]
                p_tf = BETA[nt]
                for s, o in lst:
                    no = str(1 - int(o))
                    m = n[s]
                    ptf *= (m[t][o] - 1 + ALPHA[t][o]) / (
                        m[t][o] + m[t][no] - 1 + ALPHA[t][o] + ALPHA[t][no]
                    )
                    p_tf *= (m[nt][o] + ALPHA[nt][o]) / (
                        m[nt][o] + m[nt][no] + ALPHA[nt][o] + ALPHA[nt][no]
                    )
                if rng.uniform(0, 1) < p_tf / (ptf + p_tf):
                    truth[i] = nt
                    for s, o in lst:
                        n[s][t][o] -= 1
                        n[s][nt][o] += 1
                if it > burnin and it % thin == 0:
                    post[i] += int(truth[i]) / sample_size
        return pd.DataFrame(
            {
                "bucket_id": bucket,
                "attr": attr,
                "entity": [f[0] for f in facts],
                "vkey": [f[1] for f in facts],
                "posterior": post,
            }
        )

    return sample


def ltm_posterior_mean(claims: DataFrame, iters: int = 2) -> DataFrame:
    """Derandomized LTM: synchronous posterior-mean (mean-field) updates in
    pure DataFrame expressions — the driver-gateable twin of the collapsed
    Gibbs sampler (`fuse_ltm` keeps the seeded-chain fidelity; this variant
    replaces every stochastic flip with its expectation so the chain becomes
    a closed-form 2-iteration recurrence a SQL oracle can replay exactly).

    Per iteration (all facts update simultaneously — order-free, unlike
    Gibbs's sequential sweep):

      soft confusion counts per (bucket, attr, source):
        n[t][o] = sum over claims with observation o of (t=1 ? p_i : 1-p_i)
      per fact i and truth state t, removing the fact's own soft
      contribution w_t(i) (w_1 = p_i, w_0 = 1-p_i):
        l_t(i) = ln BETA[t] + sum_claims ln( (n[t][o] - w_t + ALPHA[t][o]) /
                 (n[t][1] + n[t][0] - w_t + ALPHA[t][1] + ALPHA[t][0]) )
        p_i' = 1 / (1 + exp(l_0 - l_1))

    Same hyperpriors and the same `binary_claims` implicit-zero expansion as
    the sampler, so the gate drives that shared path. Plan shape: per
    iteration one hash agg into a tiny (bucket, attr, source) dim that joins
    back BROADCAST, then one hash agg per fact — no per-row Python, no
    driver collect. Returns (bucket_id, entity, attr, vkey, posterior).
    """
    import math

    a11, a10 = ALPHA["1"]["1"], ALPHA["1"]["0"]
    a01, a00 = ALPHA["0"]["1"], ALPHA["0"]["0"]
    lnb = math.log(BETA["0"]) - math.log(BETA["1"])

    bc = checkpoint(binary_claims(claims))
    p = bc.select(*FACT_KEYS, "vkey").distinct().withColumn("p", F.lit(0.5))
    is1 = F.col("obs") == "1"
    w1, w0 = F.col("p"), 1 - F.col("p")
    for _ in range(iters):
        j = bc.join(p, [*FACT_KEYS, "vkey"])
        counts = j.groupBy("bucket_id", "attr", "source").agg(
            F.sum(F.when(is1, w1).otherwise(F.lit(0.0))).alias("n1_1"),
            F.sum(F.when(~is1, w1).otherwise(F.lit(0.0))).alias("n1_0"),
            F.sum(F.when(is1, w0).otherwise(F.lit(0.0))).alias("n0_1"),
            F.sum(F.when(~is1, w0).otherwise(F.lit(0.0))).alias("n0_0"),
        )
        j2 = j.join(F.broadcast(counts), ["bucket_id", "attr", "source"])
        n1o = F.when(is1, F.col("n1_1")).otherwise(F.col("n1_0"))
        a1o = F.when(is1, F.lit(a11)).otherwise(F.lit(a10))
        n0o = F.when(is1, F.col("n0_1")).otherwise(F.col("n0_0"))
        a0o = F.when(is1, F.lit(a01)).otherwise(F.lit(a00))
        r1 = (n1o - w1 + a1o) / (F.col("n1_1") + F.col("n1_0") - w1 + a11 + a10)
        r0 = (n0o - w0 + a0o) / (F.col("n0_1") + F.col("n0_0") - w0 + a01 + a00)
        scores = j2.groupBy(*FACT_KEYS, "vkey").agg(
            F.sum(F.log(r1)).alias("l1"), F.sum(F.log(r0)).alias("l0")
        )
        p = scores.select(
            *FACT_KEYS,
            "vkey",
            (1.0 / (1.0 + F.exp(F.col("l0") - F.col("l1") + F.lit(lnb)))).alias("p"),
        )
    return p.withColumnRenamed("p", "posterior")


def fuse_ltm(
    claims: DataFrame,
    max_itr: int = 100,
    burnin: int = 8,
    thin: int = 2,
    threshold: float = 0.9,
    seed: int = 42,
) -> FusionResult:
    bc = cache(binary_claims(claims))
    posteriors = bc.groupBy("bucket_id", "attr").applyInPandas(
        _gibbs_factory(max_itr, burnin, thin, seed), _POST_SCHEMA
    )
    posteriors = cache(posteriors)
    # truth: values with posterior >= threshold (multi-valued; join back the
    # typed value columns)
    vals = (
        claims.withColumn("vkey", value_key())
        .select(*FACT_KEYS, "vkey", "value_str", "value_num")
        .distinct()
    )
    truth = value_truth(
        posteriors.filter(F.col("posterior") >= threshold).join(vals, [*FACT_KEYS, "vkey"])
    )
    # soft source quality (truth_probability-weighted confusion counts)
    joined = bc.join(posteriors, [*FACT_KEYS, "vkey"])
    is1 = (F.col("obs") == "1").cast("double")
    q = joined.groupBy("bucket_id", "attr", "source").agg(
        F.sum(F.col("posterior") * is1).alias("tp"),
        F.sum(F.col("posterior") * (1 - is1)).alias("fn"),
        F.sum((1 - F.col("posterior")) * (1 - is1)).alias("tn"),
        F.sum((1 - F.col("posterior")) * is1).alias("fp"),
    )
    quality = q.select(
        "bucket_id",
        "attr",
        "source",
        ((F.col("tp") + ALPHA["1"]["1"]) / (F.col("tp") + F.col("fn") + ALPHA["1"]["1"] + ALPHA["1"]["0"])).alias("recall"),
        ((F.col("tn") + ALPHA["0"]["0"]) / (F.col("tn") + F.col("fp") + ALPHA["0"]["0"] + ALPHA["0"]["1"])).alias("specificity"),
    )
    weights = quality.groupBy(*WEIGHT_KEYS).agg(F.avg("recall").alias("weight"))
    result = FusionResult(truth=truth, weights=weights)
    result.quality = quality  # extra surface, not part of the base contract
    return result
