"""CRH truth discovery: one bucket-local kernel per bucket, a distributed
loop for buckets too large for one Python worker.

Weights are keyed on (bucket_id, source) and facts on (bucket_id, entity,
attr), so a bucket is a closed unit of work — the reference runs each one as
an in-memory numpy loop (crh.py:26-103, model.py:169-187). ``fuse_crh`` does
the same: ``groupBy("bucket_id").applyInPandas`` hands each bucket to
:func:`_crh_bucket`, which runs initialisation and all ``max_itr`` rounds in
numpy and emits the bucket's weight and truth rows together. The whole fusion
is then a constant handful of Spark jobs instead of ~20 per iteration.

Per iteration (reference semantics, verified against crh.py):

  weight step (update_w, crh.py:40-62):
    loss per claim = 1[v != truth]                       (categorical)
                   = (v - truth)^2 / max(std_pop(fact), eps)   (numeric)
    raw_s  = Σ losses of source s within its bucket
    w_s    = -log(raw_s / Σ_bucket raw)  if raw_s > 0 else 0.0
    (zero-loss sources KEEP weight 0 — reference rtn[rtn>0] masking)

  truth step (update_truth, crh.py:65-89):
    categorical: argmax over distinct claimed v of Σ w[claimers of v]
    numeric:     argmin over claimed v of Σ_claims w·(v - claim)^2 / denom,
                 evaluated as A - 2cB + c²C from three per-fact sums
    truth is always snapped to a claimed value, never synthetic.
    Ties go to the ascending-first value on both branches (pinned).

Init truth = mode / exact median (initialize_truth, crh.py:92-103).
Iterations fixed (reference while itr < max_itr with no convergence break).
A mixed-type fact is two facts, one per branch, each with its own truth row.

Buckets with more than ``KERNEL_MAX_CLAIMS`` claims run the distributed loop
instead (``_weight_step``/``_truth_step``: the same math as iterated
DataFrame aggregations over all such buckets at once, weights checkpointed
every iteration). The split is chosen from a per-bucket claim count of the
input. A grouped-map task holds its whole bucket as one pandas frame in one
Python worker, so the bound caps worker memory, not time. Measured on one
bucket, 4 vCPUs, max_itr=3: the kernel took 19.5 s at 5M claims and 45 s at
10M, the distributed loop 51 s and 103 s; worker peak RSS grows about
225 bytes per claim (1.2 GB at 5M, 2.3 GB at 10M, 4.5 GB at 20M). With one
kernel task per core beside the default driver heap (half the host's
memory), 5M-claim buckets still fit a 16 GB host and 10M-claim buckets do
not. Revision buckets (the bucket_id of ``docs_to_claims``) hold every
entity's claims of one revision, about 21 per entity at 20 sources, so
corpora past roughly 240k entities reach the fallback.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    FusionResult,
    assemble_truth,
    checkpoint,
    drop_incomplete_claims,
    fact_stddev,
    iterate,
    median_per_fact,
    mode_per_fact,
    split_claims,
)

# Largest bucket the kernel runs: at 5M claims (20 sources, 250k facts) one
# Python worker peaked at 1.2 GB RSS (VmHWM, 4-vCPU 16 GB x86 host).
KERNEL_MAX_CLAIMS = 5_000_000


def _candidates(claims: pd.DataFrame, value: str):
    """Distinct (entity, attr, value) candidates of one branch, sorted so each
    fact's candidates are contiguous and ascending by value.

    -> (candidate id per claim, candidate frame, fact id per candidate,
        offset of each fact's first candidate)
    """
    gb = claims.groupby(["entity", "attr", value], sort=True)
    cid = gb.ngroup().to_numpy()
    cand = gb.size().index.to_frame(index=False)
    ent, att = cand["entity"].to_numpy(), cand["attr"].to_numpy()
    new_fact = np.ones(len(cand), dtype=bool)
    new_fact[1:] = (ent[1:] != ent[:-1]) | (att[1:] != att[:-1])
    return cid, cand, np.cumsum(new_fact) - 1, np.flatnonzero(new_fact)


def _first_max(score: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per fact, the index of its highest-scoring candidate; ties go to the
    first, i.e. the smallest value (candidates are sorted by value).

    A NaN score ranks below every other score, as in the distributed
    path's ``min_by`` (Spark orders NaN above +inf); a fact whose every
    score is NaN takes its first candidate."""
    if not len(starts):
        return starts
    n = len(score)
    nan = np.isnan(score)
    score = np.where(nan, -np.inf, score)
    best = np.repeat(np.maximum.reduceat(score, starts), np.diff(starts, append=n))
    first = np.minimum.reduceat(np.where((score == best) & ~nan, np.arange(n), n), starts)
    return np.where(first < n, first, starts)


def _crh_bucket(pdf: pd.DataFrame, max_itr: int, eps: float) -> pd.DataFrame:
    """CRH over one bucket's claims, in numpy.

    Returns one row per source (``source``, ``weight``) and one per fact and
    branch (``entity``, ``attr``, ``is_numeric``, ``truth_str``/``truth_num``).
    Arithmetic follows the distributed loop term for term, so both paths
    agree to rounding.
    """
    sid, sources = pd.factorize(pdf["source"])
    n_src = len(sources)
    is_num = pdf["value_num"].notna().to_numpy()
    sid_c, sid_n = sid[~is_num], sid[is_num]

    cid_c, cand_c, cfact_c, starts_c = _candidates(pdf[~is_num], "value_str")
    fid_c = cfact_c[cid_c]
    cid_n, cand_n, cfact_n, starts_n = _candidates(pdf[is_num], "value_num")
    fid_n = cfact_n[cid_n]
    c = cand_n["value_num"].to_numpy()
    x = pdf["value_num"].to_numpy()[is_num]
    n_fn = len(starts_n)

    # population std per numeric fact, floored at eps (np.std, crh.py:55)
    cnt = np.bincount(fid_n, minlength=n_fn)
    mean = np.bincount(fid_n, x, n_fn) / cnt
    var = np.bincount(fid_n, (x - mean[fid_n]) ** 2, n_fn) / cnt
    d = np.maximum(np.sqrt(var), eps)[fid_n]

    # init: mode (most claims, ties -> smallest value) and exact median,
    # interpolated the way Spark's percentile(v, 0.5) does
    t_c = _first_max(np.bincount(cid_c, minlength=len(cand_c)).astype(float), starts_c)
    xs = x[np.lexsort((x, fid_n))]
    lo = np.cumsum(cnt) - cnt
    t_n = 0.5 * xs[lo + (cnt - 1) // 2] + 0.5 * xs[lo + cnt // 2]

    w = np.zeros(n_src)
    for _ in range(max_itr):
        raw = np.bincount(sid_c, (cid_c != t_c[fid_c]).astype(float), n_src) + (
            np.bincount(sid_n, (x - t_n[fid_n]) ** 2 / d, n_src)
        )
        raw[np.isnan(raw)] = 0.0  # the distributed path's fillna({"raw": 0.0})
        w = np.zeros(n_src)
        pos = raw > 0
        w[pos] = -np.log(raw[pos] / raw.sum())

        t_c = _first_max(np.bincount(cid_c, w[sid_c], len(cand_c)), starts_c)
        wn = w[sid_n]
        a = np.bincount(fid_n, wn * x**2 / d, n_fn)[cfact_n]
        b = np.bincount(fid_n, wn * x / d, n_fn)[cfact_n]
        cc = np.bincount(fid_n, wn / d, n_fn)[cfact_n]
        t_n = c[_first_max(-(a - 2 * c * b + c**2 * cc), starts_n)]

    cat_rows = cand_c.iloc[t_c].rename(columns={"value_str": "truth_str"})
    num_rows = cand_n.iloc[starts_n][["entity", "attr"]].assign(truth_num=t_n)
    out = pd.concat(
        [
            pd.DataFrame({"source": sources, "weight": w}),
            cat_rows.assign(is_numeric=False),
            num_rows.assign(is_numeric=True),
        ],
        ignore_index=True,
    )
    out.insert(0, "bucket_id", pdf["bucket_id"].iloc[0])
    return out


def _kernel_schema(claims: DataFrame) -> T.StructType:
    """Kernel output: weight rows carry ``source``, truth rows ``entity``."""
    keys = (*WEIGHT_KEYS, "entity", "attr")
    return T.StructType(
        [T.StructField(c, claims.schema[c].dataType) for c in keys]
        + [
            T.StructField("is_numeric", T.BooleanType()),
            T.StructField("truth_str", T.StringType()),
            T.StructField("truth_num", T.DoubleType()),
            T.StructField("weight", T.DoubleType()),
        ]
    )


def _fuse_kernel(claims: DataFrame, max_itr: int, eps: float) -> FusionResult:
    """Every bucket of ``claims`` through :func:`_crh_bucket`, one grouped
    map task per bucket; weights and truth are materialized together once."""

    def kernel(pdf):
        # overflowing numbers yield inf/NaN here exactly as in Spark SQL
        with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
            return _crh_bucket(pdf, max_itr, eps)

    out = checkpoint(
        claims.select(*WEIGHT_KEYS, "entity", "attr", "value_str", "value_num")
        .groupBy("bucket_id")
        .applyInPandas(kernel, _kernel_schema(claims))
    )
    is_weight = F.col("source").isNotNull()
    facts = out.filter(~is_weight)
    return FusionResult(
        truth=assemble_truth(
            facts.filter(~F.col("is_numeric")).select(*FACT_KEYS, "truth_str"),
            facts.filter(F.col("is_numeric")).select(*FACT_KEYS, "truth_num"),
        ),
        weights=out.filter(is_weight).select(*WEIGHT_KEYS, "weight"),
    )


def _flag_claims(cat: DataFrame, num_with_denom: DataFrame) -> DataFrame:
    """Static union of both claim branches with a type flag — built ONCE
    before the loop so every iteration's loss computation is a single join
    on (fact key, branch) instead of two joins + a union (one exchange less
    per iteration; the per-iteration fixed latency is what caps scaling
    efficiency at small per-core work, BENCH/BASELINE.md)."""
    c = cat.select(
        *FACT_KEYS,
        "source",
        F.lit(False).alias("__isnum"),
        "value_str",
        F.lit(None).cast("double").alias("value_num"),
        F.lit(1.0).alias("denom"),
    )
    n = num_with_denom.select(
        *FACT_KEYS,
        "source",
        F.lit(True).alias("__isnum"),
        F.lit(None).cast("string").alias("value_str"),
        "value_num",
        "denom",
    )
    return c.unionByName(n)


def _truth_union(cat_truth: DataFrame, num_truth: DataFrame) -> DataFrame:
    return cat_truth.select(
        *FACT_KEYS,
        F.lit(False).alias("__isnum"),
        "truth_str",
        F.lit(None).cast("double").alias("truth_num"),
    ).unionByName(
        num_truth.select(
            *FACT_KEYS,
            F.lit(True).alias("__isnum"),
            F.lit(None).cast("string").alias("truth_str"),
            "truth_num",
        )
    )


def _weight_step(
    claims_flagged: DataFrame,
    cat_truth: DataFrame,
    num_truth: DataFrame,
    all_sources: DataFrame,
) -> DataFrame:
    loss_expr = F.when(
        F.col("__isnum"),
        (F.col("value_num") - F.col("truth_num")) ** 2 / F.col("denom"),
    ).otherwise((F.col("value_str") != F.col("truth_str")).cast("double"))
    raw = (
        claims_flagged.join(
            _truth_union(cat_truth, num_truth), [*FACT_KEYS, "__isnum"]
        )
        .select(*WEIGHT_KEYS, loss_expr.alias("loss"))
        .groupBy(*WEIGHT_KEYS)
        .agg(F.sum("loss").alias("raw"))
    )
    # Sources silent in a bucket never enter update_w in the reference either;
    # right-join against the source dim keeps them present with raw=0 so the
    # weights table is total (reference w starts at zeros and stays 0).
    raw = all_sources.join(raw, WEIGHT_KEYS, "left").fillna({"raw": 0.0})
    # Per-bucket normalizer as a broadcast dim, not a window: the window
    # re-shuffled+sorted the |sources|x|buckets| table by bucket_id every
    # iteration; the tiny totals agg reuses raw's exchange (ReusedExchange)
    # and broadcast-joins back — nothing moves but |buckets| rows.
    totals = raw.groupBy("bucket_id").agg(F.sum("raw").alias("__tot"))
    return raw.join(F.broadcast(totals), "bucket_id").select(
        *WEIGHT_KEYS,
        F.when(F.col("raw") > 0, -F.log(F.col("raw") / F.col("__tot")))
        .otherwise(F.lit(0.0))
        .alias("weight"),
    )


def _truth_step(
    cat: DataFrame, num_with_denom: DataFrame, weights: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Truth update WITHOUT the candidate x claim self-join.

    Reference semantics (crh.py:65-89): categorical argmax over distinct v
    of sum w*1[claim=v]; numeric argmin over claimed v of
    sum w*(v-claim)^2/denom. Both collapse to per-fact aggregates — the
    100 TB shape:

      categorical: argmax_v sum w*1[claim=v] is just the weight sum per
        claimed value (the reference's own formula — no candidate join).
      numeric: sum w*(c-v)^2/d = A - 2cB + c^2*C with A=sum(w*v^2)/d,
        B=sum(w*v)/d, C=sum(w)/d — three sums per fact, then a projection
        over the distinct claimed values (algebraically identical loss).

    The round-1 implementation materialized the claims x candidates
    fan-out (up to |sources|^2 rows per fact) and its iterations scaled at
    ~0.5 efficiency 2->8 cores; this shape is one grouped agg + one
    fact-key join per branch. Argmax/argmin run as min_by over
    struct(score, value) — a hash aggregate with map-side partial combine —
    instead of a row_number window, which re-sorted the fact partition
    every iteration (round 3; same pinned ascending-value ties).
    Mixed-type facts score branches independently (one truth row per
    branch).
    """
    bw = F.broadcast(weights)
    cat_scored = (
        cat.join(bw, WEIGHT_KEYS)
        .groupBy(*FACT_KEYS, "value_str")
        .agg(F.sum("weight").alias("wsum"))
    )
    cat_truth = cat_scored.groupBy(*FACT_KEYS).agg(
        F.min_by(
            "value_str", F.struct((-F.col("wsum")).alias("k1"), F.col("value_str"))
        ).alias("truth_str")
    )

    numw = num_with_denom.join(bw, WEIGHT_KEYS).select(
        *FACT_KEYS, "value_num", "denom", "weight"
    )
    aggs = numw.groupBy(*FACT_KEYS).agg(
        F.sum(F.col("weight") * F.col("value_num") ** 2 / F.col("denom")).alias("__A"),
        F.sum(F.col("weight") * F.col("value_num") / F.col("denom")).alias("__B"),
        F.sum(F.col("weight") / F.col("denom")).alias("__C"),
    )
    cands = numw.select(*FACT_KEYS, "value_num").distinct()
    loss = (
        F.col("__A")
        - 2 * F.col("value_num") * F.col("__B")
        + F.col("value_num") ** 2 * F.col("__C")
    )
    num_truth = (
        cands.join(aggs, FACT_KEYS)
        .groupBy(*FACT_KEYS)
        .agg(
            F.min_by(
                "value_num", F.struct(loss.alias("k1"), F.col("value_num"))
            ).alias("truth_num")
        )
    )
    return cat_truth, num_truth


def _fuse_distributed(claims: DataFrame, max_itr: int, eps: float) -> FusionResult:
    """The iterated-aggregation loop over all buckets of ``claims`` at once.

    Per iteration only the weights table (|sources|·|buckets| rows) is
    materialized; truth_i = f(claims, weights_i) and
    weights_{i+1} = f(claims, truth_i) stay lazy, so lineage depth stays
    constant. ``claims`` must already be materialized (see fuse_crh).
    """
    cat, num = split_claims(claims)
    num_with_denom = num.join(fact_stddev(num, eps), FACT_KEYS)
    all_sources = claims.select(*WEIGHT_KEYS).distinct()
    claims_flagged = _flag_claims(cat, num_with_denom)

    init_truth = (mode_per_fact(cat), median_per_fact(num))

    def truths(weights: DataFrame | None) -> tuple[DataFrame, DataFrame]:
        if weights is None:
            return init_truth
        return _truth_step(cat, num_with_denom, weights)

    weights, _ = iterate(
        None,
        lambda w: _weight_step(claims_flagged, *truths(w), all_sources),
        max_itr,
    )
    cat_truth, num_truth = truths(weights)
    if weights is None:  # max_itr == 0 -> init truth, uniform weights
        weights = all_sources.select(*WEIGHT_KEYS, F.lit(0.0).alias("weight"))

    # materialize the final truth once: every consumer (triples write, eval,
    # weights diagnostics) would otherwise replay the argmax joins
    truth = checkpoint(assemble_truth(cat_truth, num_truth))
    return FusionResult(truth=truth, weights=weights)


def fuse_crh(
    claims: DataFrame, max_itr: int = 10, eps: float = 0.1
) -> FusionResult:
    """Run CRH over a long-form claims DataFrame.

    Claims without a key or a value are dropped first
    (:func:`drop_incomplete_claims`). Each bucket of at most
    ``KERNEL_MAX_CLAIMS`` claims runs in one :func:`_crh_bucket` task; larger
    buckets run the distributed loop. One job counts claims per bucket to
    make that split; on the kernel path fusion is that count, the claims
    checkpoint and one grouped-map job.
    """
    # Materialize the claims once: both the size probe and the fusion read
    # them. localCheckpoint (not cache): a cached-but-unmaterialized
    # extraction lineage makes every distributed iteration re-derive through
    # the full upstream plan — measured 4-6x slower per iteration than
    # iterating over a severed LogicalRDD. On a real cluster this is the
    # stage boundary you'd write to Iceberg.
    claims = checkpoint(drop_incomplete_claims(claims))
    big = [
        r["bucket_id"]
        for r in claims.groupBy("bucket_id")
        .count()
        .filter(F.col("count") > KERNEL_MAX_CLAIMS)
        .select("bucket_id")
        .collect()
    ]
    if not big:
        return _fuse_kernel(claims, max_itr, eps)
    in_big = F.col("bucket_id").isin(big)
    small = _fuse_kernel(claims.filter(~in_big), max_itr, eps)
    large = _fuse_distributed(claims.filter(in_big), max_itr, eps)
    return FusionResult(
        truth=small.truth.unionByName(large.truth),
        weights=small.weights.unionByName(large.weights),
    )
