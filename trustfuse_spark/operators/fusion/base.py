"""Shared machinery for truth-discovery models.

Every model alternates two steps (SURVEY §2.4): truth per fact (bucket_id,
entity, attr) and weight per (bucket_id, source). Both keys lead with
bucket_id, so a bucket is a closed unit of work. CRH runs each bucket's
whole loop in one grouped-map task (``groupBy("bucket_id").applyInPandas``,
numpy inside) and keeps the distributed form below for buckets too large
for one Python worker. The other models, and that fallback, are the
distributed form: two alternating grouped aggregations iterated by a driver
loop with broadcast weight joins. No per-row Python anywhere in this module.

One driver-loop skeleton, :func:`iterate`, runs every iterative operator
(the fusion models, CRH's fallback, connected components' star rounds,
``scale_units``, the graph loops). The operator supplies a lazy step and an
optional stop test; the skeleton materializes each step through one
:class:`CheckpointRotator` per table (lineage cut; all but the newest two
generations freed). :func:`rel_l2_change`, :func:`max_abs_change` and
:func:`settled` are the shared stop tests.

Claims contract (long form):
    bucket_id:int, source:string, entity:string, attr:string,
    value_str:string, value_num:double (null => categorical claim),
    claim_type:string

A fact is numeric iff its claims carry non-null value_num (the reference
branches on the runtime type of the first claim after preprocessing,
crh.py:47/69/95 — declared-type branching is the explicit Spark equivalent).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

FACT_KEYS = ["bucket_id", "entity", "attr"]
WEIGHT_KEYS = ["bucket_id", "source"]


@dataclass
class FusionResult:
    """truth: one row per fact; weights: one row per (bucket, source)."""

    truth: DataFrame  # FACT_KEYS + value_str, value_num, is_numeric
    weights: DataFrame  # WEIGHT_KEYS + weight


def split_claims(claims: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(categorical, numeric) claim partitions."""
    is_num = F.col("value_num").isNotNull()
    return claims.filter(~is_num), claims.filter(is_num)


def value_key() -> Column:
    """A claim's value as one string key: the number's string form for a
    numeric claim, else value_str."""
    return F.when(
        F.col("value_num").isNotNull(), F.col("value_num").cast("string")
    ).otherwise(F.col("value_str"))


def drop_incomplete_claims(claims: DataFrame) -> DataFrame:
    """Claims with every key set and a value: non-null bucket_id, source,
    entity and attr, and a non-null value_str (categorical) or a non-null,
    finite value_num (numeric).

    The reference drops NaN cells before it builds the claim matrix
    (model.py:145). A claim without a key or value belongs to no fact and
    has nothing to vote for, and SQL grouping and pandas grouping disagree
    on NULL keys, so it is dropped before any model sees it. An infinite
    number (an overlong digit run cast to double) is dropped too: it turns
    its fact's spread and every loss it enters into NaN."""
    complete = F.col("value_str").isNotNull() | F.col("value_num").isNotNull()
    for c in (*FACT_KEYS, "source"):
        complete = complete & F.col(c).isNotNull()
    # Spark orders NaN above +inf, so this also drops NaN
    finite = F.abs(F.coalesce("value_num", F.lit(0.0))) < float("inf")
    return claims.filter(complete & finite)


def checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage between driver-loop iterations.

    local[*] / tests: localCheckpoint. On a real cluster you would point
    ``spark.sparkContext.setCheckpointDir`` at durable storage (or write an
    Iceberg snapshot per iteration — see plans/lineage.py) so a lost executor
    can recompute; the loop structure is identical.
    """
    return df.localCheckpoint(eager=True)


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently holding blocks in the block manager
    (cache() AND localCheckpoint both register here)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(e.getKey()) for e in jmap.entrySet().toArray()}


def release_rdds(spark, ids) -> int:
    """Unpersist the blocks of the given RDD ids (non-blocking). Only safe
    for RDDs whose downstream consumers have already materialized — a
    localCheckpoint RDD cannot be recomputed once its blocks are dropped."""
    if not ids:
        return 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for e in jmap.entrySet().toArray():
        if int(e.getKey()) in ids:
            e.getValue().unpersist(False)
            n += 1
    return n


class CheckpointRotator:
    """Bound live checkpoint blocks in a driver loop to the latest iteration.

    Fusion loops checkpoint a small table every iteration
    (weights/tau/sigma2/...). Iteration i+1's checkpoint is computed FROM
    iteration i's, so once i+1 has materialized (checkpoint is eager),
    iteration i's blocks are dead — but localCheckpoint never frees them.
    Round-1 bench ran 26 queries in one session and the accumulated blocks
    inflated later queries 6-7x (VERDICT r1 'bench session bloat').

    rotate(df) = checkpoint(df), then unpersist the blocks of generations
    older than ``keep``. keep=2 (default) holds the newest two checkpoints:
    some loops' final lazy output still references the second-to-last
    checkpoint (e.g. TruthFinder's truth reads the scores built from the
    previous tau), so freeing only >=2-generations-old is the safe contract.
    :func:`iterate` is the engine's only user.
    """

    _probe_warned = False  # class-level: warn once per process, not per loop

    def __init__(self, spark, keep: int = 2) -> None:
        self._spark = spark
        self._keep = max(1, keep)
        self._gens: list[set[int]] = []

    def rotate(self, df: DataFrame) -> DataFrame:
        """Checkpoint ``df`` and free generations older than ``keep``.

        CONTRACT: every DataFrame a caller still intends to evaluate must
        derive from one of the newest ``keep`` rotated checkpoints —
        localCheckpoint blocks cannot be recomputed, so an action on
        something holding an older generation fails with missing blocks.
        Generations are attributed by the checkpointed plan's OWN RDD id
        (the LogicalRDD produced by localCheckpoint), never a global
        before/after diff of the block manager — so persistence that
        happens to register concurrently (a cache() inside the plan, an
        interleaved rotator, a lazy checkpoint elsewhere) can never be
        mis-attributed and freed by this rotator (ADVICE r2).
        """
        out = checkpoint(df)
        try:
            # the exact RDD localCheckpoint persisted: the LogicalRDD the
            # returned Dataset wraps
            gen = {int(out._jdf.queryExecution().analyzed().rdd().id())}
        except Exception:  # plan shape changed across Spark versions
            # Warn once instead of silently reintroducing the r1
            # checkpoint-block leak (6-7x bench bloat) — a Spark upgrade
            # that breaks this internal probe must be visible (ADVICE r3).
            if not CheckpointRotator._probe_warned:
                CheckpointRotator._probe_warned = True
                import warnings

                warnings.warn(
                    "CheckpointRotator: LogicalRDD-id probe failed (internal"
                    " Spark API changed?); checkpointed blocks will NOT be"
                    " freed and long fusion loops may leak storage memory",
                    RuntimeWarning,
                    stacklevel=2,
                )
            gen = set()
        self._gens.append(gen)
        while len(self._gens) > self._keep:
            release_rdds(self._spark, self._gens.pop(0))
        return out


def iterate(state, step, max_itr: int, stop=None):
    """The driver loop: up to ``max_itr`` steps from ``state``.

    ``state`` is a DataFrame or a tuple of DataFrames; a position may start
    as None ("no estimate yet"). ``step`` is lazy: for a DataFrame state it
    maps the state to the next one; for a tuple state it is one such
    function per position, run in order, each seeing the positions before
    it already advanced (the alternating weight/truth updates). Every table
    a step returns goes through its position's own CheckpointRotator: one
    ``rotate`` per table per step. ``stop(old, new)`` runs after every step
    and ends the loop when true.

    Returns ``(state, prev)``: the final state and the one before it (None
    if no step ran); the rotators keep both materialized.
    """
    single = not isinstance(state, tuple)
    tables = [state] if single else list(state)
    updates = [step] if single else step
    rotators = [CheckpointRotator(SparkSession.active()) for _ in tables]
    prev = None
    for _ in range(max_itr):
        for i, update in enumerate(updates):
            tables[i] = rotators[i].rotate(update(tables[0] if single else tuple(tables)))
        prev, state = state, tables[0] if single else tuple(tables)
        if stop is not None and stop(prev, state):
            break
    return state, prev


def _with_old(old: DataFrame, new: DataFrame, keys: list[str], col: str) -> DataFrame:
    return new.join(old.select(*keys, F.col(col).alias("__old")), keys)


def rel_l2_change(old: DataFrame | None, new: DataFrame, keys: list[str], col: str) -> float:
    """||new - old|| / ||old|| of ``col`` over the shared keys, one collected
    scalar aggregation; inf without an old table or when it is all zero."""
    if old is None:
        return math.inf
    row = _with_old(old, new, keys, col).agg(
        F.sqrt(F.sum((F.col(col) - F.col("__old")) ** 2)).alias("num"),
        F.sqrt(F.sum(F.col("__old") ** 2)).alias("den"),
    ).collect()[0]
    return row["num"] / row["den"] if row["den"] else math.inf


def max_abs_change(old: DataFrame, new: DataFrame, keys: list[str], col: str) -> float:
    """max |new - old| of ``col`` over the shared keys (one collected
    scalar); inf when they share no key."""
    d = _with_old(old, new, keys, col).agg(
        F.max(F.abs(F.col(col) - F.col("__old")))
    ).collect()[0][0]
    return math.inf if d is None else d


def settled(summary: Callable, same: Callable = operator.eq, first=None):
    """Stop test on one driver-side summary per step: collects
    ``summary(new)`` and stops when ``same(previous, current)``, previous
    being the last step's summary (``first`` at the first step; None:
    nothing to compare yet)."""
    last = [first]

    def stop(old, new) -> bool:
        prev, last[0] = last[0], summary(new)
        return prev is not None and same(prev, last[0])

    return stop


def _pick_per_fact(scored: DataFrame, order_key: Column) -> DataFrame:
    """One row per fact: the row minimizing ``order_key``, returned with
    every non-key column intact (min_by over a payload struct). A hash
    aggregate with map-side partial combine — no per-fact sort, unlike the
    row_number-window formulation it replaced (iterated models call this
    every iteration; the window's sort+exchange was the single largest
    fixed cost per iteration)."""
    payload = [c for c in scored.columns if c not in FACT_KEYS]
    picked = scored.groupBy(*FACT_KEYS).agg(
        F.min_by(F.struct(*payload), order_key).alias("__p")
    )
    return picked.select(
        *FACT_KEYS, *[F.col(f"__p.{c}").alias(c) for c in payload]
    )


def argmax_per_fact(scored: DataFrame, score: Column, value_col: str) -> DataFrame:
    """One row per fact: max score, ties broken by ascending value.

    Reference ties (np.argmax over a set-ordered candidate list,
    crh.py:75/85) are unpinned; ascending-value is our pinned, shuffle-stable
    choice (SURVEY §7.4 risk 1). Scores must be non-null and non-NaN (all
    fusion models guarantee this; NaN would order differently than the old
    window form)."""
    return _pick_per_fact(
        scored, F.struct((-score).alias("k1"), F.col(value_col).alias("k2"))
    )


def argmin_per_fact(scored: DataFrame, score: Column, value_col: str) -> DataFrame:
    return _pick_per_fact(
        scored, F.struct(score.alias("k1"), F.col(value_col).alias("k2"))
    )


def mode_per_fact(cat_claims: DataFrame) -> DataFrame:
    """Majority value per fact; tie -> lexicographically smallest value,
    matching pandas ``Series.mode().iloc[0]`` (reference crh.py:96-98, mode
    returns sorted values).

    min_by over struct(-count, value) instead of a row_number window: the
    hash aggregate partially combines map-side and never sorts the fact
    partition — one exchange less per call, and the iterated models call
    this shape every iteration."""
    counts = cat_claims.groupBy(*FACT_KEYS, "value_str").agg(F.count("*").alias("__n"))
    return counts.groupBy(*FACT_KEYS).agg(
        F.min_by(
            "value_str", F.struct((-F.col("__n")).alias("k1"), F.col("value_str"))
        ).alias("truth_str")
    )


def median_per_fact(num_claims: DataFrame) -> DataFrame:
    """Exact interpolated median, matching ``np.median`` (reference
    crh.py:99-101). ``percentile`` (exact) — never percentile_approx, which
    would break value-level parity (SURVEY §4.2.5)."""
    return num_claims.groupBy(*FACT_KEYS).agg(
        F.expr("percentile(value_num, 0.5)").alias("truth_num")
    )


def snap_to_claimed(num_claims: DataFrame, truth_est: DataFrame) -> DataFrame:
    """Replace an estimated numeric truth by the nearest *claimed* value
    (reference catd.py:32-33, gtm.py:41-42: ``np.abs(claim-truth).argmin()``).
    Tie -> smaller value (pinned)."""
    joined = num_claims.select(*FACT_KEYS, "value_num").join(
        truth_est, FACT_KEYS
    )
    return joined.groupBy(*FACT_KEYS).agg(
        F.min_by(
            "value_num",
            F.struct(
                F.abs(F.col("value_num") - F.col("truth_num")).alias("k1"),
                F.col("value_num"),
            ),
        ).alias("truth_num")
    )


def fact_stddev(num_claims: DataFrame, eps: float) -> DataFrame:
    """Per-fact population std (np.std is ddof=0 — SURVEY §2.6 W3) floored at
    eps; the loss denominator CRH reuses every iteration (crh.py:55)."""
    return num_claims.groupBy(*FACT_KEYS).agg(
        F.greatest(F.stddev_pop("value_num"), F.lit(eps)).alias("denom")
    )


def assemble_truth(
    cat_truth: DataFrame | None, num_truth: DataFrame | None
) -> DataFrame:
    """Union categorical + numeric truth into the FusionResult.truth schema.

    value_str for numeric facts is a canonical decimal rendering so triples
    always have a string object; value_num stays authoritative for numeric
    comparison.
    """
    parts = []
    if cat_truth is not None:
        parts.append(
            cat_truth.select(
                *FACT_KEYS,
                F.col("truth_str").alias("value_str"),
                F.lit(None).cast("double").alias("value_num"),
                F.lit(False).alias("is_numeric"),
            )
        )
    if num_truth is not None:
        parts.append(
            num_truth.select(
                *FACT_KEYS,
                F.format_number(F.col("truth_num"), 6).alias("value_str"),
                F.col("truth_num").alias("value_num"),
                F.lit(True).alias("is_numeric"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def weights_to_triples_weights(weights: DataFrame) -> DataFrame:
    return weights.select(*WEIGHT_KEYS, "weight")
