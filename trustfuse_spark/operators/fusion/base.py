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

Only this module calls Spark persistence: :func:`checkpoint`, :func:`cache`
and :func:`release`. An :func:`owned` scope frees on exit every checkpoint
and cache taken through them inside it (loop generations, prepared claims,
initial states), so no frame built inside a closed scope may be acted on:
the action fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
``StageRun.materialize`` scopes each stage, whose output is read back from
its table.

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
import warnings
from collections.abc import Callable
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass

from py4j.protocol import Py4JError
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


def quantity_claims(claims: DataFrame) -> DataFrame:
    """The numeric models' input (catd, gtm, kdem), materialized: the
    claims of quantity attributes only, as the reference's numeric models
    take (model.py:41-45), that carry a number."""
    return checkpoint(
        claims.filter(F.col("claim_type") == "quantity")
        .filter(F.col("value_num").isNotNull())
        .select(*FACT_KEYS, "source", "value_num")
    )


def facts_per_source(claims: DataFrame) -> DataFrame:
    """count_s as ``cnt``: facts per (bucket, source); a source claiming a
    fact twice counts once."""
    return (
        claims.select(*WEIGHT_KEYS, *FACT_KEYS)
        .distinct()
        .groupBy(*WEIGHT_KEYS)
        .agg(F.count("*").alias("cnt"))
    )


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage (localCheckpoint: a lost block
    cannot be recomputed; a lazy one materializes in its first action). On a
    cluster, a reliable checkpoint dir on durable storage would let a lost
    executor's blocks be recomputed; the callers would not change."""
    return _take(df.localCheckpoint(eager=eager))


def cache(df: DataFrame) -> DataFrame:
    """Cache ``df``: it materializes in its first action."""
    return _take(df.cache())


# this thread's innermost owned() scope: the handles taken inside it
_owned: ContextVar[list | None] = ContextVar("owned", default=None)


def _take(df: DataFrame) -> DataFrame:
    taken = _owned.get()
    if taken is not None:
        taken.append(_handle(df))
    return df


def _handle(df: DataFrame):
    """What frees ``df``'s own materialization: the frame for a cache entry,
    else its checkpoint's RDD id (never a block-manager diff, which would
    also free persistence registered concurrently elsewhere, ADVICE r2)."""
    if df.is_cached:
        return df
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Py4JError:  # an internal Spark API: a break must show (ADVICE r3)
        warnings.warn(
            "LogicalRDD-id probe failed (internal Spark API changed?);"
            " checkpointed blocks will NOT be freed",
            RuntimeWarning,
        )
        return None


def _free(handles) -> None:
    for h in handles:
        if isinstance(h, DataFrame) and h.is_cached:
            h.unpersist(blocking=False)
    ids = {h for h in handles if isinstance(h, int)}
    if ids:
        release_rdds(SparkSession.active(), ids)


def release(df: DataFrame) -> None:
    """Free ``df``'s checkpoint or cache, once nothing left to evaluate
    reads it."""
    _free([_handle(df)])


@contextmanager
def owned():
    """Free on exit what this thread checkpoints or caches inside the scope
    (an inner scope frees its own)."""
    taken: list = []
    token = _owned.set(taken)
    try:
        yield
    finally:
        _owned.reset(token)
        _free(taken)


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently holding blocks in the block manager
    (cache() AND localCheckpoint both register here)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(e.getKey()) for e in jmap.entrySet().toArray()}


def release_rdds(spark, ids) -> int:
    """Unpersist the blocks of the given RDD ids (non-blocking); returns how
    many were held."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = [r for r in (held.get(i) for i in ids) if r is not None]
    for r in rdds:
        r.unpersist(False)
    return len(rdds)


class CheckpointRotator:
    """Bound a driver loop's live checkpoints to the newest ``keep``.

    rotate(df) = checkpoint(df), then free the generations older than
    ``keep``: each is computed from the one before, so once it has
    materialized the older ones are dead, but localCheckpoint never frees
    them (round 1's bench session ran 6-7x slower for it). keep=2 (default),
    because some loops' final lazy output still reads the second-to-last
    (TruthFinder's truth reads the scores built from the previous tau).
    CONTRACT: anything still to be evaluated must derive from one of the
    newest ``keep``. :func:`iterate` is the engine's only user.
    """

    def __init__(self, keep: int = 2) -> None:
        self._keep = max(1, keep)
        self._gens: list = []

    def rotate(self, df: DataFrame) -> DataFrame:
        out = checkpoint(df)
        self._gens.append(_handle(out))
        if len(self._gens) > self._keep:
            _free([self._gens.pop(0)])
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
    rotators = [CheckpointRotator() for _ in tables]
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


def value_truth(facts: DataFrame) -> DataFrame:
    """The FusionResult.truth schema from one row per fact carrying a claimed
    value_str and value_num (numeric iff value_num is set)."""
    return facts.select(
        *FACT_KEYS, "value_str", "value_num", F.col("value_num").isNotNull().alias("is_numeric")
    )
