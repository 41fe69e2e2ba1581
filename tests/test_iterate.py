"""The driver-loop skeleton ``fusion.base.iterate`` and the operators on it.

* ``iterate`` itself: zero steps, the stop test, tuple states, one
  ``CheckpointRotator.rotate`` per table per step.
* Bounded block use: every iterative operator holds the same number of
  persisted RDDs after a short and after a long run.
* Out-of-range iteration counts are input errors raised before any Spark
  job.
"""

import pytest
from pyspark.sql import functions as F

from trustfuse_spark.datagen import gen_claims
from trustfuse_spark.operators import cc, graph
from trustfuse_spark.operators.fusion import crh
from trustfuse_spark.operators.fusion.accu import fuse_accu
from trustfuse_spark.operators.fusion.base import (
    CheckpointRotator,
    FusionResult,
    iterate,
    persistent_rdd_ids,
    release_rdds,
    settled,
)
from trustfuse_spark.operators.fusion.catd import fuse_catd
from trustfuse_spark.operators.fusion.gtm import fuse_gtm
from trustfuse_spark.operators.fusion.kdem import fuse_kdem
from trustfuse_spark.operators.fusion.slimfast import fuse_slimfast
from trustfuse_spark.operators.fusion.truthfinder import fuse_truthfinder
from trustfuse_spark.operators.scale_units import scale_units


@pytest.fixture
def rotations(monkeypatch):
    """Every CheckpointRotator.rotate call as (rotator id, checkpointed df)."""
    calls = []
    orig = CheckpointRotator.rotate

    def rotate(rotator, df):
        out = orig(rotator, df)
        calls.append((id(rotator), out))
        return out

    monkeypatch.setattr(CheckpointRotator, "rotate", rotate)
    return calls


def _inc(df):
    return df.select("id", (F.col("x") + 1).alias("x"))


def _x(df):
    return sorted(r["x"] for r in df.collect())


def test_iterate_zero_steps_returns_initial_state(spark, rotations):
    init = spark.range(3).withColumn("x", F.lit(0))
    state, prev = iterate(init, _inc, 0)
    assert state is init and prev is None
    assert iterate(None, _inc, 0) == (None, None)
    assert rotations == []


def test_iterate_steps_and_previous_state(spark, rotations):
    init = spark.range(3).withColumn("x", F.lit(0))
    state, prev = iterate(init, _inc, 4)
    assert _x(state) == [4, 4, 4]
    assert _x(prev) == [3, 3, 3]  # still materialized: keep=2
    assert len(rotations) == 4
    assert len({rid for rid, _ in rotations}) == 1
    assert state is rotations[-1][1] and prev is rotations[-2][1]


def test_iterate_stop_ends_after_expected_step(spark, rotations):
    init = spark.range(3).withColumn("x", F.lit(0))
    seen = []

    def stop(old, new):
        seen.append((_x(old)[0], _x(new)[0]))
        return _x(new)[0] == 3

    state, prev = iterate(init, _inc, 10, stop)
    assert seen == [(0, 1), (1, 2), (2, 3)]  # tested after every step
    assert _x(state) == [3, 3, 3] and _x(prev) == [2, 2, 2]
    assert len(rotations) == 3


def test_iterate_tuple_state_rotates_each_table(spark, rotations):
    """Position k's update sees positions < k already advanced this step;
    each position has its own rotator, rotated once per step."""
    a0 = spark.range(2).withColumn("x", F.lit(1))
    b0 = spark.range(2).withColumn("x", F.lit(0))
    (a, b), (pa, pb) = iterate(
        (a0, b0),
        (lambda st: _inc(st[1]), lambda st: st[0].select("id", (F.col("x") * 2).alias("x"))),
        3,
    )
    # a1 = b0+1 = 1, b1 = 2*a1 = 2; a2 = 3, b2 = 6; a3 = 7, b3 = 14
    assert (_x(a), _x(b), _x(pa), _x(pb)) == ([7, 7], [14, 14], [3, 3], [6, 6])
    ids = [rid for rid, _ in rotations]
    assert len(ids) == 6 and len(set(ids)) == 2
    assert ids[0::2] == [ids[0]] * 3 and ids[1::2] == [ids[1]] * 3


def test_iterate_tuple_state_may_start_empty(spark, rotations):
    b0 = spark.range(2).withColumn("x", F.lit(5))
    (a, b), _ = iterate(
        (None, b0),
        (lambda st: _inc(st[1]), lambda st: _inc(st[0])),
        1,
        lambda old, new: old[0] is not None,
    )
    assert (_x(a), _x(b)) == ([6, 6], [7, 7])
    assert len(rotations) == 2


def test_settled_compares_consecutive_summaries():
    summaries = iter([3, 2, 2, 9])
    stop = settled(lambda new: next(summaries), first=4)
    assert [stop(None, None) for _ in range(4)] == [False, False, True, False]
    stop = settled(lambda new: 1)
    assert [stop(None, None) for _ in range(2)] == [False, True]


# -- bounded block use ------------------------------------------------------


@pytest.fixture(scope="module")
def claims(spark):
    return gen_claims(spark, n_entities=6, n_sources=4, n_revs=1)


def _path_edges(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])


def _weighted_path(spark, n):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], ["src", "dst", "weight"]
    )


def _spread_claims(spark):
    # one fact spanning seven orders of magnitude: scale_units moves the
    # outlier one decade per round
    rows = [(0, f"s{i}", "e", "a", 1.0) for i in range(4)] + [(0, "s9", "e", "a", 1e7)]
    return spark.createDataFrame(rows, ["bucket_id", "source", "entity", "attr", "value_num"])


# operator name -> (run(spark, claims, n), small n, large n); every run
# takes at least two steps at the small n, so the rotators are full
LOOPS = {
    "catd": (lambda s, c, n: fuse_catd(c, max_itr=n, tol=None), 2, 6),
    "gtm": (lambda s, c, n: fuse_gtm(c, max_itr=n, tol=None), 2, 6),
    "gtm_tol": (lambda s, c, n: fuse_gtm(c, max_itr=n, tol=-1.0), 2, 6),
    "accu": (lambda s, c, n: fuse_accu(c, max_itr=n, tol=None), 2, 6),
    "truthfinder": (lambda s, c, n: fuse_truthfinder(c, max_itr=n), 2, 6),
    "slimfast": (lambda s, c, n: fuse_slimfast(c, max_itr=n), 2, 6),
    "kdem": (lambda s, c, n: fuse_kdem(c, max_itr=n, tol=-1.0), 2, 6),
    "crh_distributed": (lambda s, c, n: crh.fuse_crh(c, max_itr=n), 2, 6),
    "cc_distributed": (
        lambda s, c, n: cc.connected_components(_path_edges(s, 40), max_rounds=n),
        2,
        8,
    ),
    "scale_units": (lambda s, c, n: scale_units(_spread_claims(s), max_itr=n), 2, 8),
    "label_propagation": (
        lambda s, c, n: graph.label_propagation(_path_edges(s, 8), iterations=n),
        2,
        6,
    ),
    "k_core": (lambda s, c, n: graph.k_core(_path_edges(s, 20), k=2, max_rounds=n), 2, 8),
    "shortest_paths": (
        lambda s, c, n: graph.shortest_paths(
            _weighted_path(s, 10), s.createDataFrame([(0,)], ["node"]), rounds=n
        ),
        2,
        6,
    ),
    "pagerank": (
        lambda s, c, n: graph.pagerank(_path_edges(s, 8), iterations=n, checkpoint_every=1),
        3,
        8,
    ),
    "hits": (
        lambda s, c, n: graph.hits(_path_edges(s, 8), iterations=n, checkpoint_every=1),
        3,
        8,
    ),
}


def _held_blocks(spark, run):
    """Persisted RDDs a run leaves behind once its outputs are evaluated.

    Every checkpoint the run makes is kept reachable until the count is
    taken, so Spark's ContextCleaner (which frees unreachable RDDs whenever
    the JVM collects garbage) cannot make the count depend on timing: only
    an explicit release lowers it."""
    before = persistent_rdd_ids(spark)
    out = run()
    for df in (out.truth, out.weights) if isinstance(out, FusionResult) else (out,):
        df.collect()
    grown = persistent_rdd_ids(spark) - before
    release_rdds(spark, grown)
    return len(grown)


@pytest.mark.parametrize("name", LOOPS)
def test_iterative_operator_block_use_is_bounded(spark, claims, monkeypatch, name):
    monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", -1)
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", -1)
    kept = []  # every checkpoint of the test, held until it ends
    df_class = type(claims)
    orig = df_class.localCheckpoint

    def keep_reachable(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        kept.append(out)
        return out

    monkeypatch.setattr(df_class, "localCheckpoint", keep_reachable)
    run, small, large = LOOPS[name]
    held = [_held_blocks(spark, lambda n=n: run(spark, claims, n)) for n in (small, large)]
    assert held[0] == held[1], f"{name}: {held[0]} blocks at {small} steps, {held[1]} at {large}"


# -- input errors -------------------------------------------------------------


REJECTED = {
    "catd": lambda s, c: fuse_catd(c, max_itr=0),
    "accu": lambda s, c: fuse_accu(c, max_itr=0),
    "truthfinder": lambda s, c: fuse_truthfinder(c, max_itr=0),
    "slimfast": lambda s, c: fuse_slimfast(c, max_itr=-1),
    "kdem": lambda s, c: fuse_kdem(c, max_itr=0),
    "hits": lambda s, c: graph.hits(_path_edges(s, 3), iterations=0),
    "hits_every": lambda s, c: graph.hits(_path_edges(s, 3), checkpoint_every=0),
    "pagerank_every": lambda s, c: graph.pagerank(_path_edges(s, 3), checkpoint_every=0),
}


@pytest.mark.parametrize("name", REJECTED)
def test_out_of_range_iterations_rejected_before_any_job(spark, claims, name):
    sc = spark.sparkContext
    group = f"reject-{name}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=">= 1"):
            REJECTED[name](spark, claims)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_zero_iterations_still_accepted_by_crh_and_cc(spark, claims, monkeypatch):
    monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", -1)
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", -1)
    res = crh.fuse_crh(claims, max_itr=0)
    assert {r["weight"] for r in res.weights.collect()} == {0.0}
    assert res.truth.count() > 0
    comp = cc.connected_components(_path_edges(spark, 3), max_rounds=0)
    assert comp.count() == 4
