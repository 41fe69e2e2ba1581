"""Model-math parity: Spark fusion vs independent pandas/numpy oracles."""

import random

import pandas as pd
import pyspark.sql.functions as F
import pytest

from tests.oracle import crh_oracle, majority_oracle, truthfinder_oracle
from trustfuse_spark.datagen import gen_claims
from trustfuse_spark.operators.fusion.crh import fuse_crh
from trustfuse_spark.operators.fusion.majority import fuse_majority
from trustfuse_spark.operators.fusion.truthfinder import fuse_truthfinder


@pytest.fixture(scope="module")
def claims_df(spark):
    return gen_claims(spark, n_entities=25, n_sources=8, n_revs=2).cache()


@pytest.fixture(scope="module")
def claims_pd(claims_df):
    return claims_df.toPandas()


def _spark_truth(result):
    rows = result.truth.collect()
    out = {}
    for r in rows:
        key = (r["bucket_id"], r["entity"], r["attr"])
        out[key] = r["value_num"] if r["is_numeric"] else r["value_str"]
    return out


def _spark_weights(result):
    return {
        (r["bucket_id"], r["source"]): r["weight"] for r in result.weights.collect()
    }


def _compare_truth(got: dict, want: dict, numeric_tol=1e-9):
    assert set(got) == set(want)
    bad = []
    for k, w in want.items():
        g = got[k]
        if isinstance(w, float):
            if abs(g - w) > numeric_tol:
                bad.append((k, g, w))
        elif g != w:
            bad.append((k, g, w))
    assert not bad, f"{len(bad)} truth mismatches, first 5: {bad[:5]}"


def test_majority_matches_oracle(claims_df, claims_pd):
    got = _spark_truth(fuse_majority(claims_df))
    want = majority_oracle(claims_pd)
    _compare_truth(got, want)


def test_crh_matches_oracle(claims_df, claims_pd):
    res = fuse_crh(claims_df, max_itr=3)
    want_truth, want_w = crh_oracle(claims_pd, max_itr=3)
    _compare_truth(_spark_truth(res), want_truth)
    got_w = _spark_weights(res)
    assert set(got_w) == set(want_w)
    for k in want_w:
        assert abs(got_w[k] - want_w[k]) < 1e-6, (k, got_w[k], want_w[k])


def test_truthfinder_matches_oracle(claims_df, claims_pd):
    res = fuse_truthfinder(claims_df, max_itr=3)
    want_truth, want_w = truthfinder_oracle(claims_pd, max_itr=3)
    _compare_truth(_spark_truth(res), want_truth)
    got_w = _spark_weights(res)
    assert set(got_w) == set(want_w)
    for k in want_w:
        assert abs(got_w[k] - want_w[k]) < 1e-6, (k, got_w[k], want_w[k])


def test_partition_count_invariance(spark, claims_pd):
    """SURVEY §5.3.4: fused output independent of physical partitioning."""
    sdf = spark.createDataFrame(claims_pd)
    a = _spark_truth(fuse_crh(sdf.repartition(1), max_itr=2))
    b = _spark_truth(fuse_crh(sdf.repartition(16), max_itr=2))
    _compare_truth(a, b)


def test_crh_partition_count_invariant(spark, claims_df, claims_pd):
    """SURVEY §7.4 risk 1: results must not depend on shuffle order — run
    the same fusion under a prime, tiny partition count and re-compare to
    the oracle."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        res = fuse_crh(claims_df.repartition(5), max_itr=3)
        want_truth, _ = crh_oracle(claims_pd, max_itr=3)
        _compare_truth(_spark_truth(res), want_truth)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_CLAIMS_DDL = (
    "bucket_id int, source string, entity string, attr string,"
    " value_str string, value_num double, claim_type string"
)


def _bucket_rows(bucket, sources, n_entities, seed, noise=0.3):
    """Noisy claims on one categorical and one numeric attr per entity, plus a
    mixed-type fact. ``sources[0]`` always claims the planted value; at low
    ``noise`` the majority does too, so its loss is zero and its weight
    stays 0."""
    rng = random.Random(seed)
    rows = []
    for e in range(n_entities):
        for i, s in enumerate(sources):
            wrong = i > 0 and rng.random() < noise
            name = f"n{e}" if not wrong else f"n{e}_{rng.randint(0, 2)}"
            qty = float(10 * e) + (rng.choice([-3.0, 1.5, 7.0]) if wrong else 0.0)
            rows.append((bucket, s, f"e{e}", "name", name, None, "string"))
            rows.append((bucket, s, f"e{e}", "qty", str(qty), qty, "quantity"))
    for i, s in enumerate(sources[1:]):  # one fact claimed with both types
        if i % 2:
            rows.append((bucket, s, "e0", "mixed", f"m{i % 3}", None, "string"))
        else:
            rows.append((bucket, s, "e0", "mixed", str(float(i)), float(i), "quantity"))
    return rows


def _branch_truth(result):
    """Truth keyed by (bucket, entity, attr#branch): a mixed-type fact has one
    truth row per branch."""
    return {
        (r["bucket_id"], r["entity"], r["attr"] + ("#n" if r["is_numeric"] else "#s")):
        r["value_num"] if r["is_numeric"] else r["value_str"]
        for r in result.truth.collect()
    }


@pytest.mark.parametrize("max_itr", [0, 3])
def test_crh_kernel_straddles_size_bound(spark, monkeypatch, max_itr):
    """Bucket 0 runs the distributed loop; buckets 1 (small), 2 (single
    source) and 3 (contested: even claim counts, split votes) run the
    bucket-local kernel. Both must match an all-distributed run and the
    oracle."""
    from trustfuse_spark.operators.fusion import crh

    rows = (
        _bucket_rows(0, [f"s{i}" for i in range(6)], 10, seed=1)
        + _bucket_rows(1, ["s0", "s1", "s2"], 4, seed=2)
        + [(2, "solo", "e9", "name", "x", None, "string"),
           (2, "solo", "e9", "qty", "4.0", 4.0, "quantity")]
        + _bucket_rows(3, ["s0", "s1", "s2", "s3"], 6, seed=4, noise=0.6)
    )
    sizes = pd.Series([r[0] for r in rows]).value_counts()
    bound = 60
    assert sizes[0] > bound >= max(sizes[1], sizes[3])
    claims = spark.createDataFrame(rows, _CLAIMS_DDL)

    seen = []
    distributed = crh._fuse_distributed

    def spy(c, *a):
        seen.append(sorted(r[0] for r in c.select("bucket_id").distinct().collect()))
        return distributed(c, *a)

    monkeypatch.setattr(crh, "_fuse_distributed", spy)
    monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", bound)
    mixed = crh.fuse_crh(claims, max_itr=max_itr)
    mixed_truth, mixed_w = _branch_truth(mixed), _spark_weights(mixed)
    monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", 0)
    full = crh.fuse_crh(claims, max_itr=max_itr)
    assert seen == [[0], [0, 1, 2, 3]]

    _compare_truth(mixed_truth, _branch_truth(full), numeric_tol=0.0)
    full_w = _spark_weights(full)
    assert set(mixed_w) == set(full_w)
    assert all(abs(mixed_w[k] - full_w[k]) < 1e-12 for k in full_w)

    pdf = pd.DataFrame(rows, columns=[c.split()[0] for c in _CLAIMS_DDL.split(",")])
    pdf["attr"] += pdf["value_num"].notna().map({True: "#n", False: "#s"})
    want_truth, want_w = crh_oracle(pdf, max_itr=max_itr)
    _compare_truth(mixed_truth, want_truth)
    assert set(mixed_w) == set(want_w)
    for k in want_w:
        assert abs(mixed_w[k] - want_w[k]) < 1e-9, (k, mixed_w[k], want_w[k])
    if max_itr:
        assert want_w[(0, "s0")] == want_w[(1, "s0")] == want_w[(2, "solo")] == 0.0
        assert want_w[(0, "s1")] > 0


@pytest.mark.parametrize("bound", [10**6, 0], ids=["kernel", "distributed"])
def test_crh_drops_incomplete_claims(spark, monkeypatch, bound):
    """Claims with a NULL key, no value or a NaN or infinite number are
    dropped before fusion on both paths: the result equals fusing the clean
    claims, and a source whose every claim was dropped gets no weight row."""
    from trustfuse_spark.operators.fusion import crh

    clean = _bucket_rows(0, ["s0", "s1", "s2", "s3"], 4, seed=3)
    dirty = clean + [
        (0, "s1", "e1", "name", None, None, "string"),
        (0, "s2", None, "name", "n1", None, "string"),
        (0, "s3", "e2", "qty", "nan", float("nan"), "quantity"),
        (0, "s2", "e3", "qty", "9" * 320, float("inf"), "quantity"),
        (0, "s1", "e0", "qty", "-inf", float("-inf"), "quantity"),
        (0, "ghost", "e1", "name", None, None, "string"),
        (None, "s1", "e1", "name", "n1", None, "string"),
    ]
    monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", bound)
    got = crh.fuse_crh(spark.createDataFrame(dirty, _CLAIMS_DDL), max_itr=3)
    want = crh.fuse_crh(spark.createDataFrame(clean, _CLAIMS_DDL), max_itr=3)
    _compare_truth(_branch_truth(got), _branch_truth(want), numeric_tol=0.0)
    got_w, want_w = _spark_weights(got), _spark_weights(want)
    assert set(got_w) == set(want_w)
    assert all(abs(got_w[k] - want_w[k]) < 1e-12 for k in want_w)
    assert (0, "ghost") not in got_w


def test_crh_paths_agree_on_overflowing_claims(spark, monkeypatch):
    """A finite but huge number overflows its fact's spread to inf and its own
    loss to NaN. The kernel follows Spark's NaN rules (a NaN source loss
    counts as 0, a NaN candidate score ranks last), so both paths return the
    same result instead of the kernel aborting."""
    from trustfuse_spark.operators.fusion import crh

    rows = _bucket_rows(0, ["s0", "s1", "s2", "s3"], 4, seed=3) + [
        (0, "s3", "e2", "qty", "1e200", 1e200, "quantity"),
    ]
    claims = spark.createDataFrame(rows, _CLAIMS_DDL)
    got = {}
    for bound in (10**6, 0):
        monkeypatch.setattr(crh, "KERNEL_MAX_CLAIMS", bound)
        res = crh.fuse_crh(claims, max_itr=3)
        got[bound] = (_branch_truth(res), _spark_weights(res))
    (k_truth, k_w), (d_truth, d_w) = got[10**6], got[0]
    _compare_truth(k_truth, d_truth, numeric_tol=0.0)
    assert k_w == d_w
    assert k_w[(0, "s3")] == 0.0 and k_w[(0, "s1")] > 0
