"""Oracle parity for CATD / GTM / ACCU."""

import math

import numpy as np
import pandas as pd
import pytest

from tests.oracle import accu_oracle, catd_oracle, gtm_oracle
from trustfuse_spark.datagen import gen_claims
from trustfuse_spark.operators.fusion.accu import fuse_accu
from trustfuse_spark.operators.fusion.catd import fuse_catd
from trustfuse_spark.operators.fusion.gtm import fuse_gtm


@pytest.fixture(scope="module")
def claims_df(spark):
    return gen_claims(spark, n_entities=25, n_sources=8, n_revs=2).cache()


@pytest.fixture(scope="module")
def claims_pd(claims_df):
    return claims_df.toPandas()


def _spark_truth(result):
    return {
        (r["bucket_id"], r["entity"], r["attr"]): (
            r["value_num"] if r["is_numeric"] else r["value_str"]
        )
        for r in result.truth.collect()
    }


def _spark_weights(result):
    return {(r["bucket_id"], r["source"]): r["weight"] for r in result.weights.collect()}


def _check(res, want_truth, want_w, w_tol=1e-6):
    got_t = _spark_truth(res)
    assert set(got_t) == set(want_truth)
    bad = [
        (k, got_t[k], want_truth[k])
        for k in want_truth
        if (
            abs(got_t[k] - want_truth[k]) > 1e-9
            if isinstance(want_truth[k], float)
            else got_t[k] != want_truth[k]
        )
    ]
    assert not bad, f"{len(bad)} truth mismatches, first 5: {bad[:5]}"
    got_w = _spark_weights(res)
    assert set(got_w) == set(want_w)
    for k in want_w:
        denom = max(abs(want_w[k]), 1.0)
        assert abs(got_w[k] - want_w[k]) / denom < w_tol, (k, got_w[k], want_w[k])


def test_catd_matches_oracle(claims_df, claims_pd):
    res = fuse_catd(claims_df, max_itr=4, tol=None)
    want_t, want_w = catd_oracle(claims_pd, max_itr=4, tol=None)
    _check(res, want_t, want_w)


def test_catd_convergence_stop(claims_df, claims_pd):
    res = fuse_catd(claims_df, max_itr=10, tol=0.1)
    want_t, want_w = catd_oracle(claims_pd, max_itr=10, tol=0.1)
    _check(res, want_t, want_w)


def test_gtm_matches_oracle(claims_df, claims_pd):
    res = fuse_gtm(claims_df, max_itr=5, tol=None)
    want_t, want_w = gtm_oracle(claims_pd, max_itr=5, tol=None)
    _check(res, want_t, want_w)


def test_accu_matches_oracle(claims_df, claims_pd):
    res = fuse_accu(claims_df, max_itr=3)
    want_t, want_w = accu_oracle(claims_pd, max_itr=3)
    _check(res, want_t, want_w)


def _log_chi2_cdf_0025(k: int) -> float:
    """log P(k/2, 0.0125) as the log-sum-exp of the series terms
    x^(a+n) e^-x / Γ(a+n+1), each formed in log space."""
    a, x = k / 2.0, 0.0125
    logs = [(a + n) * math.log(x) - x - math.lgamma(a + n + 1.0) for n in range(60)]
    top = max(logs)
    return top + math.log(sum(math.exp(t - top) for t in logs))


def _catd_log_replay(claims: pd.DataFrame, max_itr: int):
    """Fixed-iteration CATD with each fact's weighted mean formed from
    log-weights shifted by the fact's largest; -> (snapped truth, weights)."""
    qc = claims[(claims.claim_type == "quantity") & claims.value_num.notna()]
    fact = ["bucket_id", "entity", "attr"]
    ws = ["bucket_id", "source"]
    cnt = qc.drop_duplicates(fact + ws).groupby(ws).size()
    truth = qc.groupby(fact).value_num.median()
    for _ in range(max_itr):
        resid = (qc.value_num - truth.reindex(pd.MultiIndex.from_frame(qc[fact])).to_numpy()) ** 2
        raw = resid.groupby([qc.bucket_id, qc.source]).sum()
        log_cdf = cnt.map(_log_chi2_cdf_0025).reindex(raw.index)
        logw = np.where(raw > 1e-9, log_cdf - np.log(raw.where(raw > 0, 1.0)), math.log(1e10))
        weight = pd.Series(np.where(raw > 1e-9, np.exp(log_cdf) / raw, 1e10), raw.index)
        j = qc.assign(lw=pd.Series(logw, raw.index).reindex(pd.MultiIndex.from_frame(qc[ws])).to_numpy())
        j["w"] = np.exp(j.lw - j.groupby(fact).lw.transform("max"))
        j["wv"] = j.w * j.value_num
        sums = j.groupby(fact)[["wv", "w"]].sum()
        truth = sums.wv / sums.w
    snapped = {}
    for key, grp in qc.groupby(fact):
        snapped[key] = min(sorted(set(grp.value_num)), key=lambda c: (abs(c - truth[key]), c))
    return snapped, {k: float(v) for k, v in weight.items()}


def test_catd_many_facts_per_source_log_space_mean(spark):
    """Above about 200 facts per source chi2.cdf(0.025, k) underflows: every
    reported weight is 0 and the truth still follows the log-weights."""
    claims = gen_claims(spark, n_entities=400, n_sources=4, n_revs=1)
    claims_pd = claims.toPandas()
    per_source = claims_pd[claims_pd.claim_type == "quantity"].groupby("source").size()
    assert per_source.min() >= 210
    want_t, want_w = _catd_log_replay(claims_pd, max_itr=3)
    res = fuse_catd(claims, max_itr=3, tol=None)
    _check(res, want_t, want_w)
    assert set(want_w.values()) == {0.0}
