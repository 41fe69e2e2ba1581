"""Pure pandas/numpy mini-oracles for the fusion math (SURVEY §8).

Independent reimplementations of the model equations used to verify the
Spark dataflow. They operate on long-form claims
(bucket_id, source, entity, attr, value_str, value_num, claim_type) and
mirror the reference semantics exactly (tie-breaks pinned to ascending value,
matching the engine's documented choices).
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd

from trustfuse_spark.functions.similarity import jaro_py


def _facts(claims: pd.DataFrame):
    """-> dict[(bucket, entity, attr)] = list[(source, value, is_num)]."""
    facts = defaultdict(list)
    for row in claims.itertuples(index=False):
        is_num = row.value_num is not None and not pd.isna(row.value_num)
        v = float(row.value_num) if is_num else row.value_str
        facts[(row.bucket_id, row.entity, row.attr)].append((row.source, v, is_num))
    return facts


def _mode_min(values: list[str]) -> str:
    counts = pd.Series(values).value_counts()
    top = counts[counts == counts.max()].index
    return sorted(top)[0]


def majority_oracle(claims: pd.DataFrame) -> dict:
    """fact -> truth value (mode w/ lexicographic tie; median snapped to the
    nearest claimed value, ties to the smaller)."""
    out = {}
    for key, rows in _facts(claims).items():
        vals = [v for _, v, _ in rows]
        if rows[0][2]:
            med = float(np.median(vals))
            out[key] = min(sorted(set(vals)), key=lambda v: (abs(v - med), v))
        else:
            out[key] = _mode_min(vals)
    return out


def crh_oracle(claims: pd.DataFrame, max_itr: int = 10, eps: float = 0.1):
    """-> (truth: fact->value, weights: (bucket, source)->w)."""
    facts = _facts(claims)
    buckets = sorted({k[0] for k in facts})
    truth, weights = {}, {}
    for b in buckets:
        bfacts = {k: v for k, v in facts.items() if k[0] == b}
        sources = sorted({s for rows in bfacts.values() for s, _, _ in rows})
        t = {}
        denom = {}
        for key, rows in bfacts.items():
            vals = [v for _, v, _ in rows]
            if rows[0][2]:
                t[key] = float(np.median(vals))
                denom[key] = max(float(np.std(vals)), eps)
            else:
                t[key] = _mode_min(vals)
        w = {s: 0.0 for s in sources}
        for _ in range(max_itr):
            raw = {s: 0.0 for s in sources}
            for key, rows in bfacts.items():
                for s, v, is_num in rows:
                    if is_num:
                        raw[s] += (v - t[key]) ** 2 / denom[key]
                    else:
                        raw[s] += float(v != t[key])
            tot = sum(raw.values())
            w = {
                s: (-math.log(raw[s] / tot) if raw[s] > 0 else 0.0)
                for s in sources
            }
            for key, rows in bfacts.items():
                if rows[0][2]:
                    cands = sorted({v for _, v, _ in rows})
                    losses = {
                        c: sum(w[s] * (c - v) ** 2 / denom[key] for s, v, _ in rows)
                        for c in cands
                    }
                    t[key] = min(cands, key=lambda c: (losses[c], c))
                else:
                    cands = sorted({v for _, v, _ in rows})
                    scores = {
                        c: sum(w[s] for s, v, _ in rows if v == c) for c in cands
                    }
                    # max score; tie -> lexicographically smallest value
                    # (max() keeps the first maximum of the sorted candidates)
                    t[key] = max(cands, key=lambda c: scores[c])
        truth.update({k: v for k, v in t.items()})
        weights.update({(b, s): w[s] for s in sources})
    return truth, weights


def truthfinder_oracle(
    claims: pd.DataFrame,
    max_itr: int = 10,
    rho: float = 0.5,
    gamma: float = 0.3,
    theta: float = 0.0,
):
    facts = _facts(claims)
    # claim_type per fact for branch selection
    ctypes = {}
    for row in claims.itertuples(index=False):
        ctypes[(row.bucket_id, row.entity, row.attr)] = row.claim_type
    buckets = sorted({k[0] for k in facts})
    truth, weights = {}, {}
    for b in buckets:
        bfacts = {k: v for k, v in facts.items() if k[0] == b}
        sources = sorted({s for rows in bfacts.values() for s, _, _ in rows})
        tau = {s: -math.log(1 - 0.9) for s in sources}
        s_scores = {}
        for _ in range(max_itr):
            s_scores = {}
            for key, rows in bfacts.items():
                cands = sorted({v for _, v, _ in rows})
                sigma = {
                    c: sum(tau[s] for s, v, _ in rows if v == c) for c in cands
                }
                tmp = {}
                ct = ctypes[key]
                for c in cands:
                    if ct in ("string", "entity"):
                        loss = sum(
                            sigma[u] * (math.exp(-jaro_py(str(c), str(u))) - theta)
                            for u in cands
                            if u != c
                        )
                        tmp[c] = (1 - rho * (1 - theta)) * sigma[c] + rho * loss
                    elif ct == "quantity":
                        loss = sum(
                            sigma[u] * (math.exp(-abs(u - c)) - theta) for u in cands
                        )
                        tmp[c] = (1 - rho * (1 - theta)) * sigma[c] + rho * loss
                    else:
                        tmp[c] = sigma[c]
                s_scores[key] = {
                    c: 1.0 / (1.0 + math.exp(-gamma * tmp[c])) for c in cands
                }
            tsum = {s: [0.0, 0] for s in sources}
            for key, rows in bfacts.items():
                for s, v, _ in rows:
                    tsum[s][0] += s_scores[key][v]
                    tsum[s][1] += 1
            for s in sources:
                tv = tsum[s][0] / tsum[s][1] if tsum[s][1] else 0.0
                tau[s] = math.log(1e10) if tv >= 1 else -math.log(1 - tv)
        for key, rows in bfacts.items():
            sc = s_scores[key]
            truth[key] = max(sorted(sc), key=lambda c: (sc[c],))
            # ties: sorted() puts smaller first; max keeps FIRST max -> min value
        weights.update({(b, s): tau[s] for s in sources})
    return truth, weights


def _chi2_cdf_0025(k: int) -> float:
    """chi2.cdf(0.025, k) = P(k/2, 0.0125) by series (matches engine UDF)."""
    a = k / 2.0
    x = 0.0125
    term = math.exp(a * math.log(x) - x - math.lgamma(a + 1.0))
    total = term
    for n in range(1, 60):
        term *= x / (a + n)
        total += term
        if term < 1e-18:
            break
    return total


def catd_oracle(claims: pd.DataFrame, max_itr: int = 10, tol: float | None = 0.1):
    """Numeric-only CATD; convergence matches the engine's global-err rule."""
    qc = claims[claims.claim_type == "quantity"]
    facts = _facts(qc)
    buckets = sorted({k[0] for k in facts})
    truth_out, weights_out = {}, {}
    # engine convergence is global across buckets -> single joint loop
    all_sources = sorted({(k[0], s) for k, rows in facts.items() for s, _, _ in rows})
    counts = {bs: 0 for bs in all_sources}
    for key, rows in facts.items():
        for s in {s for s, _, _ in rows}:
            counts[(key[0], s)] += 1
    t = {k: float(np.median([v for _, v, _ in rows])) for k, rows in facts.items()}
    w = dict.fromkeys(all_sources, 1.0)
    prev_w = None
    for _ in range(max_itr):
        raw = dict.fromkeys(all_sources, 0.0)
        for key, rows in facts.items():
            for s, v, _ in rows:
                raw[(key[0], s)] += (v - t[key]) ** 2
        w = {
            bs: (_chi2_cdf_0025(counts[bs]) / raw[bs] if raw[bs] > 1e-9 else 1e10)
            for bs in all_sources
        }
        t = {
            k: sum(w[(k[0], s)] * v for s, v, _ in rows)
            / sum(w[(k[0], s)] for s, _, _ in rows)
            for k, rows in facts.items()
        }
        if tol is not None and prev_w is not None:
            num = math.sqrt(sum((prev_w[bs] - w[bs]) ** 2 for bs in all_sources))
            den = math.sqrt(sum(v * v for v in prev_w.values()))
            if den > 0 and num / den <= tol:
                break
        prev_w = dict(w)
    for k, rows in facts.items():
        cands = sorted({v for _, v, _ in rows})
        truth_out[k] = min(cands, key=lambda c: (abs(c - t[k]), c))
    weights_out.update(w)
    return truth_out, weights_out


def gtm_oracle(
    claims: pd.DataFrame,
    max_itr: int = 20,
    tol: float | None = 1e-3,
    alpha: float = 10.0,
    beta: float = 10.0,
    mu0: float = 0.0,
    sigma0: float = 1.0,
    delta0: float = 1.0,
):
    qc = claims[claims.claim_type == "quantity"]
    facts = _facts(qc)
    all_sources = sorted({(k[0], s) for k, rows in facts.items() for s, _, _ in rows})
    prior = {k: float(np.median([v for _, v, _ in rows])) for k, rows in facts.items()}
    kept = {
        k: [
            (s, v)
            for s, v, _ in rows
            if prior[k] == 0 or abs(v - prior[k]) / abs(prior[k]) <= delta0
        ]
        for k, rows in facts.items()
    }
    sigma_e = {k: float(np.std([v for _, v in kept[k]])) for k in kept}
    cn = {k: [(s, v - prior[k]) for s, v in kept[k]] for k in kept}
    counts = dict.fromkeys(all_sources, 0)
    for k, rows in cn.items():
        for s in {s for s, _ in rows}:
            counts[(k[0], s)] += 1

    def maximization(t):
        ssum = dict.fromkeys(all_sources, 0.0)
        for k, rows in cn.items():
            for s, v in rows:
                ssum[(k[0], s)] += 2 * beta + (v - t[k]) ** 2
        return {
            bs: ssum[bs] / (2 * (alpha + 1) + counts[bs])
            for bs in all_sources
            if counts[bs] > 0
        }

    t = dict(prior)
    sigma2 = maximization(t)
    prev_t = None
    for _ in range(max_itr):
        t = {
            k: (
                mu0 / sigma0**2
                + sum(v / sigma2[(k[0], s)] for s, v in rows)
            )
            / (1 / sigma0**2 + sum(1 / sigma2[(k[0], s)] for s, _ in rows))
            for k, rows in cn.items()
        }
        sigma2 = maximization(t)
        if tol is not None and prev_t is not None:
            num = math.sqrt(sum((prev_t[k] - t[k]) ** 2 for k in t))
            den = math.sqrt(sum(v * v for v in prev_t.values()))
            if den > 0 and num / den <= tol:
                break
        prev_t = dict(t)
    truth_out = {}
    for k, rows in facts.items():
        est = t[k] * sigma_e[k] + prior[k]
        cands = sorted({v for _, v, _ in rows})
        truth_out[k] = min(cands, key=lambda c: (abs(c - est), c))
    return truth_out, sigma2


def accu_oracle(claims: pd.DataFrame, max_itr: int = 100, init_accuracy: float = 0.8):
    facts = _facts(claims)
    # one claim per (source, fact): smallest value (engine pin); vkey=str
    def vk(v):
        return str(float(v)) if isinstance(v, float) else v

    dedup = {}
    for k, rows in facts.items():
        per_src = {}
        for s, v, _ in sorted(rows, key=lambda r: vk(r[1])):
            per_src.setdefault(s, v)
        dedup[k] = sorted(per_src.items())
    all_sources = sorted({(k[0], s) for k, rows in dedup.items() for s, _ in rows})
    acc = dict.fromkeys(all_sources, init_accuracy)
    truth = {}
    for _ in range(max_itr):
        for k, rows in dedup.items():
            vals = sorted({vk(v) for _, v in rows})
            n = len(vals)
            if n == 1:
                truth[k] = rows[0][1]
                continue
            scores = {}
            by_key = {}
            for s, v in rows:
                a = acc[(k[0], s)]
                scores[vk(v)] = scores.get(vk(v), 0.0) + math.log((n - 1) * a / (1 - a))
                by_key.setdefault(vk(v), v)
            best = max(sorted(scores), key=lambda c: scores[c])
            truth[k] = by_key[best]
        new_acc = {}
        tot = dict.fromkeys(all_sources, 0)
        cor = dict.fromkeys(all_sources, 0)
        for k, rows in dedup.items():
            for s, v in rows:
                tot[(k[0], s)] += 1
                if vk(v) == vk(truth[k]):
                    cor[(k[0], s)] += 1
        for bs in all_sources:
            a = cor[bs] / tot[bs] if tot[bs] else 0.0
            new_acc[bs] = 0.99 if a == 1.0 else (0.01 if a == 0.0 else a)
        acc = new_acc
    return truth, acc


def kdem_oracle(
    claims: pd.DataFrame,
    max_itr: int = 99,
    tol: float = 1e-5,
    h: float = -1.0,
):
    """Gaussian-kernel KDEm matching the engine (global h from first sorted
    fact; global |Δj/j| stop; truth = argmax-w claim, ties smaller value)."""
    from trustfuse_spark.operators.fusion.kdem import mad_bandwidth

    qc = claims[claims.claim_type == "quantity"]
    facts = dict(sorted(_facts(qc).items()))
    if h < 0:
        first = next(iter(facts))
        h = mad_bandwidth(
            np.array(sorted(v for _, v, _ in facts[first]), dtype="float64")
        )

    def kern(u):
        return np.exp(-(u**2)) / np.sqrt(2 * np.pi)

    all_sources = sorted({(k[0], s) for k, rows in facts.items() for s, _, _ in rows})
    counts = dict.fromkeys(all_sources, 0)
    for k, rows in facts.items():
        for s in {s for s, _, _ in rows}:
            counts[(k[0], s)] += 1
    # per fact: sorted (source, value) claim arrays
    arr = {
        k: sorted((s, v) for s, v, _ in rows) for k, rows in facts.items()
    }
    w = {k: np.ones(len(v)) / len(v) for k, v in arr.items()}
    kmat = {}
    for k, rows in arr.items():
        x = np.array([v for _, v in rows], dtype="float64")
        kmat[k] = kern((x[:, None] - x[None, :]) / h) if h > 0 else np.full((len(x), len(x)), kern(np.array(0.0)))

    prev_j = None
    c = None
    for _ in range(max_itr):
        norms = {}
        for k in arr:
            kw = kmat[k] @ w[k]
            nm = np.diag(kmat[k]) - 2 * kw + float(w[k] @ kw)
            norms[k] = np.where(nm < 0, 0.0, nm)
        rtn = dict.fromkeys(all_sources, 0.0)
        for k, rows in arr.items():
            for (s, _), nv in zip(rows, norms[k]):
                rtn[(k[0], s)] += nv / len(rows)
        jb = {}
        for (b, s), v in rtn.items():
            jb[b] = jb.get(b, 0.0) + v
        c = {
            bs: (-math.log((rtn[bs] / counts[bs]) / jb[bs[0]]) if rtn[bs] > 0 else 0.0)
            for bs in all_sources
        }
        for k, rows in arr.items():
            wi = np.array(
                [c[(k[0], s)] if nv > 0 else 0.0 for (s, _), nv in zip(rows, norms[k])]
            )
            t1 = wi.sum()
            if t1 > 0:
                w[k] = wi / t1
            else:
                wi = np.array([1.0 if nv == 0 else 0.0 for nv in norms[k]])
                w[k] = wi / wi.sum()
        if prev_j is not None:
            errs = [abs((jb[b] - prev_j[b]) / prev_j[b]) for b in jb if prev_j.get(b)]
            if errs and max(errs) <= tol:
                prev_j = jb
                break
        prev_j = jb
    truth = {}
    for k, rows in arr.items():
        best = max(
            sorted(range(len(rows)), key=lambda i: rows[i][1]),
            key=lambda i: w[k][i],
        )
        truth[k] = rows[best][1]
    return truth, c


def slimfast_oracle(
    claims: pd.DataFrame,
    max_itr: int = 10,
    alpha: float = 0.01,
    reg: float = 0.01,
    init_accuracy: float = 0.8,
):
    facts = _facts(claims)

    def vk(v):
        return str(float(v)) if isinstance(v, float) else v

    dedup = {}
    for k, rows in facts.items():
        per_src = {}
        for s, v, _ in sorted(rows, key=lambda r: vk(r[1])):
            per_src.setdefault(s, v)
        dedup[k] = sorted(per_src.items())
    buckets = sorted({k[0] for k in dedup})
    wsh = {b: -math.log(1.0 / init_accuracy - 1.0) for b in buckets}
    truth = {}
    for _ in range(max_itr):
        for k, rows in dedup.items():
            vals = sorted({vk(v) for _, v in rows})
            n = len(vals)
            if n == 1:
                truth[k] = rows[0][1]
                continue
            a = 1.0 / (1.0 + math.exp(-wsh[k[0]]))
            a = 0.99 if a >= 1.0 else (0.01 if a <= 0.0 else a)
            scores, by_key = {}, {}
            for s, v in rows:
                scores[vk(v)] = scores.get(vk(v), 0.0) + math.log((n - 1) * a / (1 - a))
                by_key.setdefault(vk(v), v)
            best = max(sorted(scores), key=lambda cc: scores[cc])
            truth[k] = by_key[best]
        # SGD per bucket, claims sorted by (entity, attr, vkey, source)
        per_bucket = {b: [] for b in buckets}
        for k, rows in dedup.items():
            for s, v in rows:
                per_bucket[k[0]].append((k[1], k[2], vk(v), s, vk(v) == vk(truth[k])))
        for b in buckets:
            w = wsh[b]
            for _, _, _, _, correct in sorted(per_bucket[b]):
                if correct:
                    w -= alpha * (-1.0 / (math.exp(-w) + 1.0))
                else:
                    w -= alpha * (1.0 / (1.0 + math.exp(-w)))
            if w > 0:
                w = max(0.0, w - alpha * reg)
            elif w < 0:
                w = min(0.0, w + alpha * reg)
            wsh[b] = w
    weights = {}
    for k, rows in dedup.items():
        for s, _ in rows:
            a = 1.0 / (1.0 + math.exp(-wsh[k[0]]))
            weights[(k[0], s)] = 0.99 if a >= 1.0 else (0.01 if a <= 0.0 else a)
    return truth, weights
