"""HyperLogLog, Bloom-pruned decontamination, Bellman-Ford shortest paths,
and grouped OLS — each checked against an independent pure-Python replay."""

import math

import pytest
from pyspark.sql import functions as F

from trustfuse_spark.operators.graph import shortest_paths
from trustfuse_spark.operators.sketch import (
    bloom_build,
    bloom_prune,
    hll_estimate,
    hyperloglog,
)

M31 = (1 << 31) - 1


def _poly31_py(s: str, seed: int = 0) -> int:
    h = seed
    for ch in s:
        h = (h * 31 + ord(ch)) % M31
    return h


def _corpus(spark, n=300):
    rows = [
        (i, " ".join(f"tok{(i * 7 + j * 13) % 97}" for j in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestHyperLogLog:
    def test_registers_match_python_replay(self, spark):
        d = _corpus(spark)
        regs = {
            r["idx"]: r["rho"]
            for r in hyperloglog(d, m=64, portable_hash=True).collect()
        }
        # replay: every distinct token, portable hash chain
        toks = {
            t
            for (_, text) in d.collect()
            for t in text.lower().split()
            if t
        }
        expect = {}
        for t in toks:
            hm = ((_poly31_py(t) + 1) * 2654435761) % M31
            idx, rest = hm & 63, hm >> 6
            rho = 26 if rest == 0 else (rest & -rest).bit_length()
            expect[idx] = max(expect.get(idx, 0), rho)
        assert regs == expect

    def test_estimate_close_to_exact_and_partition_invariant(self, spark):
        d = _corpus(spark, n=400)
        exact = (
            d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
            .filter(F.col("t") != "")
            .distinct()
            .count()
        )
        est1 = hll_estimate(hyperloglog(d, m=64), 64).collect()[0]["estimate"]
        est2 = hll_estimate(
            hyperloglog(d.repartition(7), m=64), 64
        ).collect()[0]["estimate"]
        assert est1 == est2  # register max is order/partition independent
        assert abs(est1 - exact) / exact < 0.4  # 1.04/sqrt(64) ~ 13% expected

    def test_merge_is_elementwise_max(self, spark):
        d = _corpus(spark, n=200)
        a, b = d.filter(F.col("doc_id") < 100), d.filter(F.col("doc_id") >= 100)
        merged = (
            hyperloglog(a, m=32)
            .unionByName(hyperloglog(b, m=32))
            .groupBy("idx")
            .agg(F.max("rho").alias("rho"))
        )
        whole = hyperloglog(d, m=32)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )


class TestBloom:
    def test_no_false_negatives_and_fp_bounded(self, spark):
        keys = spark.createDataFrame(
            [(f"gram {i} x",) for i in range(200)], "key string"
        )
        words = bloom_build(keys, "key", n_bits=4096, k=3, portable_hash=True)
        probe = spark.createDataFrame(
            [(f"gram {i} x",) for i in range(400)], "key string"
        )
        got = {
            r["key"]: r["bloom_pass"]
            for r in bloom_prune(
                probe, words, "key", 4096, 3, portable_hash=True
            ).collect()
        }
        members = [got[f"gram {i} x"] for i in range(200)]
        non = [got[f"gram {i} x"] for i in range(200, 400)]
        assert all(members)  # no false negatives, ever
        assert sum(non) <= 20  # fp rate ~ (1-e^{-3*200/4096})^3 << 10%

    def test_decontaminate_bloom_equals_exact(self, spark):
        from trustfuse_spark.operators.curation import (
            decontaminate,
            decontaminate_bloom,
        )

        d = _corpus(spark, n=120)
        toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        bench = d.filter(F.col("doc_id") % 9 == 0).select(
            F.concat_ws(" ", F.slice(toks, 2, 4)).alias("gram")
        )
        exact = decontaminate(d, bench, n=4).select(
            "doc_id", "n_contaminated", "contaminated"
        )
        viabloom = decontaminate_bloom(
            d, bench, n=4, n_bits=1024, k=3, portable_hash=True
        )
        assert sorted(
            map(tuple, viabloom.select("doc_id", "n_contaminated", "contaminated").collect())
        ) == sorted(map(tuple, exact.collect()))
        # the pruning intermediate passes at least every true hit
        row = {r["doc_id"]: r for r in viabloom.collect()}
        assert all(
            r["n_bloom_pass"] >= r["n_contaminated"] for r in row.values()
        )


class TestShortestPaths:
    def _fixture(self, spark):
        edges = [
            ("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0),
            ("c", "d", 1.0), ("d", "e", 1.0), ("x", "a", 1.0),
            ("e", "b", 1.0),
        ]
        return spark.createDataFrame(edges, "src string, dst string, weight double")

    def test_matches_python_bellman_ford(self, spark):
        e = self._fixture(spark)
        srcs = spark.createDataFrame([("a",), ("x",)], "node string")
        got = {
            r["node"]: r["dist"]
            for r in shortest_paths(e, srcs, rounds=4).collect()
        }
        dist = {"a": 0.0, "x": 0.0}
        edges = e.collect()
        for _ in range(4):
            for s, t, w in [(r.src, r.dst, r.weight) for r in edges]:
                if s in dist and dist[s] + w < dist.get(t, math.inf):
                    dist[t] = dist[s] + w
        assert got == dist

    def test_converged_early_exit_matches_longer_run(self, spark):
        e = self._fixture(spark)
        srcs = spark.createDataFrame([("a",)], "node string")
        r4 = sorted(map(tuple, shortest_paths(e, srcs, rounds=4).collect()))
        r9 = sorted(map(tuple, shortest_paths(e, srcs, rounds=9).collect()))
        assert r4 == r9


class TestGroupOLS:
    def test_matches_numpy_fit(self, spark):
        import numpy as np

        from trustfuse_spark.operators.stats import group_ols

        rows = [
            (("g%d" % (i % 3)), float(i % 17) + 0.25, 2.5 * (i % 17) + 3.0 + (i % 5) * 0.5)
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        got = {r["g"]: r for r in group_ols(df, "g", "x", "y").collect()}
        for g in ("g0", "g1", "g2"):
            xs = np.array([x for (gg, x, _) in rows if gg == g])
            ys = np.array([y for (gg, _, y) in rows if gg == g])
            slope, intercept = np.polyfit(xs, ys, 1)
            r = np.corrcoef(xs, ys)[0, 1]
            assert got[g]["n"] == len(xs)
            assert got[g]["slope"] == pytest.approx(slope, abs=1e-9)
            assert got[g]["intercept"] == pytest.approx(intercept, abs=1e-9)
            assert got[g]["r2"] == pytest.approx(r * r, abs=1e-9)

    def test_degenerate_x_yields_null(self, spark):
        from trustfuse_spark.operators.stats import group_ols

        df = spark.createDataFrame(
            [("a", 1.0, 2.0), ("a", 1.0, 3.0)], "g string, x double, y double"
        )
        row = group_ols(df, "g", "x", "y").collect()[0]
        assert row["slope"] is None and row["r2"] is None


class TestWeightedReservoir:
    def test_matches_python_replay_and_partition_invariant(self, spark):
        from trustfuse_spark.operators.curation import weighted_reservoir

        rows = [
            (i, ("s%d" % (i % 2)), 10 + (i * 37) % 90) for i in range(150)
        ]
        df = spark.createDataFrame(rows, "doc_id long, stratum string, w long")
        got = weighted_reservoir(
            df, "stratum", k=10, weight_col="w", salt=3, portable_hash=True
        )
        got_ids = sorted((r["stratum"], r["doc_id"]) for r in got.collect())
        got2 = weighted_reservoir(
            df.repartition(13), "stratum", k=10, weight_col="w", salt=3,
            portable_hash=True,
        )
        assert got_ids == sorted(
            (r["stratum"], r["doc_id"]) for r in got2.collect()
        )
        # replay: portable_uniform = poly31(seed 7+salt) + two Knuth rounds
        import math

        def u(key):
            h = 10
            for ch in str(key):
                h = (h * 31 + ord(ch)) % M31
            for _ in range(2):
                h = ((h + 1) * 2654435761) % M31
            return h / M31

        expect = []
        for s in ("s0", "s1"):
            pri = [
                (math.log(max(u(i), 1e-12)) / max(w, 1e-12), -i)
                for (i, ss, w) in rows
                if ss == s
            ]
            pri.sort(reverse=True)
            expect += [(s, -ni) for (_, ni) in pri[:10]]
        assert got_ids == sorted(expect)

    def test_under_k_stratum_passes_through(self, spark):
        from trustfuse_spark.operators.curation import weighted_reservoir

        df = spark.createDataFrame(
            [(1, "a", 5), (2, "a", 1)], "doc_id long, stratum string, w long"
        )
        out = weighted_reservoir(
            df, "stratum", k=10, weight_col="w", portable_hash=True
        ).collect()
        assert len(out) == 2 and all(r["res_rank"] == -1 for r in out)


class TestRandomWalks:
    def test_matches_python_replay(self, spark):
        from trustfuse_spark.operators.graph import random_walks

        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]
        e = spark.createDataFrame(edges, "src string, dst string")
        got = sorted(
            map(
                tuple,
                random_walks(
                    e, walk_len=3, walks_per_node=2, portable_hash=True
                ).collect(),
            )
        )
        adj = {}
        for s, t in sorted(set(edges)):
            adj.setdefault(s, []).append(t)
        expect = []
        for start in sorted({n for st in edges for n in st}):
            for w in range(2):
                cur = start
                expect.append((start, w, 0, cur))
                for step in range(1, 4):
                    if cur not in adj:
                        break
                    hm = ((_poly31_py(f"{start}#{w}#{step}") + 1) * 2654435761) % M31
                    cur = adj[cur][hm % len(adj[cur])]
                    expect.append((start, w, step, cur))
        assert got == sorted(expect)

    def test_partition_invariant(self, spark):
        from trustfuse_spark.operators.graph import random_walks

        edges = [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(40)]
        e = spark.createDataFrame(edges, "src string, dst string")
        a = sorted(map(tuple, random_walks(e, 3, 1, portable_hash=True).collect()))
        b = sorted(
            map(
                tuple,
                random_walks(e.repartition(11), 3, 1, portable_hash=True).collect(),
            )
        )
        assert a == b


class TestProductQuantize:
    def test_matches_numpy_replay(self, spark):
        import numpy as np

        from trustfuse_spark.operators.embeddings import product_quantize

        rng = [
            (i, [float(round(math.sin(i * 13 + d) * 5, 3)) for d in range(16)])
            for i in range(60)
        ]
        df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
        codes, cents = product_quantize(
            df, n_sub=2, sub_dim=8, k=4, lloyd_rounds=1
        )
        got = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
        gotc = {
            (r["sub"], r["code"], r["dim"]): r["value"] for r in cents.collect()
        }
        # numpy replay with the same rounding discipline
        vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rng}
        cent = {
            (s, j): np.round(vecs[j][s * 8 : (s + 1) * 8], 6)
            for s in range(2)
            for j in range(4)
        }

        def assign(v, s):
            d = [np.sum((v - cent[(s, j)]) ** 2) for j in range(4)]
            return int(np.argmin(d))

        groups = {}
        for i, v in vecs.items():
            for s in range(2):
                sl = v[s * 8 : (s + 1) * 8]
                groups.setdefault((s, assign(sl, s)), []).append(sl)
        for key, arrs in groups.items():
            cent[key] = np.round(np.mean(arrs, axis=0), 6)
        for i, v in vecs.items():
            for s in range(2):
                assert got[(i, s)] == assign(v[s * 8 : (s + 1) * 8], s), (i, s)
        for (s, j), c in cent.items():
            for d in range(8):
                assert gotc[(s, j, d)] == pytest.approx(c[d], abs=2e-6)

    def test_codes_partition_invariant(self, spark):
        from trustfuse_spark.operators.embeddings import product_quantize

        rows = [
            (i, [float((i * 7 + d * 3) % 11) for d in range(8)])
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        c1, _ = product_quantize(df, n_sub=2, sub_dim=4, k=4)
        c2, _ = product_quantize(df.repartition(9), n_sub=2, sub_dim=4, k=4)
        assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


class TestPQADC:
    def test_adc_matches_python_replay_and_is_close(self, spark):
        import numpy as np

        from trustfuse_spark.operators.embeddings import (
            pq_adc_topk,
            product_quantize,
        )

        rows = [
            (i, [float(round(math.cos(i * 11 + d) * 4, 3)) for d in range(16)])
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        codes, cents = product_quantize(df, n_sub=2, sub_dim=8, k=4)
        q = df.filter(F.col("vec_id") % 13 == 0)
        got = {
            (r["qid"], r["id"]): (r["adist"], r["rank"])
            for r in pq_adc_topk(
                codes, cents, q, k_top=5, n_sub=2, sub_dim=8
            ).collect()
        }
        code_map = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
        cent_map = {}
        for r in cents.collect():
            cent_map.setdefault((r["sub"], r["code"]), [0.0] * 8)[r["dim"]] = r["value"]
        vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
        for qid in (0, 13, 26, 39):
            dists = []
            for i in vecs:
                d = 0.0
                for s in range(2):
                    qs = vecs[qid][s * 8 : (s + 1) * 8]
                    c = np.array(cent_map[(s, code_map[(i, s)])])
                    d += float(np.sum((qs - c) ** 2))
                dists.append((round(d, 6), i))
            dists.sort()
            for rk, (d, i) in enumerate(dists[:5], 1):
                assert got[(qid, i)] == (pytest.approx(d, abs=1e-6), rk)
        # the query's own top-1 is itself (its code reconstruction is nearest)
        assert got[(0, 0)][1] == 1


class TestNegativeSamples:
    def test_matches_python_replay(self, spark):
        from trustfuse_spark.operators.kg import negative_samples

        edges = [(f"e{i}", f"e{(i * 5 + 2) % 23}") for i in range(40)]
        e = spark.createDataFrame(sorted(set(edges)), "src string, dst string")
        got = sorted(
            map(tuple, negative_samples(e, n_buckets=4, portable_hash=True).collect())
        )
        uniq = sorted(set(edges))
        buckets = {}
        for s, t in uniq:
            hm = ((_poly31_py(f"{s}|{t}") + 1) * 2654435761) % M31
            buckets.setdefault(hm % 4, []).append((s, t))
        eset = set(uniq)
        expect = []
        for b, es in buckets.items():
            es.sort()
            for i, (s, t) in enumerate(es):
                neg = es[(i + 1) % len(es)][1]
                expect.append((s, t, b, neg, int((s, neg) in eset)))
        assert got == sorted(expect)

    def test_partition_invariant_and_nondegenerate(self, spark):
        from trustfuse_spark.operators.kg import negative_samples

        edges = [(f"a{i}", f"b{(i * 3) % 41}") for i in range(60)]
        e = spark.createDataFrame(sorted(set(edges)), "src string, dst string")
        r1 = sorted(map(tuple, negative_samples(e, 4, portable_hash=True).collect()))
        r2 = sorted(
            map(
                tuple,
                negative_samples(e.repartition(9), 4, portable_hash=True).collect(),
            )
        )
        assert r1 == r2
        # most corruptions are genuine negatives on this sparse graph
        assert sum(1 for r in r1 if r[4] == 0) > len(r1) // 2


class TestPQVectorized:
    def test_numpy_path_equals_fold_path(self, spark):
        from trustfuse_spark.operators.embeddings import product_quantize

        rows = [
            (i, [float(round(math.sin(i * 7 + d) * 3, 3)) for d in range(16)])
            for i in range(80)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        c_fold, k_fold = product_quantize(df, n_sub=2, sub_dim=8, k=4)
        c_np, k_np = product_quantize(df, n_sub=2, sub_dim=8, k=4, vectorized=True)
        assert sorted(map(tuple, c_fold.collect())) == sorted(
            map(tuple, c_np.collect())
        )
        assert sorted(map(tuple, k_fold.collect())) == sorted(
            map(tuple, k_np.collect())
        )


class TestGroupQuantiles:
    def test_matches_numpy_type7(self, spark):
        import numpy as np

        from trustfuse_spark.operators.stats import group_quantiles

        rows = [(("g%d" % (i % 2)), float((i * 17) % 53) + 0.5) for i in range(101)]
        df = spark.createDataFrame(rows, "g string, x double")
        got = {
            (r["g"], r["prob"]): r["quantile"]
            for r in group_quantiles(df, "g", "x", [0.1, 0.5, 0.9]).collect()
        }
        for g in ("g0", "g1"):
            xs = np.array([x for gg, x in rows if gg == g])
            for p in (0.1, 0.5, 0.9):
                assert got[(g, p)] == pytest.approx(
                    np.quantile(xs, p), abs=1e-9
                ), (g, p)


class TestCohortRetention:
    def test_matches_python_replay(self, spark):
        import datetime

        from trustfuse_spark.operators.temporal import cohort_retention

        base = datetime.datetime(2024, 1, 1)  # a Monday
        rows = []
        for u in range(30):
            first = u % 3  # cohort week 0/1/2
            for w in range(first, 6):
                if (u + w) % 4 != 0:  # some users skip weeks
                    rows.append((u, base + datetime.timedelta(weeks=w, days=u % 5)))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {
            (r["cohort_week"].date(), r["offset_weeks"]): (
                r["n_users"],
                r["retention"],
            )
            for r in cohort_retention(df).collect()
        }
        firsts = {}
        for u, ts in rows:
            wk = (ts - datetime.timedelta(days=ts.weekday())).date()
            firsts[u] = min(firsts.get(u, wk), wk)
        cohorts = {}
        for u, c in firsts.items():
            cohorts.setdefault(c, set()).add(u)
        expect = {}
        seen = set()
        for u, ts in rows:
            wk = (ts - datetime.timedelta(days=ts.weekday())).date()
            key = (firsts[u], (wk - firsts[u]).days // 7, u)
            if key in seen:
                continue
            seen.add(key)
            k2 = key[:2]
            expect[k2] = expect.get(k2, 0) + 1
        assert set(got) == set(expect)
        for k, n in expect.items():
            frac = round(n / len(cohorts[k[0]]), 6)
            assert got[k] == (n, pytest.approx(frac, abs=1e-9)), k
        assert all(got[k][1] == 1.0 for k in got if k[1] == 0)


class TestZOrder:
    def test_zvalue_matches_python_interleave(self, spark):
        from trustfuse_spark.operators.zorder import z_value

        df = spark.createDataFrame(
            [(i, (i * 7) % 300) for i in range(200)], "a long, b long"
        )
        got = {
            (r["a"], r["b"]): r["z"]
            for r in df.select("a", "b", z_value(F.col("a"), F.col("b"), 10).alias("z")).collect()
        }

        def interleave(a, b, bits=10):
            z = 0
            for i in range(bits):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        assert all(got[(a, b)] == interleave(a, b) for (a, b) in got)


class TestGroupedHLL:
    def test_per_group_equals_per_filter(self, spark):
        rows = [
            (i, ("en" if i % 3 else "de"),
             " ".join(f"t{(i * 7 + j) % 151}" for j in range(10)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        grouped = hyperloglog(df, m=32, portable_hash=True, group_cols=["lang"])
        est = {
            r["lang"]: (r["n_zero"], r["estimate"])
            for r in hll_estimate(grouped, 32, group_cols=["lang"]).collect()
        }
        for lang in ("en", "de"):
            solo = hyperloglog(
                df.filter(F.col("lang") == lang), m=32, portable_hash=True
            )
            want = hll_estimate(solo, 32).collect()[0]
            assert est[lang] == (want["n_zero"], want["estimate"]), lang


class TestInverseFunctional:
    def test_flags_shared_identifiers(self, spark):
        from trustfuse_spark.operators.kg import inverse_functional_violations

        triples = spark.createDataFrame(
            [
                ("e1", "isbn", "111"), ("e2", "isbn", "111"),  # conflict
                ("e3", "isbn", "222"),                          # clean
                ("e1", "label", "x"), ("e2", "label", "x"),     # non-IFP
            ],
            "subj string, pred_canon string, obj string",
        )
        out = {
            (r["subj"], r["pred_canon"], r["obj"]): (
                r["n_subjects"], r["v_inv_functional"]
            )
            for r in inverse_functional_violations(
                triples, ["isbn"]
            ).collect()
        }
        assert out[("e1", "isbn", "111")] == (2, 1)
        assert out[("e2", "isbn", "111")] == (2, 1)
        assert out[("e3", "isbn", "222")] == (1, 0)
        assert out[("e1", "label", "x")] == (-1, 0)


class TestPQBlocking:
    def test_pairs_match_python_replay_and_rank_by_similarity(self, spark):
        import numpy as np

        from trustfuse_spark.operators.embeddings import (
            pq_candidate_pairs,
            product_quantize,
        )

        # two tight clusters + scattered noise
        rows = []
        for i in range(60):
            if i < 20:
                base = [1.0, 2.0] * 8
            elif i < 40:
                base = [-2.0, 1.0] * 8
            else:
                base = [math.sin(i * 13 + d) * 5 for d in range(16)]
            rows.append(
                (i, [float(round(b + (i % 7) * 0.01, 3)) for b in base])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        codes, _ = product_quantize(df, n_sub=2, sub_dim=8, k=8)
        got = {
            (r["id_a"], r["id_b"]): (r["n_shared"], r["cosine"])
            for r in pq_candidate_pairs(
                codes, df, n_sub=2, min_shared=2, max_bucket=1000
            ).collect()
        }
        # replay from the codes themselves
        cm = {}
        for r in codes.collect():
            cm.setdefault(r["id"], {})[r["sub"]] = r["code"]
        expect = set()
        for x in range(60):
            for y in range(x + 1, 60):
                n = sum(1 for s in range(2) if cm[x][s] == cm[y][s])
                if n >= 2:
                    expect.add((x, y))
        assert set(got) == expect
        assert expect  # the clusters guarantee candidates exist
        # verified cosines match numpy
        vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
        for (x, y), (_, cos) in got.items():
            want = float(
                vecs[x] @ vecs[y]
                / (np.linalg.norm(vecs[x]) * np.linalg.norm(vecs[y]))
            )
            assert cos == pytest.approx(want, abs=1e-9)


class TestSampleTiers:
    def test_nesting_and_rates(self, spark):
        from trustfuse_spark.operators.curation import sample_tiers

        df = spark.createDataFrame(
            [(i,) for i in range(4000)], "doc_id long"
        )
        out = sample_tiers(df, [0.5, 0.1, 0.25], salt=2)
        rows = {r["doc_id"]: r["tier"] for r in out.collect()}
        t10 = {i for i, t in rows.items() if t == 0.1}
        t25 = {i for i, t in rows.items() if t in (0.1, 0.25)}
        t50 = {i for i, t in rows.items() if t in (0.1, 0.25, 0.5)}
        assert t10 < t25 < t50  # strict nesting
        # tier sizes track the rates (hash-uniform within ~25%)
        assert abs(len(t10) / 4000 - 0.1) < 0.025
        assert abs(len(t25) / 4000 - 0.25) < 0.04
        assert abs(len(t50) / 4000 - 0.5) < 0.05
        # determinism across partitionings
        out2 = {
            r["doc_id"]: r["tier"]
            for r in sample_tiers(df.repartition(7), [0.5, 0.1, 0.25], salt=2).collect()
        }
        assert rows == out2


class TestWinsorize:
    def test_clips_to_group_quantiles(self, spark):
        import numpy as np

        from trustfuse_spark.operators.stats import winsorize

        rows = [("g", float(v)) for v in range(100)] + [("g", 1e6), ("g", -1e6)]
        df = spark.createDataFrame(rows, "g string, x double")
        out = winsorize(df, "g", "x", lo=0.05, hi=0.95).collect()
        xs = np.array([x for _, x in rows])
        lo, hi = np.quantile(xs, 0.05), np.quantile(xs, 0.95)
        for r in out:
            assert lo <= r["x_wins"] <= hi
            assert r["clipped"] == int(r["x"] != r["x_wins"])
        assert sum(r["clipped"] for r in out) >= 2  # the planted outliers


class TestEditDistancePairs:
    def test_complete_recall_vs_bruteforce(self, spark):
        from trustfuse_spark.operators.linking import edit_distance_pairs

        vals = [
            "alpha", "alpga", "alphas", "lpha", "beta", "betta", "bketa",
            "gamma", "gamna", "x", "xy", "y",
        ]
        df = spark.createDataFrame([(v,) for v in vals], "w string")
        got = sorted(
            (r["val_a"], r["val_b"])
            for r in edit_distance_pairs(df, "w").collect()
        )

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        expect = sorted(
            {
                tuple(sorted((x, y)))
                for i, x in enumerate(vals)
                for y in vals[i + 1 :]
                if lev(x, y) == 1
            }
        )
        assert got == expect


class TestSaltedJoin:
    def test_identical_to_plain_join(self, spark):
        from trustfuse_spark.operators.skew import salted_join

        big = spark.createDataFrame(
            [(i % 3, i) for i in range(500)] + [(99, 0)], "k long, v long"
        )
        small = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c"), (7, "z")], "k long, name string"
        )
        for how in ("inner", "left"):
            got = sorted(
                map(tuple, salted_join(big, small, "k", n_salts=4, how=how).collect())
            )
            want = sorted(map(tuple, big.join(small, "k", how).collect()))
            assert got == want, how
