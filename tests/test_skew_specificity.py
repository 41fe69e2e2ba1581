"""Skew-salting utilities, specificity metric, embedding near-dups."""

import numpy as np
import pyspark.sql.functions as F

from trustfuse_spark.datagen import gen_claims, gen_gt, gen_partial_orders
from trustfuse_spark.operators.dedup import embedding_near_dups
from trustfuse_spark.operators.evaluation import specificity
from trustfuse_spark.operators.fusion.majority import fuse_majority
from trustfuse_spark.operators.skew import salted_agg, salted_count_distinct, salted_mode


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", f"s{i % 7}", float(i % 13)) for i in range(5000)]
        + [("cold", "s0", 1.0)],
        ["entity", "source", "v"],
    )
    plain = {
        r["entity"]: (r["s"], r["c"])
        for r in df.groupBy("entity").agg(F.sum("v").alias("s"), F.count("*").alias("c")).collect()
    }
    salted = salted_agg(
        df,
        ["entity"],
        partial=[F.sum("v").alias("ps"), F.count("*").alias("pc")],
        final=lambda g: g.agg(F.sum("ps").alias("s"), F.sum("pc").alias("c")),
        salt_source="source",
    )
    got = {r["entity"]: (r["s"], r["c"]) for r in salted.collect()}
    assert got == plain

    cd = {r["entity"]: r["n_v"] for r in salted_count_distinct(df, ["entity"], "v").collect()}
    want = {
        r["entity"]: r["n"]
        for r in df.groupBy("entity").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert cd == want

    sm = {r["entity"]: r["v"] for r in salted_mode(df, ["entity"], "v").collect()}
    assert sm["cold"] == 1.0
    # hot entity: i%13 values over 5000 rows; modes are the small residues
    assert sm["hot"] == 0.0


def test_specificity_metric(spark):
    claims = gen_claims(spark, 50, 10, 2)
    gt = gen_gt(spark, 50)
    fact_buckets = claims.select("bucket_id", "entity", "attr").distinct()
    gt_b = gt.join(fact_buckets, ["entity", "attr"]).withColumn(
        "gt_values", F.transform("gt_values", lambda x: F.trim(x))
    )
    po = gen_partial_orders(spark, 50)
    assert po.count() > 0
    res = fuse_majority(claims)
    spec = specificity(res.truth, gt_b, po, mode="negative")
    rows = spec.collect()
    assert rows, "specificity should cover the planted ordered attrs"
    # planted truths are the mid level (coeff 0.5); correct fusions score 0.5
    for r in rows:
        assert r["specificity"] <= 1.0


def test_embedding_near_dups(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(30, 8).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(30)]
    # plant near-dups: 100+i is a tiny perturbation of i for i<3
    for i in range(3):
        rows.append((100 + i, (base[i] + 0.001).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dups(df, "vec_id", "embedding", threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(3):
        assert (i, 100 + i) in got, f"planted near-dup {i} missed"
    # no false accepts among the random vectors
    assert all(b >= 100 for a, b in got)


def test_embedding_near_dups_bruteforce_parity(spark):
    """Banded LSH vs numpy all-pairs cosine on a seeded clustered corpus:
    every reported pair is truly >= threshold (verify stage is exact) and
    recall stays high (deterministic planes -> reproducible)."""
    rng = np.random.RandomState(42)
    centers = rng.randn(6, 16)
    vecs = []
    for ci, c in enumerate(centers):
        for k in range(5):  # 5 noisy copies per center -> near-dup cliques
            vecs.append(c + 0.02 * rng.randn(16))
    arr = np.array(vecs)
    norms = np.linalg.norm(arr, axis=1)
    cos = (arr @ arr.T) / np.outer(norms, norms)
    truth_pairs = {
        (i, j)
        for i in range(len(arr))
        for j in range(i + 1, len(arr))
        if cos[i, j] >= 0.95
    }
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(df, "vec_id", "embedding", threshold=0.95).collect()
    }
    assert got <= truth_pairs, f"false accepts: {got - truth_pairs}"  # exact verify
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.8, f"recall {recall:.3f} over {len(truth_pairs)} true pairs"


def test_embedding_near_dups_bucket_cap(spark):
    """A degenerate hot bucket (many identical vectors) is shed instead of
    going quadratic."""
    rows = [(i, [1.0] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dups(df, "vec_id", "embedding", max_bucket=10)
    assert capped.count() == 0  # all buckets oversized -> shed
    uncapped = embedding_near_dups(df, "vec_id", "embedding", max_bucket=10_000)
    assert uncapped.count() == 50 * 49 // 2

def test_semantic_dedup_numpy_parity(spark):
    """semantic_dedup with the portable axis-sign cells vs a numpy replay
    of the exact SemDeDup rule (within-cell, cosine >= tau, keep smallest
    id, keeper = argmax cosine tie-broken to the smaller id)."""
    from trustfuse_spark.operators.dedup import axis_sign_cells, semantic_dedup

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 8)
    vecs = []
    for c in centers:
        for _ in range(6):
            vecs.append(c + 0.01 * rng.randn(8))
    arr = np.array(vecs)
    n_bits = 3
    cells = [sum((1 << i) for i in range(n_bits) if v[i] > 0) for v in arr]
    norms = np.linalg.norm(arr, axis=1)
    cos = (arr @ arr.T) / np.outer(norms, norms)
    expect = {}
    for i in range(len(arr)):
        cands = [
            (cos[i, j], -j)
            for j in range(i)
            if cells[j] == cells[i] and cos[i, j] >= 0.95
        ]
        if cands:
            c, nj = max(cands)
            expect[i] = (-nj, round(c, 6))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.95,
        cell_expr=axis_sign_cells("embedding", n_bits),
    )
    got = {r["id"]: (r["keeper"], round(r["cosine"], 6)) for r in out.collect()}
    assert got == expect
    assert expect, "test corpus must plant at least one drop edge"


def test_semantic_dedup_null_and_ragged_vectors(spark):
    """A NULL vector or a pair of unequal lengths scores a NULL cosine and is
    dropped by the threshold filter; it does not fail the stage, and the
    well-formed pairs around it still dedup."""
    from trustfuse_spark.operators.dedup import _cosine_ltr, semantic_dedup

    v = [0.5, -1.0, 2.0, 0.25, 1.5, -0.75, 1.0, 3.0]
    rows = [
        (0, v),
        (1, list(v)),  # clone of 0
        (2, None),
        (3, v[:6]),  # ragged against 0, 1 and 5
        (4, v[:6]),  # clone of 3
        (5, [1.0] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "vec_id", "embedding", threshold=0.5, cell_expr=F.lit(0))
    got = {r["id"]: (r["keeper"], round(r["cosine"], 9)) for r in out.collect()}
    assert got == {1: (0, 1.0), 4: (3, 1.0), 5: (0, round(6.5 / np.sqrt(18.125 * 8), 9))}

    a, b = df.alias("a"), df.alias("b")
    pairs = a.crossJoin(b).select(
        F.col("a.vec_id").alias("i"),
        F.col("b.vec_id").alias("j"),
        _cosine_ltr(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    )
    cos = {(r["i"], r["j"]): r["c"] for r in pairs.collect()}
    for (i, j), c in cos.items():
        valid = i != 2 and j != 2 and (i in (3, 4)) == (j in (3, 4))
        assert (c is not None) == valid, (i, j, c)


def test_semantic_dedup_kmeans_path(spark):
    """Production path (trained k-means-lite centroids): every planted
    exact clone is dropped against its original, nothing else is."""
    from trustfuse_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(13)
    base = rng.randn(40, 8)
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(5):  # exact clones -> cosine 1.0 regardless of cell
        rows.append((100 + i, base[i].tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, "vec_id", "embedding", threshold=0.999,
                         ncells=4, kmeans_iters=2)
    got = {(r["id"], r["keeper"]) for r in out.collect()}
    assert got == {(100 + i, i) for i in range(5)}
