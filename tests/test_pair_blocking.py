"""The pair blocker's shed rule and the zero-norm cosine rule, across every
operator that blocks pairs in buckets (dedup.bucket_pairs) or scores them
with a cosine (ann.cosine and its vectorized twin ann._cosine_ltr)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from trustfuse_spark.operators.ann import brute_force_topk, ivf_topk
from trustfuse_spark.operators.dedup import (
    embedding_near_dups,
    lsh_candidate_pairs,
    semantic_dedup,
    simhash_near_dups,
)
from trustfuse_spark.operators.embeddings import pq_candidate_pairs, product_quantize

DIM = 8
ZERO_IDS = {100, 101}


def _vectors(spark):
    """20 seeded vectors, near-copies of the first 5, and two zero vectors,
    so the zero vectors share every bucket and cell with each other."""
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(20)]
    rows += [(50 + i, [x + 0.01 for x in v]) for i, v in rows[:5]]
    rows += [(i, [0.0] * DIM) for i in sorted(ZERO_IDS)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _brute(df):
    return brute_force_topk(df, df, k=30).select(
        F.col("qid").alias("a"), F.col("cid").alias("b"), "cosine"
    )


def _ivf(df):
    return ivf_topk(df, df, k=30, ncells=2, nprobe=2).select(
        F.col("qid").alias("a"), F.col("cid").alias("b"), "cosine"
    )


def _embedding(df):
    return embedding_near_dups(df, "vec_id", "embedding", threshold=-1.0).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"), "cosine"
    )


def _pq(df):
    codes, _ = product_quantize(df, n_sub=2, sub_dim=4, k=4)
    return pq_candidate_pairs(codes, df, n_sub=2, min_shared=1).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"), "cosine"
    )


def _semantic(df):
    return semantic_dedup(
        df, "vec_id", "embedding", threshold=-1.0, cell_expr=F.lit(0)
    ).select(F.col("id").alias("a"), F.col("keeper").alias("b"), "cosine")


@pytest.mark.parametrize(
    "op", [_brute, _ivf, _embedding, _pq, _semantic],
    ids=["brute_force_topk", "ivf_topk", "embedding_near_dups", "pq_candidate_pairs",
         "semantic_dedup"],
)
def test_zero_vector_cosine_is_null(spark, op):
    """A zero vector has no direction: every cosine it takes part in is NULL
    (or its pair is filtered out), and the call does not fail. Spark 4 runs
    in ANSI mode, where a plain division by the zero norm raises
    DIVIDE_BY_ZERO. Rows are collected, not counted: count() prunes the
    cosine column and never evaluates it. The top-k searches rank scored
    pairs only, so a zero-vector query or candidate gives them no row."""
    rows = op(_vectors(spark)).collect()
    zero = [r for r in rows if r["a"] in ZERO_IDS or r["b"] in ZERO_IDS]
    assert all(r["cosine"] is None for r in zero)
    if op in (_brute, _ivf):
        assert not zero
    others = [r["cosine"] for r in rows if r["a"] not in ZERO_IDS and r["b"] not in ZERO_IDS]
    assert others and all(c is not None and -1 - 1e-9 <= c <= 1 + 1e-9 for c in others)


M = 3  # rows in the one bucket each input builds


def _lsh_bucket(spark, cap):
    sig = spark.createDataFrame([(i, [7, 9]) for i in range(M)], "id long, sig array<long>")
    return lsh_candidate_pairs(sig, bands=1, rows_per_band=2, max_bucket=cap)


def _simhash_bucket(spark, cap):
    docs = spark.createDataFrame(
        [(i, "one and the same text") for i in range(M)], "doc_id long, text string"
    )
    return simhash_near_dups(docs, "doc_id", "text", max_bucket=cap)


def _same_vectors(spark):
    return spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(M)], "vec_id long, embedding array<double>"
    )


def _semantic_bucket(spark, cap):
    return semantic_dedup(
        _same_vectors(spark), "vec_id", "embedding", threshold=0.9,
        cell_expr=F.lit(0), max_cell=cap,
    )


def _pq_bucket(spark, cap):
    codes = spark.createDataFrame([(i, 0, 5) for i in range(M)], "id long, sub int, code long")
    return pq_candidate_pairs(
        codes, _same_vectors(spark), n_sub=1, min_shared=1, max_bucket=cap
    )


@pytest.mark.parametrize(
    "blocker,rows_at_cap",
    [
        (_lsh_bucket, math.comb(M, 2)),
        (_simhash_bucket, math.comb(M, 2)),
        (_semantic_bucket, M - 1),  # one drop edge per non-keeper
        (_pq_bucket, math.comb(M, 2)),
    ],
    ids=["lsh_candidate_pairs", "simhash_near_dups", "semantic_dedup", "pq_candidate_pairs"],
)
def test_bucket_of_max_members_pairs_and_one_more_is_shed(spark, blocker, rows_at_cap):
    """One bucket of M members: a cap of M keeps it whole, a cap of M - 1
    sheds it, so nothing pairs."""
    assert blocker(spark, M).count() == rows_at_cap
    assert blocker(spark, M - 1).count() == 0
