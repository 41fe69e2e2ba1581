"""Distributed embedding statistics: mean/covariance moments, and product
quantization with its ADC scan and candidate blocking.

SemDeDup-style semantic pipelines (dedup.semantic_dedup, ann.py IVF) get
materially better cells from decorrelated, variance-ordered coordinates;
PCA is also the standard dimensionality-reduction step before ANN indexing
at 10^12-vector scale. Its corpus-scale half is the moments:

- **Moments**: E[x], E[x x^T] via per-partition numpy partials inside
  ``mapInPandas`` — each Arrow batch contributes ONE (d + d^2 + 1)-value
  partial (vector sum, flattened outer-product sum, count) regardless of
  batch size, and the partials hash-agg (map-side combined) down to
  d^2 + d + 1 cells. The corpus is read once; nothing per-row ever
  shuffles.
- **Eigendecomposition** is the caller's: the covariance is a d x d
  matrix — fixed-size, data-independent — so ``numpy.linalg.eigh`` on the
  collected moments is the documented convergence-scalar convention (the
  same boundary the fusion loops and IVF centroids use).

Float contract: float32 inputs are widened to float64 BEFORE any product
on both the engine and the oracle side; moment values are rounded to 6 dp
only at the gate surface.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from trustfuse_spark.operators.ann import _cell_expr, _sqdist, cosine, subspaces
from trustfuse_spark.operators.dedup import bucket_pairs

_MOM_SCHEMA = StructType(
    [
        StructField("i", LongType()),
        StructField("j", LongType()),
        StructField("s", DoubleType()),
    ]
)


def embedding_moments(embs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Mean vector and population covariance of an ``array<float>`` column,
    in long form: rows ``(i, -1, mean_i)``, ``(i, j, cov_ij)`` for all
    0 <= i, j < d (cov_ij = E[x_i x_j] - mean_i * mean_j, divide-by-N), and
    one ``(-1, -1, N)`` count row.

    Each input partition emits one partial of d + d^2 + 1 cells however
    many rows it holds; the only shuffle is the (i, j)-keyed hash agg over
    those partials. Means broadcast back onto the summed outer products to
    finish the covariance — no second corpus pass.
    """

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = V.shape[1]
            sums = V.sum(axis=0)
            outer = V.T @ V
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                    "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                    "s": np.concatenate([outer.ravel(), sums, [float(len(pdf))]]),
                }
            )

    sums = (
        embs.select(vec_col)
        .mapInPandas(_partials, _MOM_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    n = sums.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    mean = (
        sums.filter((F.col("j") == -1) & (F.col("i") >= 0))
        .crossJoin(F.broadcast(n))
        .select("i", F.lit(-1).cast("long").alias("j"), (F.col("s") / F.col("n")).alias("value"))
    )
    mu_i = mean.select(F.col("i"), F.col("value").alias("mu_i"))
    mu_j = mean.select(F.col("i").alias("j"), F.col("value").alias("mu_j"))
    cov = (
        sums.filter(F.col("j") >= 0)
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(mu_i), "i")
        .join(F.broadcast(mu_j), "j")
        .select(
            "i",
            "j",
            (F.col("s") / F.col("n") - F.col("mu_i") * F.col("mu_j")).alias("value"),
        )
    )
    cnt = n.select(
        F.lit(-1).cast("long").alias("i"),
        F.lit(-1).cast("long").alias("j"),
        F.col("n").alias("value"),
    )
    return cnt.unionByName(mean).unionByName(cov)


def product_quantize(
    embs: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_rounds: int = 1,
    vectorized: bool = False,
):
    """Product quantization (Jégou et al. 2011): split each vector into
    ``n_sub`` contiguous ``sub_dim``-dim slices, learn a ``k``-centroid
    codebook per subspace, and encode every vector as ``n_sub`` small codes
    — 64 float32 dims compress to 4 bytes/vector, the storage/IO step that
    makes billion-vector ANN shardable (ADC scan consumes the codes).

    Deterministic, SQL-replayable training (the IVF centroid-literal
    convention, but here the TRAINING replays too because PQ output depends
    on the codebook): init centroid j of each subspace = the slice of the
    j-th LOWEST id (a bounded driver collect, k rows); each Lloyd round
    assigns all vectors to their nearest centroid with a SEQUENTIAL
    left-to-right fold over the squared-diff zip (bit-identical to a SQL
    list_reduce replay — no sum-reorder noise in the argmin), then
    recomputes centroids as per-dim means ROUNDED to 6 dp (the rounding
    pins the only order-dependent float sum, so the next assignment is
    again bit-deterministic); empty clusters keep their previous centroid.
    Assignment ties break to the lowest centroid id (first position of the
    list min).

    Scale shape: per round ONE map-side assignment pass (centroids are plan
    literals — zero joins) + ONE map-side-combined (sub, code, dim) avg agg
    of bounded output (n_sub*k*sub_dim cells); the collect is the bounded
    codebook, convergence-scalar convention. float32 widens to double
    BEFORE any arithmetic (the `embedding_moments` contract).

    ``vectorized=True`` swaps the assignment pass for one numpy
    ``||V||^2 - 2 V C^T + ||C||^2`` argmin per Arrow batch (the
    embedding-sketch convention — corpus runs should use it; the
    expression-fold path exists so the sf0.01 driver gate replays
    bit-for-bit in SQL). Both paths produce identical codes away from
    exact distance ties (pytest-pinned on fixtures); numpy's argmin and
    the fold's array_position both break exact ties to the lowest code.

    Returns (codes, centroids): codes = (id, sub, code); centroids =
    (sub, code, dim, value) with the final rounded codebook.
    """
    slices = embs.select(F.col(id_col).alias("id"), subspaces(vec_col, n_sub, sub_dim))

    # init: slices of the k lowest ids, centroid j = j-th lowest (bounded)
    init_rows = (
        slices.join(
            F.broadcast(
                embs.select(F.col(id_col).alias("id")).orderBy("id").limit(k)
            ),
            "id",
        )
        # round with F.round (HALF_UP — the engine/oracle convention), not
        # Python round (half-even): the codebook must replay in SQL exactly
        .select("id", "sub", F.transform("v", lambda x: F.round(x, 6)).alias("v"))
        .collect()
    )
    low_ids = sorted({r["id"] for r in init_rows})
    cent = {
        (r["sub"], low_ids.index(r["id"])): list(r["v"]) for r in init_rows
    }

    def _assign_np(df):
        cmats = {
            s: np.array([cent[(s, j)] for j in range(k)]) for s in range(n_sub)
        }
        schema = StructType(
            [
                StructField("id", df.schema["id"].dataType),
                StructField("sub", df.schema["sub"].dataType),
                StructField("v", ArrayType(DoubleType())),
                StructField("code", LongType()),
            ]
        )

        def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                codes_out = np.empty(len(pdf), dtype=np.int64)
                subs = pdf["sub"].to_numpy()
                V = np.stack(pdf["v"].to_numpy())
                for s in range(n_sub):
                    msk = subs == s
                    if not msk.any():
                        continue
                    D = ((V[msk][:, None, :] - cmats[s][None, :, :]) ** 2).sum(-1)
                    codes_out[msk] = np.argmin(D, axis=1)
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "sub": pdf["sub"],
                        "v": pdf["v"],
                        "code": codes_out,
                    }
                )

        # v rides through the batch (no join back — the frontier never
        # shuffles); the update agg consumes it directly
        return df.mapInPandas(_fn, schema)

    def _assign_fold(df):
        code_cols = [
            F.when(
                F.col("sub") == s,
                _cell_expr([cent[(s, j)] for j in range(k)], "v").cast("long"),
            )
            for s in range(n_sub)
        ]
        return df.withColumn("code", F.coalesce(*code_cols))

    _assign = _assign_np if vectorized else _assign_fold
    for _ in range(lloyd_rounds):
        assigned = _assign(slices)
        upd = (
            assigned.select("sub", "code", F.posexplode("v").alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            .agg(F.round(F.avg("x"), 6).alias("val"))
            .collect()
        )
        newc = {}
        for r in upd:
            newc.setdefault((r["sub"], r["code"]), [None] * sub_dim)[r["dim"]] = r[
                "val"
            ]
        for key in cent:
            if key in newc:
                cent[key] = newc[key]

    codes = _assign(slices).select("id", "sub", "code")
    # embs.sparkSession, not getActiveSession(): the active session is
    # thread-local and callers may build PQ from a worker thread (the
    # ann_suite constructs its independent legs concurrently — guide §2.6)
    spark = embs.sparkSession
    centroids = spark.createDataFrame(
        [
            (s, j, d, cent[(s, j)][d])
            for (s, j) in sorted(cent)
            for d in range(sub_dim)
        ],
        "sub int, code int, dim int, value double",
    )
    return codes, centroids


def pq_adc_topk(
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k_top: int = 10,
    n_sub: int = 4,
    sub_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation over `product_quantize` output: each
    query precomputes its distance to every codebook centroid (a
    |queries| x n_sub*k table), and a vector's approximate squared L2
    distance is the SUM over subspaces of the table entry its code points
    at — the scan that reads 4 bytes/vector instead of 256 and never
    touches the raw embeddings (Jégou et al. 2011 §IV).

    Plan shape: the distance table is a broadcast-codebook map-side join on
    the (small) query set; the big codes table then joins the BROADCAST
    table on (sub, code) — map-side, no shuffle of codes on anything but
    the final (qid, id) partial-combined sum agg; top-k per query is a
    window over qids (queries are few by contract). Ranking uses the 6-dp
    ROUNDED distance (ties by id) so the order is engine-portable — the
    4-term float sum's last-ulp noise never decides a rank.

    Returns (qid, id, adist, rank) for the top ``k_top`` per query.
    """
    from pyspark.sql import Window

    qslices = queries.select(F.col(id_col).alias("qid"), subspaces(vec_col, n_sub, sub_dim))
    cent_arr = centroids.groupBy("sub", "code").agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "value"))
        ).alias("dv")
    ).select(
        "sub", "code", F.transform("dv", lambda s: s["value"]).alias("c")
    )
    table = qslices.join(F.broadcast(cent_arr), "sub").select(
        "qid",
        "sub",
        "code",
        _sqdist(F.col("v"), F.col("c")).alias("d"),
    )
    sums = (
        codes.join(F.broadcast(table), ["sub", "code"])
        .groupBy("qid", "id")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("id").asc())
    return (
        sums.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_top)
    )


def pq_candidate_pairs(
    codes: DataFrame,
    embs: DataFrame,
    n_sub: int = 4,
    min_shared: int = 3,
    max_bucket: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic near-duplicate CANDIDATE generation from PQ codes: two
    vectors whose codes agree on >= ``min_shared`` of ``n_sub`` subspaces
    are close in that many 16-dim blocks — a 4-byte-key blocking scheme
    (equality joins on (sub, code)) that replaces hyperplane-LSH banding
    when codes already exist for storage. Candidates are then verified
    with the EXACT cosine from the raw embeddings — candidates only, the
    all-pairs product never materializes (the MinHash/SimHash verify-only
    contract, dedup.py).

    Scale shape: per subspace one self-equi-join INSIDE (sub, code)
    buckets; oversized buckets (a degenerate code every vector shares) are
    shed FIRST via one count agg + broadcast anti-join — the LSH
    `max_bucket` convention, so no quadratic bucket exists; the shared-code
    count is a map-side-combined (id_a, id_b) agg over bucket-pair rows.

    Returns (id_a, id_b, n_shared, cosine), id_a < id_b.
    """
    shared = (
        bucket_pairs(codes, ["sub", "code"], max_bucket)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    v = embs.select(
        F.col(id_col).alias("__vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    va = v.select(F.col("__vid").alias("id_a"), F.col("__v").alias("va"))
    vb = v.select(F.col("__vid").alias("id_b"), F.col("__v").alias("vb"))
    return (
        shared.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
    )
