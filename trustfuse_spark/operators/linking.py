"""Entity linking + canonicalization (SURVEY §7.1 stages S2-S3).

The reference's entities arrive pre-canonicalized by Wikidata QIDs
(dataset.py:351-360); its closest machinery is the LMDB qid->label lookup
(generate_conflicting_dataset.py:47-73 — a broadcast dim join here). The
north_star requires the general pipeline: noisy mention surfaces ->
LSH-blocked candidate pairs -> similarity scorer -> connected components ->
canonical entity id.

  candidate_links : MinHash-LSH blocking over surface shingles + Jaro
                    verification
  canonicalize    : connected components over accepted links; canonical id =
                    the lexicographically smallest surface in the component
  link_dictionary : broadcast dim join mention->known entity id (the
                    reference's QID path) with exact-match fast path

candidate_links has two paths. Spark computes the surfaces' MinHash
signatures on both, so every hash is the same, and materializes them once;
a bounded-prefix probe, ``limit(LOCAL_MAX_SURFACES + 1)`` brought to the
driver, picks the path.

  local       (at most LOCAL_MAX_SURFACES surfaces): band keys, the
              MAX_BUCKET cut, the id_a < id_b pairs and the Jaro scores are
              computed on the driver with numpy/pandas and ``jaro_py``
  distributed (above the bound): ``lsh_candidate_pairs`` and the Jaro
              pandas UDF, one Arrow batch per task

Both give the same links with the same scores. The bound is where the
driver's single-threaded Jaro pass stops paying for the Spark jobs it
saves. Measured with datagen-style noisy surfaces (about 1.7 per entity,
min_jaro 0.9, 4 vCPUs, 16 GB), local vs distributed wall time: 17k
surfaces 6.8 vs 11.9 s, 102k 20.9 vs 27.6 s, 204k 51.5 vs 57.9 s, 408k
121.7 vs 104.9 s. At 102k surfaces (384k candidate pairs) cProfile put 90%
of the driver pass in Jaro, and the Python driver peaked at 190 MB,
427 MB, 783 MB and 1.5 GB. Surface sets past 200k, i.e. entity linking past roughly 120k
noisy entities, take the distributed path.

canonicalize gets the same split from ``connected_components``
(operators/cc.py), whose local result is joined as a broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trustfuse_spark.functions.similarity import jaro_py, jaro_udf
from trustfuse_spark.operators.cc import connected_components
from trustfuse_spark.operators.dedup import (
    bucket_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from trustfuse_spark.operators.fusion.base import checkpoint, release

# Largest surface set blocked and verified on the driver: the local path won
# at 204k surfaces (51.5 vs 57.9 s) and lost at 408k (121.7 vs 104.9 s).
LOCAL_MAX_SURFACES = 200_000

# lsh_candidate_pairs' default: larger band buckets are dropped on both paths.
MAX_BUCKET = 1000


def _local_links(
    sig: pd.DataFrame, bands: int, rows_per_band: int, min_jaro: float
) -> pd.DataFrame:
    """The distributed blocking and verification in one driver pass:
    surfaces whose signatures agree on a whole band slice are candidates,
    band buckets of more than MAX_BUCKET surfaces are dropped, and each
    distinct (id_a < id_b) pair is kept when its Jaro score >= min_jaro."""
    sig = sig.sort_values("id", ignore_index=True)  # row order = string order
    ids = sig["id"].to_numpy()
    mat = np.stack(sig["sig"].to_numpy()) if len(sig) else np.empty((0, bands * rows_per_band))
    banded = []
    for b in range(bands):
        _, bucket = np.unique(
            mat[:, b * rows_per_band : (b + 1) * rows_per_band], axis=0, return_inverse=True
        )
        bucket = bucket.reshape(-1)
        keep = np.bincount(bucket)[bucket] <= MAX_BUCKET
        banded.append(
            pd.DataFrame({"band": b, "bucket": bucket[keep], "row": np.flatnonzero(keep)})
        )
    banded = pd.concat(banded, ignore_index=True)
    pairs = banded.merge(banded, on=["band", "bucket"])
    pairs = pairs.loc[pairs["row_x"] < pairs["row_y"], ["row_x", "row_y"]].drop_duplicates()
    a, b = ids[pairs["row_x"].to_numpy()], ids[pairs["row_y"].to_numpy()]
    score = np.array([jaro_py(x, y) for x, y in zip(a, b)], dtype="float64")
    keep = score >= min_jaro
    return pd.DataFrame({"surface_a": a[keep], "surface_b": b[keep], "score": score[keep]})


def candidate_links(
    mentions: DataFrame,
    surface_col: str = "surface",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaro: float = 0.85,
) -> DataFrame:
    """Distinct surfaces -> scored candidate pairs (surface_a, surface_b,
    score) with score = Jaro similarity >= min_jaro.

    Spark computes the MinHash signatures on both paths. Up to
    ``LOCAL_MAX_SURFACES`` signatures are banded, paired and Jaro-scored on
    the driver; more run ``lsh_candidate_pairs`` and the Jaro pandas UDF.
    """
    surfaces = (
        mentions.select(F.col(surface_col).alias("id"))
        .distinct()
        .withColumn("__txt", F.col("id"))
    )
    # fan_out=False: surfaces sit behind a distinct() shuffle, so the
    # partitioning is already AQE-sized and the _fan_out probe would
    # materialize the upstream stages at plan-build time (dedup.shingles).
    # distinct=False: min over the shingle multiset == min over the set.
    sh = shingles(surfaces, "id", "__txt", n, distinct=False, fan_out=False)
    sig = checkpoint(minhash_signatures(sh, num_hashes))
    rows_per_band = num_hashes // bands
    head = sig.limit(LOCAL_MAX_SURFACES + 1).toPandas()
    if len(head) <= LOCAL_MAX_SURFACES:
        release(sig)  # the driver has every row it needs
        id_type = sig.schema["id"].dataType
        return sig.sparkSession.createDataFrame(
            _local_links(head, bands, rows_per_band, min_jaro),
            T.StructType(
                [
                    T.StructField("surface_a", id_type),
                    T.StructField("surface_b", id_type),
                    T.StructField("score", T.DoubleType()),
                ]
            ),
        )
    pairs = lsh_candidate_pairs(sig, bands, rows_per_band, MAX_BUCKET)
    scored = pairs.withColumn("score", jaro_udf(F.col("id_a"), F.col("id_b")))
    return scored.filter(F.col("score") >= min_jaro).select(
        F.col("id_a").alias("surface_a"),
        F.col("id_b").alias("surface_b"),
        "score",
    )


def canonicalize(
    mentions: DataFrame,
    links: DataFrame,
    surface_col: str = "surface",
) -> DataFrame:
    """Attach canonical_id to every mention row.

    Components over surface-similarity links; canonical id = smallest
    surface string of the component (hash to longs first at scale; strings
    keep the test surface readable). Link graphs within
    ``cc.LOCAL_MAX_EDGES`` come back from the driver marked for broadcast,
    so the mentions are not shuffled for this join."""
    comp = connected_components(links, src="surface_a", dst="surface_b").select(F.col("node").alias(surface_col), F.col("component").alias("canonical_id"))
    return mentions.join(comp, surface_col, "left").withColumn(
        "canonical_id", F.coalesce("canonical_id", F.col(surface_col))
    )


def link_dictionary(
    mentions: DataFrame,
    dictionary: DataFrame,
    surface_col: str = "surface",
    dict_surface: str = "label",
    dict_id: str = "qid",
) -> DataFrame:
    """Exact-surface dictionary linking (the reference's qid->label dim,
    broadcast): mention surface -> known entity id, null when unknown."""
    dim = F.broadcast(
        dictionary.select(
            F.col(dict_surface).alias(surface_col), F.col(dict_id).alias("linked_id")
        ).dropDuplicates([dict_surface] if dict_surface == surface_col else [surface_col])
    )
    return mentions.join(dim, surface_col, "left")


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_len: int = 24,
) -> DataFrame:
    """All DISTINCT value pairs at Levenshtein distance exactly 1 (the
    surface-form typo/variant join entity linking blocks on), via
    FastSS/SymSpell deletion-neighborhood blocking: every value emits its
    single-character-deletion variants PLUS itself; any distance-1 pair —
    substitution (both delete position i), insertion/deletion (the longer's
    variant equals the shorter itself) — collides on a variant, so recall
    is complete BY CONSTRUCTION, and the exact `levenshtein` verify runs on
    candidates only. No similarity-join cartesian anywhere.

    Scale shape: the variant explode is map-side (len+1 rows per value,
    bounded by ``max_len`` — longer values are dropped, documented); the
    candidate join shuffles on the variant string; the verify + distinct
    are candidate-sized. Returns (val_a, val_b, dist=1), val_a < val_b.
    """
    vals = (
        df.select(F.col(col).alias("id"))
        .filter(F.length("id").between(1, max_len))
        .distinct()
    )
    variants = vals.select(
        "id",
        F.explode(
            F.array_union(
                F.transform(
                    F.sequence(F.lit(1), F.length("id")),
                    lambda i: F.concat(
                        F.col("id").substr(F.lit(1), i - 1),
                        F.col("id").substr(i + 1, F.lit(1000)),
                    ),
                ),
                F.array(F.col("id")),
            )
        ).alias("variant"),
    )
    cand = (
        bucket_pairs(variants, ["variant"], None)
        .select(F.col("id_a").alias("val_a"), F.col("id_b").alias("val_b"))
        .distinct()
    )
    return cand.filter(F.levenshtein("val_a", "val_b") == 1).withColumn(
        "dist", F.lit(1).cast("long")
    )
