"""Join-based evaluation: P/R/Acc/F1/completion-rate per (bucket, attr).

Reimplements the reference's set-algebra metrics (evaluation.py:121-349):
per (bucket, attr), over deduplicated (entity, value) pairs restricted to
GT entities:

    TP = |gt ∩ it|          FP = |it - gt|
    TN = |(claims - gt) - it|   FN = |(claims - it) ∩ gt|
    precision = 1 when FP == 0 (reference compute_precision — NOT NaN)
    recall    = TP/(TP+FN) or 0;  acc = (TP+TN)/total or 0
    f1        = 2pr/(p+r) or 0;  c_rate = |it ∩ gt| / |gt|

Everything is inner/anti joins + one grouped agg — no driver-side sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import cache

GROUP = ["bucket_id", "attr"]
PAIR = ["bucket_id", "attr", "entity", "value"]


def _pairs(df: DataFrame, value_col: str = "value_str") -> DataFrame:
    return df.select(
        "bucket_id", "attr", "entity", F.col(value_col).alias("value")
    ).dropDuplicates(PAIR)


def evaluate(
    truth: DataFrame, gt: DataFrame, claims: DataFrame
) -> DataFrame:
    """Metrics per (bucket_id, attr).

    truth: fused output (bucket_id, entity, attr, value_str)
    gt: (bucket_id, entity, attr, gt_values:array<string>)
    claims: post-preprocess claims (for the TN/FN universe, the reference's
        data_pp — evaluation.py:191-196 restricts everything to GT entities).
    """
    gt_pairs = cache(
        _pairs(gt.select("bucket_id", "entity", "attr", F.explode("gt_values").alias("value_str")))
    )
    gt_entities = gt_pairs.select("bucket_id", "entity").distinct()

    it_pairs = cache(_pairs(truth).join(gt_entities, ["bucket_id", "entity"], "left_semi"))
    dpp_pairs = cache(_pairs(claims).join(gt_entities, ["bucket_id", "entity"], "left_semi"))

    tp = it_pairs.join(gt_pairs, PAIR, "inner").groupBy(GROUP).agg(F.count("*").alias("tp"))
    fp = it_pairs.join(gt_pairs, PAIR, "left_anti").groupBy(GROUP).agg(F.count("*").alias("fp"))
    tn = (
        dpp_pairs.join(gt_pairs, PAIR, "left_anti")
        .join(it_pairs, PAIR, "left_anti")
        .groupBy(GROUP)
        .agg(F.count("*").alias("tn"))
    )
    fn = (
        dpp_pairs.join(it_pairs, PAIR, "left_anti")
        .join(gt_pairs, PAIR, "left_semi")
        .groupBy(GROUP)
        .agg(F.count("*").alias("fn"))
    )
    gt_n = gt_pairs.groupBy(GROUP).agg(F.count("*").alias("gt_n"))

    m = (
        gt_n.join(tp, GROUP, "left")
        .join(fp, GROUP, "left")
        .join(tn, GROUP, "left")
        .join(fn, GROUP, "left")
        .fillna(0, subset=["tp", "fp", "tn", "fn"])
    )
    return _scores(m).withColumn("c_rate", F.col("tp") / F.col("gt_n"))


def _scores(counts: DataFrame) -> DataFrame:
    """``counts`` with P/R/Acc/F1 (p, r, acc, f1) from its TP/FP/TN/FN."""
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    p = F.when(fp == 0, F.lit(1.0)).otherwise(tp / (tp + fp))
    r = F.when((tp + fn) > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    tot = tp + fp + tn + fn
    acc = F.when(tot > 0, (tp + tn) / tot).otherwise(F.lit(0.0))
    out = counts.withColumn("p", p).withColumn("r", r).withColumn("acc", acc)
    f1 = F.when(
        (F.col("p") + F.col("r")) > 0,
        2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("f1", f1)


def overall(metrics_by_attr: DataFrame) -> DataFrame:
    """Micro-averaged overall P/R/Acc/F1 from the per-attr TP/FP/TN/FN."""
    return _scores(metrics_by_attr.agg(*[F.sum(c).alias(c) for c in ("tp", "fp", "tn", "fn")]))


def specificity(
    truth: DataFrame, gt: DataFrame, partial_orders: DataFrame, mode: str = "negative"
) -> DataFrame:
    """Average hierarchical (specificity) score per (bucket, attr) against a
    partial-order dim table (attr, value, coeff) — reference
    get_specificity_value (evaluation.py:24-58): correct values contribute
    their DAG coeff; in 'negative' mode each wrong value contributes -1;
    averaged over the count of coeff-bearing correct values.
    """
    gt_pairs = _pairs(
        gt.select("bucket_id", "entity", "attr", F.explode("gt_values").alias("value_str"))
    )
    it_pairs = _pairs(truth)
    correct = it_pairs.join(gt_pairs, PAIR, "left_semi")
    wrong = it_pairs.join(gt_pairs, PAIR, "left_anti")
    po = F.broadcast(partial_orders.select("attr", F.col("value"), "coeff"))
    scored = correct.join(po, ["attr", "value"], "inner")
    pos = scored.groupBy(GROUP).agg(
        F.sum("coeff").alias("coeff_sum"), F.count("*").alias("n_ordered")
    )
    if mode == "negative":
        neg = wrong.groupBy(GROUP).agg(F.count("*").alias("n_wrong"))
        pos = pos.join(neg, GROUP, "left").fillna(0, subset=["n_wrong"])
        val = (F.col("coeff_sum") - F.col("n_wrong")) / F.col("n_ordered")
    else:
        val = F.col("coeff_sum") / F.col("n_ordered")
    return pos.select(*GROUP, val.alias("specificity"), "n_ordered")


def mnad(truth: DataFrame, gt: DataFrame) -> DataFrame:
    """Mean normalized absolute deviation for numeric attrs: per (bucket,
    attr), mean |truth - gt| over entities present in both, normalized by
    std_pop(gt).

    DELIBERATE DIVERGENCE from the reference (compute_mnad,
    evaluation.py:374-381): the reference compares every GT value against
    only the FIRST fused value (ts[0]) and normalizes by var(|gt - ts[0]|)
    — an aggregate of one attr's first row, not a per-entity deviation. We
    align truth to GT per entity and normalize by the GT population std,
    which is the metric the reference's docstring describes. Pinned here
    like the other documented divergences (SURVEY §7.4)."""
    g = gt.filter(F.col("gt_num").isNotNull()).select(
        "bucket_id", "entity", "attr", "gt_num"
    )
    t = truth.filter(F.col("value_num").isNotNull()).select(
        "bucket_id", "entity", "attr", "value_num"
    )
    j = t.join(g, ["bucket_id", "entity", "attr"], "inner")
    return (
        j.groupBy(GROUP)
        .agg(
            (
                F.avg(F.abs(F.col("value_num") - F.col("gt_num")))
                / F.greatest(F.stddev_pop("gt_num"), F.lit(1e-12))
            ).alias("mnad")
        )
    )
