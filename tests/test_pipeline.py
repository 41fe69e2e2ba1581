"""End-to-end: docs -> extract -> fuse -> triples -> P/R vs planted GT."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from trustfuse_spark.datagen import gen_docs, gen_gt, gen_source_truth
from trustfuse_spark.operators.evaluation import evaluate, overall
from trustfuse_spark.operators.extract import extract_claims, extract_claims_arrow, spans_roundtrip
from trustfuse_spark.plans.pipeline import docs_to_claims, run_pipeline

E, S, R = 60, 12, 4


@pytest.fixture(scope="module")
def docs(spark):
    return gen_docs(spark, E, S, R).cache()


@pytest.fixture(scope="module")
def gt(spark):
    return gen_gt(spark, E)


def test_span_roundtrip_invariant(spark, docs):
    """Per-row invariant (input_hint): the extraction stage preserves the
    exact (kind, text, media_ref, order) sequence per doc."""
    original = docs.select(
        "doc_id",
        F.expr(
            "transform(spans, (s, i) -> struct(cast(i as int) as span_idx,"
            " s.kind as kind, s.text as text, s.media_ref as media_ref))"
        ).alias("spans_seq"),
    )
    carried = spans_roundtrip(docs).withColumnRenamed("spans_seq", "carried_seq")
    j = original.join(carried, "doc_id")
    assert j.filter(F.col("spans_seq") != F.col("carried_seq")).count() == 0
    assert carried.count() == docs.count()


def test_arrow_extractor_matches_native(spark, docs):
    cols = ["doc_id", "span_idx", "entity", "attr", "value_str", "source"]
    a = extract_claims(docs).select(cols)
    b = extract_claims_arrow(docs).select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("use_arrow_udf", [False, True])
def test_malformed_doc_id_yields_no_claims(spark, use_arrow_udf):
    """A doc_id that is not three `_` pieces ending in an integer gives no
    claims, as an unparseable span does, rather than aborting the stage
    (`doc1`) or filing the claim under its source number (`d000001_0003`)."""
    span = "struct('text' as kind, 'E1 | P_qty | 5 m' as text, '' as media_ref, 0 as offset)"
    docs = spark.createDataFrame(
        [("doc1",), ("d000001_0003",), ("d000001_0003_x1",), ("d000001_0003_01",)], "doc_id string"
    ).withColumn("spans", F.expr(f"array({span})"))
    rows = docs_to_claims(docs, use_arrow_udf=use_arrow_udf).collect()
    assert [(r["doc_id"], r["bucket_id"], r["source"]) for r in rows] == [
        ("d000001_0003_01", 1, "src_0003")
    ]


def _pr(spark, docs, gt, model, **kw):
    triples, result = run_pipeline(docs, model=model, **kw)
    claims = docs_to_claims(docs)
    # GT is per (entity, attr); expand to the buckets where the fact exists
    fact_buckets = claims.select("bucket_id", "entity", "attr").distinct()
    gt_b = gt.join(fact_buckets, ["entity", "attr"]).withColumn(
        "gt_values", F.transform("gt_values", lambda x: F.trim(x))
    )
    # evaluate categorical attrs on strings; numeric facts emit canonical
    # value_str so compare on value_num via the gt_num column instead
    cat_truth = result.truth.filter(~F.col("is_numeric"))
    m = evaluate(cat_truth, gt_b.filter(F.col("gt_num").isNull()), claims)
    row = overall(m).collect()[0]
    # numeric: fused value must equal the planted number
    num_truth = result.truth.filter(F.col("is_numeric"))
    num_ok = (
        num_truth.join(gt_b.filter(F.col("gt_num").isNotNull()), ["bucket_id", "entity", "attr"])
        .select(F.avg((F.abs(F.col("value_num") - F.col("gt_num")) < 1e-9).cast("double")).alias("acc"))
        .collect()[0]["acc"]
    )
    return row, num_ok, triples


@pytest.mark.parametrize("model", ["majority", "crh", "truthfinder"])
def test_pipeline_pr_gate(spark, docs, gt, model):
    """Planted-GT sanity gate: categorical P/R >= 0.95; numeric accuracy high.

    (The authoritative P/R >= 0.95 parity gate is vs the reference *model
    output*, covered exactly by tests/test_fusion_oracle.py. Against planted
    GT, squared-loss models genuinely lose ~10% of numeric facts where
    agreeing wrong claims form the heavier cluster — verified by numpy
    simulation of the same math.)"""
    kw = {"max_itr": 3} if model != "majority" else {}
    num_gate = 0.95 if model == "majority" else 0.85
    row, num_ok, triples = _pr(spark, docs, gt, model, **kw)
    assert row["p"] >= 0.95, f"{model} precision {row['p']}"
    assert row["r"] >= 0.90, f"{model} recall {row['r']}"
    assert num_ok >= num_gate, f"{model} numeric accuracy {num_ok}"
    assert triples.columns == ["subj", "pred", "obj", "bucket_id"]
    assert triples.count() > 0


def test_crh_weights_rank_correlate(spark, docs):
    """Fused source weights rank-correlate with planted reliability
    (FIXTURES.md §5: Spearman >= 0.8)."""
    _, result = run_pipeline(docs, model="crh", max_itr=3)
    w = (
        result.weights.groupBy("source")
        .agg(F.avg("weight").alias("w"))
        .toPandas()
        .set_index("source")["w"]
    )
    planted = gen_source_truth(docs.sparkSession, S).toPandas().set_index("source")["p_true"]
    both = planted.to_frame().join(w.to_frame())
    rho = np.corrcoef(both["p_true"].rank(), both["w"].rank())[0, 1]
    assert rho >= 0.8, f"Spearman {rho}"
