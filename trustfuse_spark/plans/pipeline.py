"""End-to-end KG-construction pipeline: docs -> claims -> fused truth -> triples.

Stage layout mirrors SURVEY §7.1; every stage is DataFrame -> DataFrame so it
can be checkpointed to a table boundary (parquet locally, Iceberg snapshots on
a cluster) and resumed (see plans/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.functions.preprocess import normalize_claim_value
from trustfuse_spark.operators.extract import extract_claims, extract_claims_arrow
from trustfuse_spark.operators.fusion.accu import fuse_accu
from trustfuse_spark.operators.fusion.base import FusionResult
from trustfuse_spark.operators.fusion.catd import fuse_catd
from trustfuse_spark.operators.fusion.crh import fuse_crh
from trustfuse_spark.operators.fusion.gtm import fuse_gtm
from trustfuse_spark.operators.fusion.kdem import fuse_kdem
from trustfuse_spark.operators.fusion.ltm import fuse_ltm
from trustfuse_spark.operators.fusion.majority import fuse_majority
from trustfuse_spark.operators.fusion.slimfast import fuse_slimfast
from trustfuse_spark.operators.fusion.truthfinder import fuse_truthfinder

ATTR_TYPE_DEFAULT = "string"  # untyped attributes fuse categorically (model.py:159-165)


def typed_claims(claims: DataFrame) -> DataFrame:
    """Claim typing: a NULL claim_type defaults to 'string', value_num is
    the typed number of value_str, numeric claims without one are dropped
    (the reference's model.py:145 NaN filter, after preprocessing coerced
    them to NaN) and value_str is trimmed (its remove_space preprocess)."""
    claims = claims.withColumn(
        "claim_type", F.coalesce("claim_type", F.lit(ATTR_TYPE_DEFAULT))
    )
    claims = claims.withColumn(
        "value_num", normalize_claim_value(F.col("value_str"), F.col("claim_type"))
    )
    numeric_type = F.col("claim_type").isin("quantity", "time")
    claims = claims.filter(~(numeric_type & F.col("value_num").isNull()))
    return claims.withColumn("value_str", F.trim("value_str"))


def docs_to_claims(docs: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
    """Extraction + typed preprocessing: docs -> long-form claims.

    Attributes are typed by the fixture's naming (P_qty -> quantity, P_time
    -> time, P_ent* -> entity, else string); bucket_id is the doc's revision,
    which extraction reads from the doc_id. Temporal sessionization lives in
    operators/bucketize.py.
    """
    extractor = extract_claims_arrow if use_arrow_udf else extract_claims
    claims = extractor(docs).withColumn(
        "claim_type",
        F.when(F.col("attr") == "P_qty", "quantity")
        .when(F.col("attr") == "P_time", "time")
        .when(F.col("attr").startswith("P_ent"), "entity")
        .otherwise(ATTR_TYPE_DEFAULT),
    )
    return typed_claims(claims).select(
        "bucket_id", "source", "entity", "attr",
        "value_str", "value_num", "claim_type", "doc_id", "media_refs",
    )


def canonicalize_claims(
    claims: DataFrame,
    min_jaro: float = 0.9,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """Linking + canonicalization stage (SURVEY §7.1 S2-S3): mention
    surfaces in `entity` -> MinHash-LSH candidate pairs -> Jaro scorer ->
    connected components -> canonical id; optionally resolve the canonical
    surface against a known-entity dictionary (label -> qid, broadcast).
    """
    from trustfuse_spark.operators.linking import candidate_links, canonicalize, link_dictionary

    mentions = claims.withColumnRenamed("entity", "surface")
    links = candidate_links(mentions, min_jaro=min_jaro)
    canon = canonicalize(mentions, links)
    if dictionary is not None:
        canon = link_dictionary(
            canon.withColumnRenamed("canonical_id", "__canon")
            .withColumnRenamed("surface", "__orig")
            .withColumnRenamed("__canon", "surface"),
            dictionary,
        )
        canon = (
            canon.withColumn("entity", F.coalesce("linked_id", "surface"))
            .drop("surface", "linked_id")
            .withColumnRenamed("__orig", "surface")
        )
    else:
        canon = canon.withColumnRenamed("canonical_id", "entity")
    return canon


MODELS = {
    "majority": fuse_majority,
    "crh": fuse_crh,
    "truthfinder": fuse_truthfinder,
    "catd": fuse_catd,
    "gtm": fuse_gtm,
    "accu": fuse_accu,
    "kdem": fuse_kdem,
    "slimfast": fuse_slimfast,
    "ltm": fuse_ltm,
}


def fuse(claims: DataFrame, model: str = "crh", **kwargs) -> FusionResult:
    try:
        fn = MODELS[model]
    except KeyError:
        raise ValueError(f"unknown model {model!r}; available: {sorted(MODELS)}")
    return fn(claims, **kwargs)


def truth_to_triples(truth: DataFrame) -> DataFrame:
    """Fused truth -> (subj, pred, obj) triples, the KG materialization
    surface (reference generate_subgraph.py:25-86 triple sets;
    visualization.py entity->attr->value graph). Partition-by-pred on write.
    """
    return truth.select(
        F.col("entity").alias("subj"),
        F.col("attr").alias("pred"),
        F.col("value_str").alias("obj"),
        F.col("bucket_id"),
    )


def run_pipeline(
    docs: DataFrame,
    model: str = "crh",
    use_arrow_udf: bool = False,
    link_entities: bool = False,
    entity_dictionary: DataFrame | None = None,
    min_jaro: float = 0.9,
    **kwargs,
) -> tuple[DataFrame, FusionResult]:
    """docs -> (triples, FusionResult). The flagship end-to-end path.

    link_entities=True inserts the linking + canonicalization stage between
    extraction and fusion (north_star S2-S3): noisy mention surfaces are
    LSH-blocked, Jaro-scored, merged by connected components, and optionally
    resolved to dictionary ids before conflict resolution.

    Claims are slimmed to the fusion columns and materialized once — the
    iterative models re-read that table instead of re-running extraction
    (provenance doc_id/media_refs stay in the claims stage output).
    """
    claims = docs_to_claims(docs, use_arrow_udf=use_arrow_udf)
    if link_entities:
        claims = canonicalize_claims(
            claims, min_jaro=min_jaro, dictionary=entity_dictionary
        )
    slim = claims.select(
        "bucket_id", "source", "entity", "attr", "value_str", "value_num", "claim_type"
    )
    result = fuse(slim, model=model, **kwargs)
    return truth_to_triples(result.truth), result
