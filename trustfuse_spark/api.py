"""Library API mirroring the reference's extension contract (SURVEY §3.3).

The reference's surface is: construct a Dataset (per-bucket claim tables +
ground truth + attribute types), preprocess it, fuse with a Model, evaluate
(fusion_pipeline.py:30-109; docs/trustfuse.md "Template"). The Spark-native
equivalent keeps the same three moves over long-form DataFrames:

    ds = ClaimsDataset.from_tsv_dir(spark, dir, header=BOOK_HEADER,
                                    entity_col="ISBN", attr_types={...})
    ds = ds.preprocess()                       # typed normalization
    result = ds.fuse("crh", max_itr=10)        # any MODELS key
    metrics = ds.evaluate(result)              # P/R/Acc/F1/c_rate per attr

Custom models register via `register_model(name, fn)` where fn takes the
long claims DataFrame (bucket_id, source, entity, attr, value_str,
value_num, claim_type) and returns a FusionResult — the prepare /
iterate-step / finalize shape of the reference's Model subclasses
(model.py:49-63) collapses into one function over the claims table.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trustfuse_spark.operators.evaluation import evaluate, overall
from trustfuse_spark.operators.fusion.base import FusionResult
from trustfuse_spark.plans import pipeline
from trustfuse_spark.sources.loaders import load_bucket_dir, load_tsv_bucket, wide_to_long


def register_model(name: str, fn: Callable[..., FusionResult]) -> None:
    """Make ``fn`` available as fusion model ``name``.

    ``fn(claims, **params) -> FusionResult``. An iterative model keeps the
    reference's prepare / iterate / finalize shape: prepare its tables, run
    its lazy weight-then-truth step through
    :func:`trustfuse_spark.operators.fusion.base.iterate` (which materializes
    each step, frees old generations and applies the stop test), then build
    the result from the final state.
    """
    pipeline.MODELS[name] = fn


@dataclass
class ClaimsDataset:
    """Long-form claims + optional GT, the engine's Dataset equivalent."""

    claims: DataFrame
    gt: DataFrame | None = None
    attr_types: dict[str, str] = field(default_factory=dict)

    # -- constructors -------------------------------------------------------
    @classmethod
    def from_long(cls, claims: DataFrame, gt: DataFrame | None = None,
                  attr_types: dict[str, str] | None = None) -> "ClaimsDataset":
        return cls(claims=claims, gt=gt, attr_types=attr_types or {})

    @classmethod
    def from_tsv(cls, spark: SparkSession, path: str, header: list[str],
                 entity_col: str, attr_types: dict[str, str] | None = None,
                 bucket_id: int = 0) -> "ClaimsDataset":
        wide = load_tsv_bucket(spark, path, header)
        return cls(wide_to_long(wide, entity_col, bucket_id=bucket_id),
                   attr_types=attr_types or {})

    @classmethod
    def from_tsv_dir(cls, spark: SparkSession, directory: str, header: list[str],
                     entity_col: str, attr_types: dict[str, str] | None = None
                     ) -> "ClaimsDataset":
        return cls(load_bucket_dir(spark, directory, header, entity_col),
                   attr_types=attr_types or {})

    # -- stages -------------------------------------------------------------
    def preprocess(self) -> "ClaimsDataset":
        """Typed normalization (``pipeline.typed_claims``), claim_type from
        attr_types when given; an attr it does not name is 'string'."""
        c = self.claims
        if self.attr_types:
            mapping = F.create_map(
                *[F.lit(x) for kv in self.attr_types.items() for x in kv]
            )
            c = c.withColumn("claim_type", mapping[F.col("attr")])
        elif "claim_type" not in c.columns:
            c = c.withColumn("claim_type", F.lit(None).cast("string"))
        return ClaimsDataset(pipeline.typed_claims(c), self.gt, self.attr_types)

    def fuse(self, model: str = "crh", **kwargs) -> FusionResult:
        if any(str(t).lower() == "coordinate" for t in self.attr_types.values()):
            # '(lat, lon)' claims fuse per-axis and recompose — the reference
            # drops coordinate facts entirely (see operators/coordinates.py)
            from trustfuse_spark.operators.coordinates import fuse_with_coordinates

            return fuse_with_coordinates(
                self.claims, lambda c, **kw: pipeline.fuse(c, model, **kw), **kwargs
            )
        return pipeline.fuse(self.claims, model, **kwargs)

    def triples(self, result: FusionResult) -> DataFrame:
        return pipeline.truth_to_triples(result.truth)

    def evaluate(self, result: FusionResult, per_attr: bool = True) -> DataFrame:
        if self.gt is None:
            raise ValueError("dataset has no ground truth")
        m = evaluate(result.truth, self.gt, self.claims)
        return m if per_attr else overall(m)
