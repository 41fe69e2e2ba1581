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

from trustfuse_spark.functions.preprocess import normalize_claim_value
from trustfuse_spark.operators.evaluation import evaluate, overall
from trustfuse_spark.operators.fusion.base import FusionResult
from trustfuse_spark.plans.pipeline import MODELS, truth_to_triples
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
    MODELS[name] = fn


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
        """Typed normalization: attach claim_type from attr_types (default
        'string' — untyped attrs fuse categorically, model.py:159-165),
        derive value_num, trim strings, drop unparseable numeric cells."""
        c = self.claims
        if self.attr_types:
            mapping = F.create_map(
                *[F.lit(x) for kv in self.attr_types.items() for x in kv]
            )
            c = c.withColumn("claim_type", F.coalesce(mapping[F.col("attr")], F.lit("string")))
        elif "claim_type" not in c.columns:
            c = c.withColumn("claim_type", F.lit("string"))
        c = c.withColumn("value_str", F.trim("value_str"))
        c = c.withColumn("value_num", normalize_claim_value(F.col("value_str"), F.col("claim_type")))
        numeric = F.col("claim_type").isin("quantity", "time")
        c = c.filter(~(numeric & F.col("value_num").isNull()))
        return ClaimsDataset(c, self.gt, self.attr_types)

    def fuse(self, model: str = "crh", **kwargs) -> FusionResult:
        try:
            fn = MODELS[model]
        except KeyError:
            raise ValueError(f"unknown model {model!r}; available: {sorted(MODELS)}")
        if any(str(t).lower() == "coordinate" for t in self.attr_types.values()):
            # '(lat, lon)' claims fuse per-axis and recompose — the reference
            # drops coordinate facts entirely (see operators/coordinates.py)
            from trustfuse_spark.operators.coordinates import fuse_with_coordinates

            return fuse_with_coordinates(self.claims, fn, **kwargs)
        return fn(self.claims, **kwargs)

    def triples(self, result: FusionResult) -> DataFrame:
        return truth_to_triples(result.truth)

    def evaluate(self, result: FusionResult, per_attr: bool = True) -> DataFrame:
        if self.gt is None:
            raise ValueError("dataset has no ground truth")
        m = evaluate(result.truth, self.gt, self.claims)
        return m if per_attr else overall(m)
