"""scale_units metadata preprocess (SURVEY §2.4 A19).

Reference (preprocessing.py:176-225): per (entity, attr), iteratively (<=10
rounds) multiply by 10 the values whose log10(v / median) < -0.8 and by 0.1
those > 0.8, recomputing the median each round, until no value moves —
bringing mixed-unit claims ("324", "32400", "0.324") onto one scale.

Spark mapping: the adjustment is fact-local, so one vectorized driver loop
over ALL facts at once is equivalent to the reference's per-fact loops
(converged facts are no-ops); each round is one grouped median + one
conditional multiply, with an early global stop when nothing changed.
Zero/null values are excluded from scaling and left untouched, as in the
reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import FACT_KEYS, iterate


def scale_units(
    claims: DataFrame,
    value_col: str = "value_num",
    max_itr: int = 10,
    lower_factor: float = -0.8,
    upper_factor: float = 0.8,
) -> DataFrame:
    """Returns the claims with value_col rescaled onto each fact's dominant
    unit scale. Non-numeric/zero rows pass through unchanged."""
    scalable = F.col(value_col).isNotNull() & (F.col(value_col) != 0)
    out = claims.withColumn("__scaled", F.when(scalable, F.col(value_col)))

    def step(out: DataFrame) -> DataFrame:
        out = out.drop("__moved")  # absent on the first step
        med = (
            out.filter(F.col("__scaled").isNotNull())
            .groupBy(*FACT_KEYS)
            .agg(F.expr("percentile(__scaled, 0.5)").alias("__med"))
        )
        joined = out.join(med, FACT_KEYS, "left")
        pf = F.log10(F.col("__scaled") / F.col("__med"))
        adjusted = (
            F.when(pf < lower_factor, F.col("__scaled") * 10)
            .when(pf > upper_factor, F.col("__scaled") * 0.1)
            .otherwise(F.col("__scaled"))
        )
        moved = F.when(
            (pf < lower_factor) | (pf > upper_factor), F.lit(1)
        ).otherwise(F.lit(0))
        stepped = joined.withColumn("__moved", moved).withColumn("__scaled", adjusted)
        return stepped.drop("__med")

    def none_moved(old: DataFrame, new: DataFrame) -> bool:
        return (new.agg(F.sum("__moved")).collect()[0][0] or 0) == 0

    out, _ = iterate(out, step, max_itr, none_moved)
    out = out.drop("__moved")
    return out.withColumn(
        value_col, F.when(scalable, F.col("__scaled")).otherwise(F.col(value_col))
    ).drop("__scaled")
