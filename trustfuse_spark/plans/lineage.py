"""Checkpoint / lineage / resume (north_rule: resumable from checkpoint with
per-partition lineage + metrics).

Stage boundaries are table writes: locally parquet under a run directory;
on a cluster the same calls write Iceberg snapshots (writeTo(...).append()).
Each completed stage appends a lineage record with per-partition row counts
and wall time; `resume` replays the pipeline skipping stages whose output
table + lineage record already exist — mid-run kill -> rerun picks up after
the last complete stage, byte-identical outputs (generators and operators
are deterministic; SURVEY §5.3.4).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import owned


class ParquetSink:
    """Local/dev table sink: one parquet directory per stage under the run
    root. The _SUCCESS marker is the commit point."""

    def __init__(self, base: str) -> None:
        self.base = base

    def location(self, name: str) -> str:
        return os.path.join(self.base, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.location(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.location(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.location(name))

    def file_key(self, file_uri: str, name: str) -> str:
        return os.path.relpath(
            file_uri.removeprefix("file://"), self.location(name)
        )


class IcebergSink:
    """Cluster table sink: Iceberg snapshots via the DataFrameWriterV2 API
    (the SURVEY S8/S9 contract — atomic snapshot commits make is_done a
    catalog lookup instead of a _SUCCESS marker, and resume survives
    partial-write crashes without overwrite semantics).

    Requires a configured Iceberg catalog (spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog). This sandbox ships no Iceberg
    runtime, so construction verifies the namespace eagerly and raises a
    clear error — the seam is real, the runtime is the only absence.
    """

    def __init__(self, spark: SparkSession, namespace: str) -> None:
        self.spark = spark
        self.namespace = namespace
        try:
            spark.sql(f"SELECT 1 FROM {namespace}.__probe__ LIMIT 0")
        except Exception as exc:  # noqa: BLE001
            msg = str(exc)
            if "TABLE_OR_VIEW_NOT_FOUND" not in msg and "__probe__" not in msg:
                raise RuntimeError(
                    f"Iceberg namespace {namespace!r} is not reachable — "
                    "configure spark.sql.catalog.* for an Iceberg catalog"
                ) from exc

    def _table(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        # the sink's own session: the active one is per thread, and None in
        # a thread that never set one
        return self.spark.catalog.tableExists(self._table(name))

    def write(self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()) -> None:
        writer = df.writeTo(self._table(name))
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()  # atomic snapshot commit

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.table(self._table(name))

    def file_key(self, file_uri: str, name: str) -> str:
        return file_uri.rsplit("/", 1)[-1]


@dataclass
class StageRun:
    run_id: str
    root: str
    spark: SparkSession
    stages_done: list[str] = field(default_factory=list)
    sink: ParquetSink | IcebergSink | None = None

    def __post_init__(self) -> None:
        if self.sink is None:
            self.sink = ParquetSink(os.path.join(self.root, self.run_id))

    def _lineage_path(self) -> str:
        return os.path.join(self.root, self.run_id, "_lineage")

    def is_done(self, stage: str) -> bool:
        """Done = output table committed AND its lineage record exists. A
        kill between the table commit and the lineage append must re-run
        the stage (writes are idempotent overwrite/replace) — the table
        alone would resume a stage with no lineage record."""
        return self.sink.exists(stage) and os.path.exists(
            os.path.join(self._lineage_path(), f"{stage}.json")
        )

    def materialize(self, stage: str, df_fn, partition_by: tuple[str, ...] = ()) -> DataFrame:
        """Run df_fn() -> DataFrame unless the stage output already exists;
        either way return the stage's table (reading back from storage, so
        downstream lineage starts at the table boundary — the resume point).
        Checkpoints and caches taken for the stage are freed once written.
        """
        if not self.is_done(stage):
            t0 = time.perf_counter()
            with owned():
                self.sink.write(df_fn(), stage, partition_by)
            wall_ms = int((time.perf_counter() - t0) * 1000)
            out = self.sink.read(self.spark, stage)
            # file-level lineage: rows per WRITTEN file (input_file_name of
            # the read-back scan), not spark_partition_id of the read split —
            # the read planner may coalesce/split files differently
            parts = (
                out.groupBy(F.input_file_name().alias("file"))
                .count()
                .collect()
            )
            self._append_lineage(
                stage,
                wall_ms,
                rows=sum(r["count"] for r in parts),
                partitions=[
                    (self.sink.file_key(r["file"], stage), r["count"])
                    for r in parts
                ],
            )
        self.stages_done.append(stage)
        return self.sink.read(self.spark, stage)

    def _append_lineage(self, stage: str, wall_ms: int, rows: int, partitions) -> None:
        os.makedirs(self._lineage_path(), exist_ok=True)
        rec = {
            "run_id": self.run_id,
            "stage": stage,
            "rows": rows,
            "wall_ms": wall_ms,
            "partitions": [{"file": p, "rows": n} for p, n in partitions],
            "ts": time.time(),
        }
        with open(
            os.path.join(self._lineage_path(), f"{stage}.json"), "w"
        ) as fh:
            json.dump(rec, fh)

    def lineage(self) -> list[dict]:
        path = self._lineage_path()
        if not os.path.isdir(path):
            return []
        out = []
        for name in sorted(os.listdir(path)):
            with open(os.path.join(path, name)) as fh:
                out.append(json.load(fh))
        return out


def run_resumable_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    run_id: str,
    model: str = "crh",
    **fuse_kwargs,
) -> tuple[DataFrame, StageRun]:
    """The SURVEY §7.1 stage chain with a table boundary per stage.

    Stages: claims -> truth (+weights) -> triples. Killing the process after
    stage k and re-invoking with the same run_id skips stages < k.
    """
    from trustfuse_spark.plans.pipeline import docs_to_claims, fuse, truth_to_triples

    run = StageRun(run_id=run_id, root=root, spark=spark)

    claims = run.materialize(
        "claims",
        lambda: docs_to_claims(docs).select(
            "bucket_id", "source", "entity", "attr",
            "value_str", "value_num", "claim_type",
        ),
        partition_by=("bucket_id",),
    )

    def _fuse_truth():
        res = fuse(claims, model=model, **fuse_kwargs)
        # stash weights alongside (second table in the same stage)
        res.weights.write.mode("overwrite").parquet(
            os.path.join(root, run_id, "weights")
        )
        return res.truth

    truth = run.materialize("truth", _fuse_truth, partition_by=("bucket_id",))
    triples = run.materialize("triples", lambda: truth_to_triples(truth))
    return triples, run
