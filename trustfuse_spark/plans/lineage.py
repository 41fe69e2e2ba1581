"""Checkpoint / lineage / resume (north_rule: resumable from checkpoint with
per-partition lineage + metrics).

Stage boundaries are table writes: locally parquet under a run directory;
on a cluster the same calls commit Iceberg snapshots
(writeTo(...).createOrReplace()). Each written table gets a lineage record
with per-file row counts, wall time and the table's read schema. A
boundary costs its write and nothing more: the counts come from the commit
itself (the Parquet footers, or the Iceberg ``files`` metadata table's
``record_count``), not from a re-scan, and the schema is the written
frame's, so the read-back infers nothing. `resume` replays the pipeline
skipping stages whose output table + lineage record already exist —
mid-run kill -> rerun picks up after the last complete stage,
byte-identical outputs (generators and operators are deterministic;
SURVEY §5.3.4).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from trustfuse_spark.operators.fusion.base import owned


def _nullable(t: DataType) -> DataType:
    """`t` with every field, element and value nullable: the schema a file
    source read gives back, whatever the writer declared."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_schema(df: DataFrame, partition_by: tuple[str, ...]) -> StructType:
    """The schema of `df` read back from a table written partitioned by
    `partition_by`: partition columns last, as partition discovery puts
    them, and everything nullable."""
    fields = [f for f in df.schema if f.name not in partition_by]
    fields += [df.schema[c] for c in partition_by]
    return _nullable(StructType(fields))


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

    def read(self, spark: SparkSession, name: str, schema: StructType) -> DataFrame:
        return spark.read.schema(schema).parquet(self.location(name))

    def file_rows(self, name: str) -> list[tuple[str, int]]:
        """(path relative to the table, rows) per written file, in path
        order, from each file's footer on the driver: no Spark job."""
        loc = self.location(name)
        paths = sorted(
            os.path.join(d, f)
            for d, _, files in os.walk(loc)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        return [
            (os.path.relpath(p, loc), pq.read_metadata(p).num_rows) for p in paths
        ]


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

    def read(self, spark: SparkSession, name: str, schema: StructType) -> DataFrame:
        # the catalog holds the table's schema: `schema` is not needed
        return spark.read.table(self._table(name))

    def file_rows(self, name: str) -> list[tuple[str, int]]:
        """(file name, rows) per data file of the current snapshot, from
        the ``files`` metadata table's ``record_count``."""
        rows = self.spark.sql(
            f"SELECT file_path, record_count FROM {self._table(name)}.files"
        ).collect()
        return sorted(
            (r["file_path"].rsplit("/", 1)[-1], r["record_count"]) for r in rows
        )


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

    def _record(self, name: str) -> dict | None:
        """The table's lineage record, or None when it is missing, does not
        parse, or carries no read schema."""
        try:
            with open(os.path.join(self._lineage_path(), f"{name}.json")) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            return None
        return rec if "schema" in rec else None

    def is_done(self, stage: str) -> bool:
        """Done = output table committed AND its lineage record is whole. A
        kill between the table commit and the record's replace must re-run
        the stage (writes are idempotent overwrite/replace) — the table
        alone would resume a stage with no lineage record or read schema."""
        return self.sink.exists(stage) and self._record(stage) is not None

    def materialize(self, stage: str, df_fn, partition_by: tuple[str, ...] = ()) -> DataFrame:
        """Run df_fn() -> DataFrame unless the stage output already exists;
        either way return the stage's table (reading back from storage, so
        downstream lineage starts at the table boundary — the resume point).
        Checkpoints and caches taken for the stage are freed once written.

        The read-back is the only one, and it takes the schema stored in the
        lineage record, so it runs no inference job; the record's per-file
        counts come from the write's commit (see `write`).
        """
        rec = self._record(stage) if self.sink.exists(stage) else None
        if rec is None:
            t0 = time.perf_counter()
            with owned():
                rec = self.write(df_fn(), stage, partition_by, t0)
        self.stages_done.append(stage)
        return self.sink.read(self.spark, stage, StructType.fromJson(rec["schema"]))

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: tuple[str, ...] = (),
        t0: float | None = None,
    ) -> dict:
        """Write one table through the sink and replace its lineage record;
        returns the record. Rows per WRITTEN file come from the commit
        (sink.file_rows), and the read schema is `df`'s fields with the
        partition columns last (`read_schema`)."""
        t0 = time.perf_counter() if t0 is None else t0
        self.sink.write(df, name, partition_by)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        schema = read_schema(df, partition_by)
        files = self.sink.file_rows(name)
        rec = {
            "run_id": self.run_id,
            "stage": name,
            "rows": sum(n for _, n in files),
            "wall_ms": wall_ms,
            "partitions": [{"file": p, "rows": n} for p, n in files],
            "schema": schema.jsonValue(),
            "ts": time.time(),
        }
        self._save(name, rec)
        return rec

    def _save(self, name: str, rec: dict) -> None:
        """Temp file in the same directory, then os.replace: a kill leaves
        the old record or the new one, never a truncated one."""
        path = self._lineage_path()
        os.makedirs(path, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=path, prefix=f".{name}.", suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(rec, fh)
            os.replace(tmp, os.path.join(path, f"{name}.json"))
        except BaseException:
            os.unlink(tmp)
            raise

    def lineage(self) -> list[dict]:
        """The whole lineage records, in table-name order."""
        path = self._lineage_path()
        if not os.path.isdir(path):
            return []
        recs = (
            self._record(name.removesuffix(".json"))
            for name in sorted(os.listdir(path))
            if name.endswith(".json")
        )
        return [r for r in recs if r is not None]


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
        # weights: a second table of the stage, with its own record, written
        # inside the stage's owned() scope while the fusion output is live
        run.write(res.weights, "weights")
        return res.truth

    truth = run.materialize("truth", _fuse_truth, partition_by=("bucket_id",))
    triples = run.materialize("triples", lambda: truth_to_triples(truth))
    return triples, run
