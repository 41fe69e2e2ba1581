"""Benchmark workloads: seeded inputs, the timed job, and its output checks.

Each workload generates its inputs once per set-up repetition into parquet
tables under the output directory (standing in for the Iceberg input
tables), and every job reads those tables back, so the program only ever
sees the generated inputs. The seed enters through an entity-index window:
``datagen`` has no seed parameter, so set-up always generates
``WINDOW_SPAN * entities`` entities (constant work for every seed) and
keeps the ``entities``-wide window that starts at a seed-derived offset.

The program's layers are reached through module attributes
(``lineage.run_resumable_pipeline``, ``pipeline.run_pipeline``,
``curate.curate_corpus``) so that the traced run's wrappers apply.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trustfuse_spark import datagen
from trustfuse_spark.plans import curate, lineage, pipeline

WINDOW_SPAN = 3  # generated entities per windowed entity
PRECISION_FLOOR = 0.95
RECALL_FLOOR = 0.90
PACK_CAPACITY = 2048


@dataclass(frozen=True)
class Sizes:
    entities: int
    sources: int
    revisions: int


def window_offset(name: str, seed: int, entities: int) -> int:
    """First entity index of the seed's window (str seeds hash stably).

    Windows start at ``entities`` or later, so at the benchmark sizes every
    entity index in any window has the same number of digits: surface
    strings, and with them shingle and candidate-pair counts, keep the same
    shape from seed to seed."""
    return random.Random(f"{name}:{seed}").randint(entities, (WINDOW_SPAN - 1) * entities)


def planted_facts(offset: int, sizes: Sizes) -> dict[tuple[str, str, int], str | float]:
    """(entity, attr, bucket_id) -> planted true value of every fact at
    least one source claims: the Python twin of ``datagen.gen_gt``, from
    datagen's integer hash. Attr ``a`` is claimed in revision
    ``a % revisions``, which is its bucket; numeric attrs carry the
    normalized number, categorical ones the rendered string."""
    facts = {}
    for e in range(offset, offset + sizes.entities):
        for a, attr in enumerate(datagen.ATTR_NAMES):
            if not any(
                datagen.mix_py(e, s, a, 5) % 100 >= 30 for s in range(sizes.sources)
            ):
                continue
            tv = datagen.mix_py(e, a, 17) % 1000
            kind = datagen.ATTR_TYPES[a]
            value = {
                "entity": f"Q{50000 + tv}",
                "quantity": float(tv % 900 + 100),
                "string": f"name_{tv}",
                "time": float((tv % 24) * 60 + tv % 60),
            }[kind]
            facts[(f"Q{e + 1000}", attr, a % sizes.revisions)] = value
    return facts


def windowed_docs(
    spark: SparkSession, offset: int, sizes: Sizes, entity_noise: bool
) -> DataFrame:
    docs = datagen.gen_docs(
        spark,
        n_entities=WINDOW_SPAN * sizes.entities,
        n_sources=sizes.sources,
        n_revs=sizes.revisions,
        entity_noise=entity_noise,
    )
    lo, hi = f"d{offset:06d}", f"d{offset + sizes.entities:06d}"
    return docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))


def signature(df: DataFrame, *extra) -> dict:
    """Row count plus an order-insensitive hash of every column (one job)."""
    row = df.agg(
        F.count("*").alias("rows"),
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("hash"),
        *extra,
    ).collect()[0]
    return row.asDict()


def score_truth(truth: DataFrame, facts: dict) -> dict:
    """Fused truth vs planted truth, computed on the driver (the truth has
    one row per fact). Categorical facts give precision (over fused facts of
    planted entities) and recall (over planted facts), as
    ``evaluation.evaluate`` defines them with every planted value claimed;
    numeric facts give the share fused to the planted number."""
    entities = {(b, e) for e, _, b in facts}
    fused = cat_ok = num_n = num_ok = 0
    for r in truth.select("bucket_id", "entity", "attr", "value_str", "value_num", "is_numeric").collect():
        want = facts.get((r["entity"], r["attr"], r["bucket_id"]))
        if r["is_numeric"]:
            if isinstance(want, float):
                num_n += 1
                num_ok += abs(r["value_num"] - want) < 1e-9
        elif (r["bucket_id"], r["entity"]) in entities:
            fused += 1
            cat_ok += r["value_str"] == want
    planted_cat = sum(1 for v in facts.values() if isinstance(v, str))
    return {
        "precision": cat_ok / fused if fused else 0.0,
        "recall": cat_ok / planted_cat,
        "numeric_acc": num_ok / num_n if num_n else 0.0,
    }


def quality_errors(quality: dict) -> list[str]:
    errors = []
    if quality["precision"] < PRECISION_FLOOR:
        errors.append(f"precision {quality['precision']:.4f} < {PRECISION_FLOOR}")
    if quality["recall"] < RECALL_FLOOR:
        errors.append(f"recall {quality['recall']:.4f} < {RECALL_FLOOR}")
    return errors


class Workload:
    """One named workload. Subclasses define ``name``, ``sizes``,
    ``entity_noise``, ``layers`` and ``job``."""

    name: str
    sizes: Sizes
    smoke_sizes: Sizes
    nominal_job_s: float  # typical warm job on 4 vCPUs; sets the job count
    entity_noise = False
    in_memory = True  # no table boundaries between layers
    layers: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, out_dir: str, seed: int, smoke: bool):
        self.spark = spark
        self.out_dir = out_dir
        if smoke:
            self.sizes = self.smoke_sizes
        self.offset = window_offset(self.name, seed, self.sizes.entities)
        self.facts = planted_facts(self.offset, self.sizes)
        self.docs_path = os.path.join(out_dir, "input", "docs")
        self.input_rows = 0
        self.reference_sig: dict | None = None
        self.quality: dict = {}

    def setup(self) -> None:
        """Generate and materialize the input tables (one repetition)."""
        windowed_docs(self.spark, self.offset, self.sizes, self.entity_noise).write.mode(
            "overwrite"
        ).parquet(self.docs_path)

    def load(self) -> None:
        self.input_rows = self.spark.read.parquet(self.docs_path).count()

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    def job(self, idx: int) -> dict:
        """Run one job; returns its output signature."""
        raise NotImplementedError

    def check(self, idx: int, sig: dict) -> list[str]:
        """Output errors of job ``idx``. The first job is scored against
        planted truth; later jobs must reproduce its signature."""
        errors = self._check_shape(sig)
        if self.reference_sig is None:
            self.reference_sig = sig
            self.quality = self._score(idx)
            self._quality_errors = quality_errors(self.quality) if self.quality else []
        if sig != self.reference_sig:
            return errors + [f"output signature {sig} != first job's {self.reference_sig}"]
        return errors + self._quality_errors

    def _check_shape(self, sig: dict) -> list[str]:
        raise NotImplementedError

    def _score(self, idx: int) -> dict:
        return {}

    def cleanup(self, idx: int) -> None:
        """Drop the job's on-disk outputs."""

    def trace_extras(self, idx: int) -> dict:
        """Per-job layer counters only the workload can read (traced runs)."""
        return {}


class KgCrh(Workload):
    """docs -> claims table -> CRH truth table -> triples table, through the
    resumable lineage pipeline, into a fresh run directory per job."""

    name = "kg_crh"
    sizes = Sizes(entities=300, sources=20, revisions=4)
    smoke_sizes = Sizes(entities=30, sources=6, revisions=4)
    nominal_job_s = 7.0
    in_memory = False
    layers = ("extract", "fusion", "lineage")

    def _root(self) -> str:
        return os.path.join(self.out_dir, "runs")

    def _pipeline(self, idx: int) -> DataFrame:
        triples, _ = lineage.run_resumable_pipeline(
            self.spark, self.docs(), self._root(), f"job{idx}", model="crh", max_itr=3
        )
        return triples

    def job(self, idx: int) -> dict:
        return signature(self._pipeline(idx))

    def resume(self, idx: int) -> None:
        """Re-invoke a completed run id: every stage is skipped."""
        self._pipeline(idx).count()

    def _check_shape(self, sig: dict) -> list[str]:
        if sig["rows"] != len(self.facts):
            return [f"{sig['rows']} triples != {len(self.facts)} planted facts"]
        return []

    def _score(self, idx: int) -> dict:
        truth = self.spark.read.parquet(os.path.join(self._root(), f"job{idx}", "truth"))
        return score_truth(truth, self.facts)

    def trace_extras(self, idx: int) -> dict:
        run_dir = os.path.join(self._root(), f"job{idx}")
        stages = lineage.StageRun(f"job{idx}", self._root(), self.spark).lineage()
        claims = next(r["rows"] for r in stages if r["stage"] == "claims")
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(run_dir)
            for f in files
        )
        return {"extract.claims": claims, "lineage.mb_written": written / 2**20}

    def cleanup(self, idx: int) -> None:
        shutil.rmtree(os.path.join(self._root(), f"job{idx}"), ignore_errors=True)


class LinkCurate(Workload):
    """Noisy mention surfaces -> extraction -> MinHash-LSH + Jaro linking ->
    connected components -> dictionary ids -> majority fusion, in memory;
    then the curation chain over the same docs' text."""

    name = "link_curate"
    sizes = Sizes(entities=300, sources=5, revisions=2)
    smoke_sizes = Sizes(entities=40, sources=5, revisions=2)
    nominal_job_s = 7.0
    entity_noise = True
    layers = ("extract", "link", "cc", "fusion", "curate")

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.dict_path = os.path.join(self.out_dir, "input", "dictionary")
        self._truth: DataFrame | None = None

    def setup(self) -> None:
        super().setup()
        datagen.gen_entity_dictionary(
            self.spark, WINDOW_SPAN * self.sizes.entities
        ).write.mode("overwrite").parquet(self.dict_path)

    def job(self, idx: int) -> dict:
        docs = self.docs()
        triples, result = pipeline.run_pipeline(
            docs,
            model="majority",
            link_entities=True,
            entity_dictionary=self.spark.read.parquet(self.dict_path),
        )
        kg = signature(
            triples,
            F.countDistinct("subj").alias("entities"),
            F.sum((~F.col("subj").startswith("Q")).cast("int")).alias("unresolved"),
        )
        self._truth = result.truth
        packed = curate.curate_corpus(
            corpus_text(docs),
            benchmark=benchmark_grams(docs),
            min_quality=0.2,
            default_rate=0.9,
            sample_hash=F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(1000000)) / 1000000.0,
            capacity=PACK_CAPACITY,
        )
        return {"kg": kg, "curate": curate_signature(packed)}

    def _check_shape(self, sig: dict) -> list[str]:
        kg, cur = sig["kg"], sig["curate"]
        errors = []
        if kg["unresolved"]:
            errors.append(f"{kg['unresolved']} canonical entities without a Q id")
        if kg["entities"] != self.sizes.entities:
            errors.append(f"{kg['entities']} entities != {self.sizes.entities} generated")
        if kg["rows"] != len(self.facts):
            errors.append(f"{kg['rows']} triples != {len(self.facts)} planted facts")
        if cur["overfull_bins"]:
            errors.append(f"{cur['overfull_bins']} bins over capacity {PACK_CAPACITY}")
        if cur["distinct_ids"] != cur["rows"]:
            errors.append(f"{cur['rows'] - cur['distinct_ids']} duplicate packed ids")
        if not 0 < cur["rows"] <= self.input_rows:
            errors.append(f"{cur['rows']} packed docs out of (0, {self.input_rows}]")
        return errors

    def _score(self, idx: int) -> dict:
        return score_truth(self._truth, self.facts)


def corpus_text(docs: DataFrame) -> DataFrame:
    """(doc_id, source, text): the docs' text spans joined by spaces."""
    return docs.select(
        "doc_id",
        F.substring("doc_id", 9, 4).alias("source"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]
            ),
        ).alias("text"),
    )


def benchmark_grams(docs: DataFrame) -> DataFrame:
    """Eval-suite stand-in: 8-token prefixes of a ~0.5% hash sample."""
    corpus = corpus_text(docs)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    return corpus.filter(F.pmod(F.xxhash64("doc_id"), F.lit(211)) == 0).select(
        F.concat_ws(" ", F.slice(toks, 1, 8)).alias("gram")
    )


def curate_signature(packed: DataFrame) -> dict:
    """Signature plus the packing invariants: distinct ids and bins whose
    fill exceeds capacity while holding more than one doc. The packed rows
    are materialized once so the two aggregations do not re-pack."""
    packed = packed.localCheckpoint(eager=True)
    bins = packed.groupBy("source", "bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("docs")
    )
    overfull = bins.filter(
        (F.col("fill") > PACK_CAPACITY) & (F.col("docs") > 1)
    ).count()
    sig = signature(packed, F.countDistinct("doc_id").alias("distinct_ids"))
    sig["overfull_bins"] = overfull
    return sig


WORKLOADS = {w.name: w for w in (KgCrh, LinkCurate)}
