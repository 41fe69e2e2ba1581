"""Metric catalogue: every metric the benchmark emits, with unit and
direction, and the end-to-end metric each per-layer metric should move.

``BENCHMARK.json`` lists the same names; ``tests/test_catalogue.py`` keeps
the two in step.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_job_s": ("s", "lower"),
    "job_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
}

LAYERS = ("datagen", "extract", "link", "cc", "fusion", "lineage", "curate")

STANDARD = {
    "s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "busy_frac": ("ratio", "higher"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "gc_s": ("s", "lower"),
    "task_skew": ("ratio", "lower"),
    "failed_tasks": ("count", "lower"),
}

SPECIFIC = {
    "session.s": ("s", "lower"),
    "fusion.iters": ("count", "lower"),
    "fusion.iter_s": ("s", "lower"),
    "fusion.jobs_per_iter": ("count", "lower"),
    "cc.rounds": ("count", "lower"),
    "cc.round_s": ("s", "lower"),
    "link.surfaces": ("count", "lower"),
    "link.candidate_pairs": ("count", "lower"),
    "link.accepted_links": ("count", "higher"),
    "link.accept_ratio": ("ratio", "higher"),
    "extract.claims_per_doc": ("ratio", "higher"),
    "lineage.write_s": ("s", "lower"),
    "lineage.mb_written": ("MB", "lower"),
    "lineage.resume_s": ("s", "lower"),
    "curate.input_docs": ("count", "higher"),
    "curate.kept_ratio": ("ratio", "higher"),
    "trace.job_s": ("s", "lower"),
    "trace.plain_job_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}

PER_LAYER = {
    **{f"{layer}.{m}": spec for layer in LAYERS for m, spec in STANDARD.items()},
    **SPECIFIC,
}

# Which end-to-end metric a per-layer metric should move, on which workload,
# and where it should stay put (the prediction a change is checked against).
MOVES = [
    {"layer_metrics": "fusion.jobs_per_iter, fusion.iter_s", "moves": "job_s",
     "on": "kg_crh", "not_on": "link_curate"},
    {"layer_metrics": "extract.s", "moves": "job_s", "on": "kg_crh, link_curate",
     "not_on": ""},
    {"layer_metrics": "link.*, cc.*", "moves": "job_s", "on": "link_curate",
     "not_on": "kg_crh"},
    {"layer_metrics": "lineage.*", "moves": "job_s", "on": "kg_crh",
     "not_on": "link_curate"},
    {"layer_metrics": "curate.*", "moves": "job_s", "on": "link_curate",
     "not_on": "kg_crh"},
    {"layer_metrics": "*.gc_s, *.spill_mb", "moves": "job_s",
     "on": "kg_crh, link_curate", "not_on": ""},
    {"layer_metrics": "first-job difference in any L.s", "moves": "cold_job_s",
     "on": "kg_crh, link_curate", "not_on": ""},
    {"layer_metrics": "session.s, datagen.s", "moves": "setup_s",
     "on": "kg_crh, link_curate", "not_on": ""},
]


def emit(values: dict, catalogue: dict) -> dict:
    """{name: {"value", "unit"}} for every catalogue name, in order."""
    return {
        name: {"value": values[name], "unit": unit}
        for name, (unit, _) in catalogue.items()
    }
