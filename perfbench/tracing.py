"""Per-layer tracing, recorded from outside the program.

The traced run wraps each layer's public functions (module attributes and
class methods, patched for the duration of one traced job) in spans. Every
span names a layer; the innermost open span is the *active* layer, which
gets the wall time (self time) and a Spark job group ``<layer>#<job>``, so
the Spark event log can be split per layer afterwards. Spans stay in memory
and are written out once, at the end of the run.

Attribution rules where laziness would otherwise blur layers:

* ``StageRun.materialize(stage)`` is active as the layer that produces the
  stage (claims -> extract, truth -> fusion, else lineage) until its
  ``ParquetSink.write`` returns; the read-back and lineage record after the
  write are ``lineage``.
* ``CheckpointRotator.rotate`` spans inherit the active layer: inside
  ``fusion`` each is one iteration, inside ``cc`` one round.
* With ``boundaries`` on (in-memory workloads), each layer's output is
  checkpointed when its call returns, so its work runs inside its own span
  instead of in whichever later action first needs it. The benchmark's own
  row counts run in an ``other`` span, outside every layer.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from trustfuse_spark.operators import linking
from trustfuse_spark.operators.fusion.base import CheckpointRotator, FusionResult
from trustfuse_spark.plans import curate, lineage, pipeline

from metrics import LAYERS, PER_LAYER

STAGE_LAYER = {"claims": "extract", "truth": "fusion"}
ROOT_LAYER = "other"  # the job's own actions outside every layer call


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.boundaries = False
        self.spans: list[dict] = []
        self.self_s: dict[tuple[str, str], float] = defaultdict(float)
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._stack: list[list] = []  # [layer, span index]
        self._job = ""
        self._t0 = self._t = time.perf_counter()

    def _charge(self) -> None:
        now = time.perf_counter()
        if self._stack:
            self.self_s[(self._job, self._stack[-1][0])] += now - self._t
        self._t = now

    def _set_group(self) -> None:
        if self._stack:
            layer = self._stack[-1][0]
            self._sc.setJobGroup(f"{layer}#{self._job}", layer)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        self._charge()
        layer = layer or self._stack[-1][0]
        rec = {
            "job": self._job,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1][1] if self._stack else None,
            "start": self._t - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append([layer, len(self.spans) - 1])
        self._set_group()
        try:
            yield rec
        finally:
            self._charge()
            rec["end"] = self._t - self._t0
            self._stack.pop()
            self._set_group()

    def switch(self, layer: str) -> None:
        """Re-label the innermost open span's remaining time."""
        self._charge()
        self._stack[-1][0] = layer
        self._set_group()

    def count(self, name: str, value: float) -> None:
        self.counts[(self._job, name)] += value

    def count_rows(self, name: str, df) -> None:
        """Count ``df``'s rows as the benchmark's own work, outside every
        layer."""
        with self.span(f"count:{name}", ROOT_LAYER):
            self.count(name, df.count())

    @contextmanager
    def job(self, job: str, layer: str = ROOT_LAYER, patched: bool = True):
        """One traced unit of work (a set-up repetition or a timed job)."""
        self._job = job
        undo = _install(self) if patched else (lambda: None)
        try:
            with self.span(job, layer):
                yield
        finally:
            undo()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def _install(tracer: Tracer):
    """Wrap the layers' public calls; returns the undo function."""
    saved = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def layer_call(layer, boundary=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(orig.__name__, layer):
                    out = orig(*args, **kwargs)
                    if tracer.boundaries and boundary is not None:
                        out = boundary(out)
                    return out

            return wrapper

        return make

    def counted(name):
        def boundary(df):
            out = df.localCheckpoint(eager=True)
            tracer.count_rows(name, out)
            return out

        return boundary

    def fused(result):
        return FusionResult(truth=result.truth.localCheckpoint(eager=True), weights=result.weights)

    def canonicalize(orig):
        def wrapper(claims, *args, **kwargs):
            with tracer.span(orig.__name__, "link"):
                if tracer.boundaries:
                    tracer.count_rows("link.surfaces", claims.select("entity").distinct())
                    return orig(claims, *args, **kwargs).localCheckpoint(eager=True)
                return orig(claims, *args, **kwargs)

        return wrapper

    def materialize(orig):
        def wrapper(run, stage, *args, **kwargs):
            with tracer.span(f"materialize:{stage}", STAGE_LAYER.get(stage, "lineage")):
                return orig(run, stage, *args, **kwargs)

        return wrapper

    def sink_write(orig):
        def wrapper(sink, df, name, *args, **kwargs):
            with tracer.span(f"write:{name}") as rec:
                orig(sink, df, name, *args, **kwargs)
            tracer.count("lineage.write_s", rec["end"] - rec["start"])
            tracer.switch("lineage")

        return wrapper

    def rotate(orig):
        def wrapper(rotator, df):
            with tracer.span("rotate"):
                return orig(rotator, df)

        return wrapper

    patch(pipeline, "docs_to_claims", layer_call("extract", counted("extract.claims")))
    patch(pipeline, "canonicalize_claims", canonicalize)
    patch(pipeline, "fuse", layer_call("fusion", fused))
    patch(linking, "lsh_candidate_pairs", layer_call("link", counted("link.candidate_pairs")))
    patch(linking, "candidate_links", layer_call("link", counted("link.accepted_links")))
    patch(linking, "connected_components", layer_call("cc"))
    patch(lineage, "run_resumable_pipeline", layer_call("lineage"))
    patch(lineage.StageRun, "materialize", materialize)
    patch(lineage.ParquetSink, "write", sink_write)
    patch(CheckpointRotator, "rotate", rotate)
    patch(curate, "curate_corpus", layer_call("curate", counted("curate.kept")))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


class GroupStats:
    """Spark task counters of one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.failed = 0
        self.run_s = 0.0
        self.gc_s = 0.0
        self.shuffle_mb = 0.0
        self.spill_mb = 0.0
        self.stage_runs: dict[int, list[float]] = defaultdict(list)

    def skew(self) -> float:
        """max / median task run time in the stage with the most run time."""
        if not self.stage_runs:
            return 0.0
        runs = max(self.stage_runs.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job group id -> counters, from an uncompressed Spark event log."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    wanted = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
    with open(path) as fh:
        for line in fh:
            if not line.startswith(wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                run_s = tm.get("Executor Run Time", 0) / 1000.0
                g.tasks += 1
                g.failed += int(bool(info.get("Failed")) or bool(info.get("Killed")))
                g.run_s += run_s
                g.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                g.shuffle_mb += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                )
                g.spill_mb += tm.get("Disk Bytes Spilled", 0) / 2**20
                g.stage_runs[ev["Stage ID"]].append(run_s)
    return groups


def _unit_intervals(rotates: list[dict]) -> list[float]:
    """Durations of iterations/rounds: the time between consecutive rotate
    ends under one parent span (a lone rotate counts its own duration)."""
    by_parent = defaultdict(list)
    for s in rotates:
        by_parent[s["parent"]].append(s)
    out = []
    for rots in by_parent.values():
        ends = [r["end"] for r in rots]
        out += [b - a for a, b in zip(ends, ends[1:])] or [rots[0]["end"] - rots[0]["start"]]
    return out


def job_layer_metrics(
    tracer: Tracer, groups: dict[str, GroupStats], job: str, ncpu: int, input_rows: int
) -> dict[str, float]:
    """Every per-layer metric of one traced job (0 for unexercised layers)."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(f"{layer}#{job}", GroupStats())
        wall = tracer.self_s.get((job, layer), 0.0)
        out.update({
            f"{layer}.s": wall,
            f"{layer}.jobs": g.jobs,
            f"{layer}.tasks": g.tasks,
            f"{layer}.busy_frac": g.run_s / (wall * ncpu) if wall > 0 else 0.0,
            f"{layer}.shuffle_write_mb": g.shuffle_mb,
            f"{layer}.spill_mb": g.spill_mb,
            f"{layer}.gc_s": g.gc_s,
            f"{layer}.task_skew": g.skew(),
            f"{layer}.failed_tasks": g.failed,
        })
    rotates = {
        layer: [s for s in tracer.spans
                if s["job"] == job and s["name"] == "rotate" and s["layer"] == layer]
        for layer in ("fusion", "cc")
    }
    iters, rounds = _unit_intervals(rotates["fusion"]), _unit_intervals(rotates["cc"])
    n_iters = len(rotates["fusion"])
    counts = {name: v for (j, name), v in tracer.counts.items() if j == job}
    pairs = counts.get("link.candidate_pairs", 0)
    accepted = counts.get("link.accepted_links", 0)
    out.update({
        "fusion.iters": n_iters,
        "fusion.iter_s": statistics.median(iters) if iters else 0.0,
        "fusion.jobs_per_iter": out["fusion.jobs"] / n_iters if n_iters else 0.0,
        "cc.rounds": len(rotates["cc"]),
        "cc.round_s": statistics.median(rounds) if rounds else 0.0,
        "link.surfaces": counts.get("link.surfaces", 0),
        "link.candidate_pairs": pairs,
        "link.accepted_links": accepted,
        "link.accept_ratio": accepted / pairs if pairs else 0.0,
        "extract.claims_per_doc": counts.get("extract.claims", 0) / input_rows,
        "lineage.write_s": counts.get("lineage.write_s", 0.0),
        "lineage.mb_written": counts.get("lineage.mb_written", 0.0),
        "curate.input_docs": input_rows if "curate.kept" in counts else 0,
        "curate.kept_ratio": counts.get("curate.kept", 0) / input_rows,
    })
    return out


def layer_report(
    tracer: Tracer,
    groups: dict[str, GroupStats],
    setup_jobs: list[str],
    traced_jobs: list[str],
    ncpu: int,
    input_rows: int,
    extra: dict[str, float],
) -> dict[str, float]:
    """Medians over traced jobs (set-up repetitions for ``datagen.*``),
    merged with run-level values in ``extra``."""
    per_job = {
        j: job_layer_metrics(tracer, groups, j, ncpu, input_rows)
        for j in setup_jobs + traced_jobs
    }

    def med(jobs, name):
        return statistics.median(per_job[j][name] for j in jobs)

    out = {}
    for name in PER_LAYER:
        if name in extra:
            out[name] = extra[name]
        elif name.startswith("datagen."):
            out[name] = med(setup_jobs, name)
        else:
            out[name] = med(traced_jobs, name)
    return out
