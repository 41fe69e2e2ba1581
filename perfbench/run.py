"""KG-construction benchmark for trustfuse_spark.

    python3 perfbench/run.py --workload kg_crh --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload in a fresh ``local[N]`` session (N = usable CPUs) from
the checkout that holds this directory: set-up (session start, then input
generation repeated ``SETUP_REPS`` times), one cold job, then as many warm
jobs as fill ``--seconds`` at the workload's nominal job time, at least
``MIN_WARM_JOBS``. Every job's output is checked; a failed check counts as
a failed job without stopping the run.

Timings are reported in reference seconds: before the session starts,
after set-up and after every job, a fixed probe (thread wake-ups and
interpreter work) runs once on every CPU (``cpu_probe``), and every timing
is scaled by ``REF_PROBE_S`` / the run's median probe time. A host that
runs slower for a while (other guests on the same cores) slows the probe
and the program together, so the scaled figures move less than the raw
ones, which the detail line keeps.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, alternates plain and traced warm jobs, and reports the
per-layer metrics (see tracing.py) plus the tracing overhead. ``--smoke``
runs every workload once at tiny sizes and checks that every metric is
emitted. Progress goes to stderr; stdout ends with one JSON result line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3
MIN_WARM_JOBS = 3
DRIVER_MEM_MB = 2048
# Median probe time on the reference machine (4 vCPUs, quiet host).
REF_PROBE_S = 0.23
# Host-speed probe: thread wake-ups (a pipe ping-pong with a forked
# partner) and interpreter work, what the benchmark's many small Spark
# jobs mostly wait on.
PROBE = """
import os, time
r1, w1 = os.pipe()
r2, w2 = os.pipe()
t = time.perf_counter()
if os.fork() == 0:
    for _ in range(15000):
        os.read(r1, 1)
        os.write(w2, b"x")
    os._exit(0)
for _ in range(15000):
    os.write(w1, b"x")
    os.read(r2, 1)
os.wait()
s = 0
for i in range(500_000):
    s = (s * 31 + i) & 0xFFFFFFFF
print(time.perf_counter() - t)
"""
# A run that has taken this long starts no further warm jobs (it keeps at
# least one), so a slow host stays inside the run budget. Traced runs time
# a plain and a traced job per step and get longer.
DEADLINE_S = {False: 60, True: 120}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def total_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(out_dir: str) -> dict:
    """Environment for the JVM and its Python workers, set before the
    session starts: workers import trustfuse_spark through PYTHONPATH, and
    every scratch file stays under ``out_dir``."""
    ncpu = len(os.sched_getaffinity(0))
    mem_mb = total_mem_mb()
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_DRIVER_MEM=f"{min(DRIVER_MEM_MB, mem_mb // 3)}m",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(out_dir, "local"),
        TMPDIR=tmp,
    )
    return {"nproc": ncpu, "mem_total_mb": mem_mb, "driver_mem": os.environ["SPARK_DRIVER_MEM"]}


def _tree_rss(root: int, skip: set[int]) -> dict[str, int]:
    """Proportional resident bytes (PSS, so pages a forked child shares with
    its parent count once) of ``root`` and its descendants by command name,
    from /proc. Processes in ``skip`` and their children are left out."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    by_comm: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
        by_comm[comm] = by_comm.get(comm, 0) + pss * 1024
    return by_comm


class RssMonitor:
    """Samples the process tree's resident memory on a background thread,
    leaving out the processes in ``skip`` (host-speed probes)."""

    def __init__(self, interval: float = 0.2):
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self.skip: set[int] = set()
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            sample = {k: v / 2**20 for k, v in _tree_rss(os.getpid(), set(self.skip)).items()}
            if sum(sample.values()) > self.peak_mb:
                self.peak_mb = sum(sample.values())
                self.peak_by_comm = sample

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def warm_job_count(seconds: float, nominal_job_s: float) -> int:
    """Warm jobs that fill ``seconds`` at the workload's nominal job time
    on the reference machine (4 vCPUs), at least ``MIN_WARM_JOBS``."""
    return max(MIN_WARM_JOBS, round(seconds / nominal_job_s))


def cpu_probe(ncpu: int, rss: RssMonitor) -> float:
    """Median seconds of ``PROBE`` run once on every CPU at once; each
    process times its own work, so process start-up is not counted."""
    procs = [
        subprocess.Popen([sys.executable, "-c", PROBE], stdout=subprocess.PIPE, text=True)
        for _ in range(ncpu)
    ]
    pids = {p.pid for p in procs}
    rss.skip |= pids
    try:
        return statistics.median(float(p.communicate()[0]) for p in procs)
    finally:
        rss.skip -= pids


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_session(out_dir: str, trace: bool):
    from trustfuse_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        log_dir = os.path.join(out_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # Spark 4 zstd-compresses event logs by default; read them as JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> dict:
    """One benchmark run; returns the result dict (plus a ``detail`` key)."""
    import pyspark

    from trustfuse_spark.operators.fusion.base import persistent_rdd_ids, release_rdds

    import metrics
    from tracing import Tracer, layer_report, read_event_log
    from workloads import WORKLOADS

    t_run = time.perf_counter()
    out_dir = os.path.join(OUT, name)
    shutil.rmtree(out_dir, ignore_errors=True)
    env = pin_environment(out_dir)
    ncpu = env["nproc"]
    rss = RssMonitor()
    cpu_probe(ncpu, rss)  # the first probe of a run reads slow (cold caches)
    probes = [cpu_probe(ncpu, rss)]
    with rss:
        t0 = time.perf_counter()
        spark = start_session(out_dir, trace)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if trace else None
            wl = WORKLOADS[name](spark, out_dir, seed, smoke)
            rep_s = []
            for r in range(SETUP_REPS):
                scope = tracer.job(f"setup{r}", "datagen", patched=False) if tracer else nullcontext()
                t = time.perf_counter()
                with scope:
                    wl.setup()
                rep_s.append(time.perf_counter() - t)
            probes.append(cpu_probe(ncpu, rss))
            wl.load()
            log(f"{name}: session {session_s:.2f}s, set-up reps {[round(x, 2) for x in rep_s]},"
                f" {wl.input_rows} input rows")

            base_rdds = persistent_rdd_ids(spark)
            jobs: list[dict] = []

            def run_job(kind: str) -> dict:
                idx = len(jobs)
                traced = kind == "traced"
                if tracer:
                    tracer.boundaries = traced and wl.in_memory
                scope = tracer.job(f"job{idx}") if traced else nullcontext()
                steal0 = steal_s()
                t = time.perf_counter()
                dt, check_s = None, 0.0
                try:
                    with scope:
                        sig = wl.job(idx)
                    dt = time.perf_counter() - t
                    errors = wl.check(idx, sig)
                    check_s = time.perf_counter() - t - dt
                    if traced:
                        for key, value in wl.trace_extras(idx).items():
                            tracer.counts[(f"job{idx}", key)] += value
                except Exception as exc:  # a failed job is counted, not fatal
                    if dt is None:
                        dt = time.perf_counter() - t
                    traceback.print_exc(file=sys.stderr)
                    errors = [f"{type(exc).__name__}: {exc}"]
                rec = {"idx": idx, "kind": kind, "s": dt, "check_s": check_s,
                       "steal_s": steal_s() - steal0, "errors": errors}
                jobs.append(rec)
                log(f"{name}: job {idx} ({kind}) {dt:.3f}s"
                    + (f" FAILED {errors}" if errors else ""))
                return rec

            def cleanup(rec: dict) -> None:
                release_rdds(spark, persistent_rdd_ids(spark) - base_rdds)
                wl.cleanup(rec["idx"])
                probes.append(cpu_probe(ncpu, rss))

            cleanup(run_job("cold"))
            # A fixed job count per run (not "until the clock runs out"), so
            # every run has the same structure: the first warm jobs still
            # carry JIT warm-up, and a varying count would add that as noise.
            # Only the deadline cuts it short, on a slow host. Traced runs
            # alternate which of a plain/traced pair goes first.
            resume_s = 0.0
            for i in range(warm_job_count(seconds, wl.nominal_job_s)):
                if i and time.perf_counter() - t_run > DEADLINE_S[trace]:
                    log(f"{name}: past {DEADLINE_S[trace]}s, no more warm jobs")
                    break
                kinds = ["warm", "traced"][:: 1 if i % 2 == 0 else -1] if trace else ["warm"]
                for kind in kinds:
                    rec = run_job(kind)
                    if kind == "traced" and resume_s == 0.0 and hasattr(wl, "resume"):
                        with tracer.job("resume"):
                            t = time.perf_counter()
                            wl.resume(rec["idx"])
                            resume_s = time.perf_counter() - t
                    cleanup(rec)
            quality = wl.quality
        finally:
            stop_session(spark)

    # One factor per run: a probe taken right after a cold phase shares the
    # CPUs with the JVM's JIT compiler and reads slow, which the median
    # outvotes.
    speed = REF_PROBE_S / statistics.median(probes)
    failed = sum(1 for j in jobs if j["errors"])
    for j in jobs:
        j["ref_s"] = j["s"] * speed
    warm = [j for j in jobs if j["kind"] == "warm"]
    job_s = statistics.median(j["ref_s"] for j in warm)
    e2e = {
        "setup_s": (session_s + statistics.median(rep_s)) * speed,
        "cold_job_s": jobs[0]["ref_s"],
        "job_s": job_s,
        "rows_per_s": wl.input_rows / job_s,
    }
    detail = {
        "workload": name,
        "seed": seed,
        "window_offset": wl.offset,
        "sizes": vars(wl.sizes),
        "input_rows": wl.input_rows,
        "env": {**env, "spark": pyspark.__version__, "python": platform.python_version()},
        "session_s": session_s,
        "setup_rep_s": rep_s,
        "jobs": [{k: v for k, v in j.items() if k != "idx"} for j in jobs],
        "warm_jobs": len(warm),
        "drift_pct": 100.0 * (warm[-1]["ref_s"] - warm[0]["ref_s"]) / warm[0]["ref_s"],
        "probe_s": probes,
        "host_speed": speed,
        "end_to_end": e2e,
        "quality": quality,
        "peak_rss_mb": rss.peak_mb,
        "peak_rss_by_command_mb": rss.peak_by_comm,
        "run_wall_s": time.perf_counter() - t_run,
    }
    if trace:
        traced = [j for j in jobs if j["kind"] == "traced"]
        traced_s = statistics.median(j["ref_s"] for j in traced)
        (log_path,) = glob.glob(os.path.join(out_dir, "eventlog", "*"))
        layers = layer_report(
            tracer,
            read_event_log(log_path),
            [f"setup{r}" for r in range(SETUP_REPS)],
            [f"job{j['idx']}" for j in traced],
            ncpu,
            wl.input_rows,
            {
                "session.s": session_s,
                "lineage.resume_s": resume_s,
                "trace.job_s": traced_s,
                "trace.plain_job_s": job_s,
                "trace.overhead_pct": 100.0 * (traced_s - job_s) / job_s,
            },
        )
        detail["moves"] = metrics.MOVES
        tracer.write(os.path.join(out_dir, "spans.json"), {"detail": detail, "layers": layers})
        values, catalogue = layers, metrics.PER_LAYER
    else:
        values, catalogue = e2e, metrics.END_TO_END
    shutil.rmtree(os.path.join(out_dir, "input"), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, "local"), ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics.emit(values, catalogue),
        "detail": detail,
    }


def smoke() -> int:
    """Every workload once at tiny sizes, traced: every metric must appear,
    every check pass, and every layer the workload exercises show time and
    Spark jobs."""
    import metrics
    from workloads import WORKLOADS

    problems = []
    for name, workload in WORKLOADS.items():
        res = run_workload(name, seed=0, seconds=0, trace=True, smoke=True)
        e2e = res["detail"]["end_to_end"]
        missing = [m for m in metrics.END_TO_END if m not in e2e]
        missing += [m for m in metrics.PER_LAYER if m not in res["metrics"]]
        idle = [
            f"{layer}.{m}"
            for layer in workload.layers
            for m in ("s", "jobs")
            if not res["metrics"][f"{layer}.{m}"]["value"]
        ]
        if missing or idle or not res["correct"]:
            problems.append(
                {"workload": name, "missing": missing, "idle": idle, "failed": res["failed"]}
            )
        print(json.dumps({"workload": name, "end_to_end": e2e, "layers": res["metrics"]}))
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "trustfuse_spark", "__init__.py")):
        log(f"no trustfuse_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    detail = res.pop("detail")
    print(json.dumps({"detail": detail}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
