"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is the one you would set on a
real multi-executor cluster: AQE on (runtime re-plan + skew-join), Arrow on
(all our UDFs are pandas/Arrow-batched), shuffle partitions sized to cores
rather than the 200 default.

Generated-code cache. Spark compiles each whole-stage and expression class
once and keeps it in a JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` classes (default 100). The engine's
jobs re-run the same plans, so a cache that holds their working set turns
every warm job's compilation into cache hits. At the default, one
``link_curate`` perfbench job (linking, CC, fusion and curation: 183
distinct classes, visited in the same order every time) evicts each class
before it is used again and recompiles 177-180 of them on every warm job;
at `CODEGEN_CACHE_MAX_ENTRIES` it recompiles none. The setting is static:
Spark reads it once, when the first session of the JVM starts, so every
entry point that builds its own session takes it from `STATIC_CONF`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Directory holding the trustfuse_spark package (a checkout or a zip).
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM_CAP_MB = 16 * 1024
# Generated-code cache size, from the measured working sets (4 vCPUs,
# distinct classes compiled on a cold JVM): 183 for one
# run_pipeline(link_entities=True) + curate_corpus call, 45 for one
# run_resumable_pipeline(model="crh") call, about 2,290 for one pass of the
# 50 check_correctness.py queries. 4096 holds the largest of them with room
# for Guava's split of the cache into 4 LRU segments of 1,024; a second
# pass of those queries then compiles 325 classes instead of 2,618 (100
# entries) or 1,957 (2,000 entries). Measured cost against 100 entries,
# JVM metaspace and heap in use after GC net of cached blocks: +1.6 MB and
# +5 MB after six link_curate jobs; +22 MB (203.6 vs 181.3 MB) and +79 MB
# (302 vs 223 MB) after two passes of the queries, about 2,500 more
# cached classes.
CODEGEN_CACHE_MAX_ENTRIES = 4096
# Static (JVM-wide) settings: read once, when the first session starts, so
# every builder of a session must apply them -- get_spark and the
# spark-submit entry point (scripts/submit_job.py) both take them from here.
STATIC_CONF = {"spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES)}


def default_driver_memory() -> str:
    """Half of this host's memory (MemTotal), at most 16g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(kb // 2048, DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "trustfuse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N-ish partitions; a real cluster would use 2-3x cores.
        n = cpus if master.startswith("local") else 2 * cpus
        shuffle_partitions = max(n, 8)
    # Shuffle/spill files on tmpfs when available: a single local disk
    # serializes 32 concurrent shuffle writers (measured: the 8->32-core
    # scaling bench was I/O-bound, not CPU-bound). On a real cluster this
    # is per-executor local SSD instead.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by size, not parallelism: iterative
        # fusion plans have many small shuffles whose per-task overhead
        # otherwise dominates (measured 5x on the CRH loop). The advisory is
        # deliberately small so medium inputs still fan out across cores
        # (64m serialized a ~100MB-shuffle job to 1 partition and inverted
        # the 8->32-core scaling); override via SPARK_GRAFT_ADVISORY.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY", "4m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Let the planner choose shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1/§9): equi-join results are identical,
        # but SMJ pays a sort of both sides — ruinous when rows carry array
        # payloads (shingle sets, signatures, embeddings). The AQE rewrite
        # threshold below additionally converts planned SMJs whose
        # post-shuffle build partitions are verifiably small at runtime —
        # the guarded form, so a huge build-side partition still gets the
        # spill-safe sort-merge. Both parameterised for cluster overrides.
        # Exposure: with preferSortMergeJoin=false the STATIC planner may
        # also pick a shuffled-hash join from relation-level size estimates
        # (made before execution, blind to per-partition skew), and that
        # join's build side is an in-memory hash map that does not spill.
        # Only the AQE rewrite checks every post-shuffle partition at
        # runtime. A skewed or underestimated build side can therefore fail
        # a task with OOM where sort-merge would have spilled;
        # SPARK_GRAFT_PREFER_SMJ=true limits shuffled-hash joins to the
        # runtime-checked AQE rewrite.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(map=STATIC_CONF)
    )
    if master.startswith("local"):
        # Python workers start in the driver's cwd with the driver's
        # PYTHONPATH; put the package on theirs so pandas UDFs can unpickle
        # trustfuse_spark functions wherever the driver was started.
        builder = builder.config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
