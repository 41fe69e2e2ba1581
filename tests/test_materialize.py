"""The materialization seam in ``fusion.base``.

* Only ``operators/fusion/base.py`` calls Spark persistence.
* ``owned()`` frees what is checkpointed or cached inside it, per thread,
  and nothing else; ``release`` frees one frame's own materialization.
* Callers that finish on the driver or at a table boundary leave nothing
  behind: ``run_resumable_pipeline``, ``run_pipeline``'s linking, and
  ``train_bpe``'s merge rounds.
"""

import ast
import pathlib
import threading

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from trustfuse_spark.datagen import gen_docs
from trustfuse_spark.operators.fusion.base import (
    cache,
    checkpoint,
    owned,
    persistent_rdd_ids,
    release,
)
from trustfuse_spark.operators.lm import train_bpe
from trustfuse_spark.plans.lineage import run_resumable_pipeline
from trustfuse_spark.plans.pipeline import run_pipeline

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "trustfuse_spark"
SEAM = PACKAGE / "operators" / "fusion" / "base.py"


def _persistence_calls(path: pathlib.Path) -> list[str]:
    """``.localCheckpoint(...)``, ``.persist(...)``, ``.unpersist(...)`` and
    argument-less ``.cache()`` calls in one file's code (not its comments or
    docstrings), as "file:line name"."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        if name in ("localCheckpoint", "persist", "unpersist") or (
            name == "cache" and not node.args and not node.keywords
        ):
            out.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {name}")
    return out


def test_only_the_seam_calls_spark_persistence():
    calls = [c for p in sorted(PACKAGE.rglob("*.py")) if p != SEAM for c in _persistence_calls(p)]
    assert calls == []
    assert _persistence_calls(SEAM)  # the scan does see calls


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _held(spark) -> tuple[set[int], int]:
    return persistent_rdd_ids(spark), _cached_entries(spark)


def test_owned_frees_what_it_takes_and_nothing_else(spark):
    bystander = spark.range(50).withColumn("x", F.col("id") * 3).cache()
    assert bystander.count() == 50
    before = _held(spark)
    with owned():
        ck = checkpoint(spark.range(10).withColumn("y", F.col("id") + 1))
        lazy = checkpoint(spark.range(7), eager=False)
        cached = cache(spark.range(30).withColumn("z", F.col("id") * 2))
        assert cached.count() == 30 and lazy.count() == 7
        assert len(persistent_rdd_ids(spark) - before[0]) == 3
        total = ck.agg(F.sum("y")).collect()[0][0]
    assert total == 55
    assert _held(spark) == before
    assert bystander.count() == 50 and bystander.is_cached  # untouched
    # a frame built inside a closed scope cannot be acted on
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ck.collect()
    bystander.unpersist()


def test_inner_scope_frees_its_own_only(spark):
    before = _held(spark)
    with owned():
        outer = checkpoint(spark.range(5))
        with owned():
            checkpoint(spark.range(6))
        assert len(persistent_rdd_ids(spark) - before[0]) == 1
        assert outer.count() == 5
    assert _held(spark) == before


def test_scope_is_per_thread(spark):
    before = persistent_rdd_ids(spark)
    taken = []
    with owned():
        worker = threading.Thread(target=lambda: taken.append(checkpoint(spark.range(4))))
        worker.start()
        worker.join()
    # taken in another thread, so not this scope's to free
    assert taken[0].count() == 4
    release(taken[0])
    assert persistent_rdd_ids(spark) == before


def test_release_frees_one_frames_own_materialization(spark):
    before = _held(spark)
    a = checkpoint(spark.range(3))
    b = checkpoint(spark.range(4))
    c = cache(spark.range(5))
    assert c.count() == 5
    release(a)
    assert b.count() == 4 and len(persistent_rdd_ids(spark) - before[0]) == 2
    release(c)
    assert _cached_entries(spark) == before[1]
    release(b)
    assert _held(spark) == before
    # a frame the seam did not materialize has no checkpoint RDD to find
    with pytest.warns(RuntimeWarning, match="probe failed"):
        release(spark.range(2))


@pytest.fixture(scope="module")
def docs(spark):
    return checkpoint(gen_docs(spark, 40, 6, 2))


@pytest.mark.parametrize("model", ["crh", "accu", "ltm"])
def test_resumable_pipeline_leaves_nothing_behind(spark, docs, tmp_path, model):
    """Every stage is read back from its table, so nothing the stage
    computation checkpointed or cached outlives the call."""
    kwargs = {"max_itr": 20} if model == "ltm" else {}
    before = _held(spark)
    for run_id in ("a", "b"):
        triples, _ = run_resumable_pipeline(spark, docs, str(tmp_path), run_id, model=model, **kwargs)
        assert _held(spark) == before, run_id
        assert triples.count() > 0


def test_linked_pipeline_keeps_only_the_claims_checkpoint(spark):
    """The MinHash signatures and the CC edge list are dead once their
    driver-side paths have their rows; the fused claims checkpoint is what
    the returned frames read."""
    noisy = checkpoint(gen_docs(spark, 40, 5, 2, entity_noise=True))
    before = persistent_rdd_ids(spark)
    triples, result = run_pipeline(noisy, model="majority", link_entities=True)
    assert len(persistent_rdd_ids(spark) - before) == 1
    assert triples.count() > 0
    assert result.weights.count() > 0


def test_train_bpe_holds_at_most_two_vocabularies(spark):
    left = []
    for n_merges in (2, 6):
        # a corpus per call: equal plans would share cache entries
        docs = spark.createDataFrame(
            [(1, f"low lower lowest low low newer wider d{n_merges}"), (2, "aaaa aa newer new zz zz")],
            "doc_id long, text string",
        )
        before = _cached_entries(spark)
        merges, vocab = train_bpe(docs, n_merges)
        assert len(merges) == n_merges and vocab.count() > 0
        left.append(_cached_entries(spark) - before)
    assert left[0] == left[1] == 2
