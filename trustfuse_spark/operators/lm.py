"""Corpus-level statistical language modeling for quality scoring.

Training-data pipelines score documents against an n-gram LM (the CCNet /
KenLM-perplexity filter pattern) and build bounded vocabularies for
tokenizer training. Both fit Spark natively: the LM *is* a grouped count
over the corpus, and scoring is a join of each document's n-grams against
that count table.

Scale shapes (100-TB contract):

- ``vocab_topk``: one hash agg keyed by token (two-phase, map-side
  combined) + a global top-k (TakeOrdered — no full sort materializes).
- ``bigram_lm_score``: two hash aggs build the LM (bigram counts; context
  counts derive from them without touching the corpus again); scoring joins
  the exploded doc bigrams against the LM on the bigram key — a plain
  shuffled hash join that AQE converts to broadcast when the LM is small
  (bounded vocab). The vocabulary size scalar is the only driver value.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import cache, release


def _tokens(text):
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def vocab_topk(docs: DataFrame, text_col: str = "text", top_n: int = 100) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` most frequent whitespace tokens with
    deterministic rank (count desc, token asc) and cumulative corpus
    coverage in [0, 1] — the tokenizer-budget curve.

    One token-keyed hash agg + a global top-k; the total-token scalar rides
    as a cross-joined 1-row aggregate, never a driver collect.
    """
    toks = docs.select(F.explode(_tokens(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    from pyspark.sql import Window

    # top-k FIRST via orderBy+limit (TakeOrdered — never a global sort of
    # the full vocabulary); the rank/cumsum window then runs over top_n rows
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    top = top.withColumn("rank", F.row_number().over(w))
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("coverage", F.round(F.sum("cnt").over(cum) / F.col("__total"), 6))
        .select("token", "cnt", "rank", "coverage")
    )


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Score every document under a bigram LM estimated from the corpus
    itself (add-``alpha`` smoothed): mean log P(w_i | w_{i-1}) over the
    document's bigrams — the in-distribution/perplexity quality signal
    (CCNet-style filtering without an external model).

    P(w2|w1) = (c(w1 w2) + alpha) / (c(w1 ·) + alpha * V), V = |vocab|.

    Returns (id, n_bigrams, avg_logprob); docs with fewer than 2 tokens get
    n_bigrams 0 and NULL avg_logprob (nothing to score).

    The context counts c(w1 ·) are derived FROM the bigram counts (sum per
    w1) so the corpus is exploded exactly once for estimation; V is one
    scalar aggregate. Scoring is a single join on (w1, w2).
    """
    toks = _tokens(F.col(text_col))
    sel = docs.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    n_bi = F.size("__toks") - 1
    starts = F.when(n_bi >= 1, F.sequence(F.lit(1), n_bi)).otherwise(
        F.array().cast("array<int>")
    )
    bi = sel.select(
        "__id",
        F.explode(starts).alias("i"),
        F.col("__toks"),
    ).select(
        "__id",
        F.element_at("__toks", F.col("i")).alias("w1"),
        F.element_at("__toks", F.col("i") + 1).alias("w2"),
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # vocabulary over ALL token positions (not just bigram firsts)
    vocab_n = (
        sel.select(F.explode("__toks").alias("t")).agg(F.countDistinct("t")).collect()[0][0]
    ) or 0
    lm = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.log((F.col("c2") + alpha) / (F.col("c1") + alpha * vocab_n)).alias("logp"),
    )
    scored = bi.join(lm, ["w1", "w2"]).groupBy("__id").agg(
        F.count("*").alias("n_bigrams"), F.avg("logp").alias("avg_logprob")
    )
    base = sel.select("__id")
    return (
        base.join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round("avg_logprob", 6).alias("avg_logprob"),
        )
    )


def perplexity_buckets(
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    n_buckets: int = 3,
    thresholds: list[float] | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): split the corpus into ``n_buckets`` quality
    tiers (head / middle / tail for 3) by LM score — the second half of the
    CCNet recipe whose line-dedup half is `curation.ccnet_line_dedup`.
    Bucket 0 is the best-scoring (head) tier.

    Two assignment paths:

    - ``thresholds`` given (the PRODUCTION path, what CCNet ships): fixed
      cut points computed once (offline, or from a sample percentile job);
      assignment is a pure map-side comparison — bucket = how many
      thresholds the doc's ``avg_logprob`` falls below. Zero shuffles over
      the corpus beyond the scoring join itself; this is the 100-TB shape.
    - ``thresholds=None`` (the EXACT path, gate/test scale): equal-count
      buckets by global rank — ``floor(n_buckets * (rank-1) / n)`` with
      rank ordered by (avg_logprob desc, id asc) over scored docs. The
      rank is a single-partition window (a global sort), so this path is
      for bounded inputs only — exactly the contract of the other
      gate-portable variants (simhash31, poly31 DSIR).

    Ordering uses the ROUNDED score (6 dp, what `bigram_lm_score` emits),
    so rank is reproducible across engines: two docs whose means differ
    only in float-summation noise round equal and fall back to the id
    tiebreak instead of flipping.

    Docs with no bigrams (fewer than 2 tokens) get NULL rank/bucket on
    both paths. Pass ``scores`` (any DataFrame with ``id_col``,
    ``n_bigrams``, ``avg_logprob``) to reuse an already-computed scoring;
    otherwise ``docs`` is scored with :func:`bigram_lm_score`.

    Returns (id, n_bigrams, avg_logprob, rank, bucket).
    """
    if scores is None:
        if docs is None:
            raise ValueError("need docs or scores")
        scores = bigram_lm_score(docs, id_col=id_col, text_col=text_col, alpha=alpha)
    scored = scores.select(id_col, "n_bigrams", "avg_logprob")
    if thresholds is not None:
        below = F.lit(0)
        for t in thresholds:
            below = below + F.when(
                F.col("avg_logprob") < F.lit(float(t)), 1
            ).otherwise(0)
        return scored.select(
            id_col,
            "n_bigrams",
            "avg_logprob",
            F.lit(None).cast("long").alias("rank"),
            F.when(F.col("n_bigrams") > 0, below).otherwise(None)
            .cast("int")
            .alias("bucket"),
        )
    from pyspark.sql import Window

    ranked = (
        scored.filter(F.col("n_bigrams") > 0)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("avg_logprob").desc(), F.col(id_col).asc())
            ),
        )
        .withColumn("__n", F.count("*").over(Window.partitionBy()))
        .select(
            id_col,
            "rank",
            F.floor(
                F.lit(float(n_buckets)) * (F.col("rank") - 1) / F.col("__n")
            )
            .cast("int")
            .alias("bucket"),
        )
    )
    return scored.join(ranked, id_col, "left").select(
        id_col, "n_bigrams", "avg_logprob", "rank", "bucket"
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """BPE tokenizer-merge training (Sennrich et al. 2016,
    arXiv:1508.07909): learn ``n_merges`` merge rules from the corpus and
    return them with the final symbol segmentation of every distinct word.

    Distributed the way production BPE trainers work: the corpus collapses
    ONCE into a (word, count) table — one token-keyed hash agg, map-side
    combined; at 100 TB that table is vocabulary-sized (millions of rows,
    not trillions), so every subsequent merge round touches only it. Per
    round: adjacent symbol pairs come from a ``zip_with`` of the symbol
    array against its own shift (no per-index slicing), one count-weighted
    hash agg ranks pairs, the argmax pair is a 1-row TakeOrdered collect
    (the convergence-scalar convention: a single driver value per
    iteration, like a CRH loss or a Lloyd centroid), and the merge applies
    as ONE codegen ``regexp_replace`` over the vocabulary — greedy
    left-to-right exactly like the reference algorithm (the pattern
    consumes 'a b' but only looks around at the separators, so runs of the
    same symbol merge at odd offsets, matching the sequential fold).

    Ties break deterministically: highest count, then lexicographically
    smallest "a b" pair — pinned so retries, re-runs, and the SQL oracle
    agree. Rounds stop early if no pair occurs twice. The vocab DataFrame
    is cached per round, and a round's argmax collect materializes it, so
    the previous round's vocab is released there: at most two are held.

    Returns ``(merges, vocab)``: merges as [(a, b, count), ...] in rule
    order; vocab as (word, cnt, syms) with ``syms`` the space-joined final
    segmentation.
    """
    import re as _re

    words = (
        docs.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        # initial symbols: one character each, space-joined
        .withColumn(
            "syms", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
        )
    )
    # cache, not lazy localCheckpoint: a lazy checkpoint executes its
    # upstream stages at call time under AQE, adding one synchronous
    # job per merge round; cache materializes inside the round's own
    # argmax collect instead (plan depth stays bounded by n_merges)
    words, prev = cache(words), None
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        s = F.split(F.col("syms"), " ")
        n1 = F.greatest(F.size(s) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(s, 1, n1), F.slice(s, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        best = (
            words.select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .filter(F.col("n") >= 2)
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if prev is not None:
            release(prev)  # the collect materialized words from it
        if not best:
            break
        a, b = best[0]["pair"].split(" ", 1)
        merges.append((a, b, int(best[0]["n"])))
        pat = f"(?<=^| ){_re.escape(a)} {_re.escape(b)}(?= |$)"
        repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
        prev, words = words, cache(
            words.withColumn("syms", F.regexp_replace("syms", pat, repl))
        )
    return merges, words.select("word", "cnt", "syms")


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a learned BPE merge list and return exact
    per-document token counts — the number that feeds sequence packing and
    mixture token budgets (whitespace counts only approximate it).

    ``merges`` is the rank-ordered rule list from :func:`train_bpe`
    (``(a, b)`` or ``(a, b, count)`` tuples both accepted). Encoding uses
    the production (GPT-2-style) loop — repeatedly merge the lowest-rank
    pair present — whose cost per word is independent of the merge-list
    length, unlike naive rank-order application which is
    O(|merges| x |word|). The two are provably equivalent for a merge list
    produced by greedy training: a merge only ever creates pairs of
    strictly higher rank, so the lowest-rank-first loop applies rules in
    rank order.

    Scale shape (100-TB contract): the Python encode runs over the
    DISTINCT-WORD dimension only — one hash agg collapses the corpus to
    its vocabulary, the Arrow-batched pandas UDF encodes each word once,
    and the (word -> n_sym) dim joins back to the exploded corpus (AQE
    broadcasts it while the vocabulary is bounded). Per-token work on the
    corpus side is a join probe + a partial-aggregated SUM; the UDF cost
    is vocabulary-sized, not corpus-sized.

    Returns (id, n_words, n_bpe_tokens); documents with no tokens get
    (0, 0).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    def _n_sym(word: str) -> int:
        syms = list(word)
        while len(syms) > 1:
            best_r, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_r, best_i = r, i
            if best_r is None:
                break
            a, b = syms[best_i], syms[best_i + 1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    @pandas_udf(IntegerType())
    def enc_len(words: pd.Series) -> pd.Series:
        return words.map(_n_sym)

    sel = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(_tokens(F.col(text_col))).alias("word"),
    )
    dim = sel.select("word").distinct().withColumn("n_sym", enc_len("word"))
    per_doc = (
        sel.join(dim, "word")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )
