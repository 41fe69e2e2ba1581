"""Training-data curation operators.

The reference pipeline curates *claims* (trustfuse `models/`, `dataset.py`);
a 100-TB LLM training pipeline needs the same discipline on the *document*
side. This module adds the curation stages that sit between raw ingest and
fusion/training: benchmark decontamination, PII scan + redaction,
within-document repetition scoring, Gopher/C4 rule gates, CCNet
cross-document line dedup, fastText-style hashed linear quality scoring,
deterministic stratified sampling, greedy sequence packing, and
domain-mixture planning.

Scale shapes (the 100-TB contract for each operator):

- ``decontaminate``: the benchmark n-gram set is a small dim (eval suites are
  tens of MB) — broadcast hash join against the exploded corpus grams, so the
  corpus never shuffles; the per-doc hit count is a partial (map-side
  combined) aggregate keyed by doc id.
- ``pii_scan`` / ``pii_redact``: pure codegen'd regexp expressions — stateless
  map, zero shuffles.
- ``dup_ngram_ratio``: per-row array expressions — stateless map.
- ``stratified_sample``: hash-threshold filter — stateless map, zero
  shuffles, deterministic under retries (the draw is a pure function of the
  key + salt, never Rand()).
- ``pack_sequences``: greedy packing is inherently sequential *within* a
  shard; the operator keys on a caller-chosen shard column so parallelism =
  number of shards while each shard packs exactly and deterministically.
- ``mixture_plan``: one partial aggregate over the corpus + arithmetic on a
  handful of domain rows.
- ``line_dedup``: one hash aggregate keyed by the normalized line (min-pos
  winner — no window, no sort), a key-co-partitioned mark join, one
  doc-keyed reassembly shuffle of the surviving lines only.
- ``hashed_linear_score``: stateless map — the weight table ships as a
  literal array in the task binary, tokens hash JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.dedup import _fan_out
from trustfuse_spark.operators.fusion.base import cache, checkpoint

_POLY_M31 = (1 << 31) - 1

# RE2- and java.util.regex-compatible (no lookaround/backrefs) so the same
# pattern runs on Spark and any oracle engine.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}",
}
# Redaction must run in this order: the phone pattern can match digit runs
# inside an already-matched email/ipv4 span, never the reverse.
PII_ORDER = ("email", "ipv4", "phone")


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined lowercase word ``n``-grams (empty when the doc
    has fewer than ``n`` tokens).

    Built as a chain of ``zip_with`` over ``n`` shifted slices of the token
    array rather than ``transform(sequence, i -> slice(toks, i, n))`` — the
    per-index form allocates an n-element sub-array per gram inside an
    interpreted HOF and measured ~2x slower at 1.48M docs (15.9M bigrams:
    4.1-6.6 s vs 2.5 s); the zip chain does one pairwise concat pass per
    gram order. Output is element-for-element identical."""
    toks = _tokens(text)
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, k)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, 1 + j, k), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Flag documents that contain any benchmark ``n``-gram verbatim
    (train/test contamination check, cf. GPT-3 §2.2 / PaLM app. sec dedup).

    ``benchmark`` must expose a ``gram`` string column (space-joined
    lowercase word n-grams of the held-out suite). Returns ``docs`` plus
    ``n_contaminated`` (matched gram occurrences) and ``contaminated``.

    Plan shape: corpus grams are exploded map-side and hit a *broadcast*
    hash join with the benchmark set — the corpus itself never shuffles; the
    count-per-doc aggregate partial-combines before the (tiny, hits-only)
    exchange.
    """
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    bench = F.broadcast(benchmark.select("gram").distinct())
    hits = grams.join(bench, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_contaminated")
    )
    out = docs.join(hits, id_col, "left")
    out = out.withColumn(
        "n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0))
    )
    return out.withColumn("contaminated", F.col("n_contaminated") > 0)


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy decontamination: per-document *distinct* ``n``-gram Jaccard-style
    overlap with the benchmark set — |distinct doc grams ∩ benchmark| /
    |distinct doc grams| — flagging docs whose overlap fraction reaches
    ``threshold`` even when no single gram run is verbatim-contiguous (the
    near-duplicate-of-an-eval-item case `decontaminate`'s any-hit rule
    treats the same as one stray collision).

    Same plan shape as `decontaminate`: distinct grams explode map-side
    (array_distinct before the explode), the benchmark stays a broadcast
    dim, per-doc counts partial-aggregate. Docs with no grams (shorter than
    ``n`` tokens) get overlap 0.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    bench = F.broadcast(benchmark.select("gram").distinct())
    hits = grams.join(bench, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_overlap")
    )
    out = (
        docs.join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0)))
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_overlap") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return out.withColumn("overlap_frac", F.round(frac, 6)).withColumn(
        "fuzzy_contaminated", F.col("overlap_frac") >= threshold
    )


def sample_tiers(
    docs: DataFrame,
    rates: list[float],
    key_col: str = "doc_id",
    salt: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Nested corpus subsets for scaling-law experiments: one deterministic
    draw u per document against a SORTED ladder of rates produces samples
    where every smaller tier is strictly contained in every larger one
    (u < 0.1 implies u < 0.25 implies u < 0.5) — train a model per tier and
    the 10% corpus is literally a subset of the 25% corpus, the property
    learning-curve fits assume. Adds ``tier`` = the smallest admitting rate
    (NULL when even the largest rejects).

    The draw is `stratified_sample`'s: portable poly31+mix by default
    (SQL-replayable, gate/test scale), or pass ``hash_expr`` (e.g.
    xxhash64-based) for corpus runs — pure map-side either way, zero
    shuffles, retry/speculation-stable.
    """
    ladder = sorted(set(float(r) for r in rates))
    if not ladder or ladder[0] <= 0 or ladder[-1] > 1:
        raise ValueError("rates must be in (0, 1]")
    u = (
        hash_expr
        if hash_expr is not None
        else portable_uniform(F.col(key_col).cast("string"), salt)
    )
    out = docs.withColumn("__u", u)
    tier = F.when(F.col("__u") < ladder[0], F.lit(ladder[0]))
    for r in ladder[1:]:
        tier = tier.when(F.col("__u") < r, F.lit(r))
    return out.withColumn("tier", tier).drop("__u")


def weighted_reservoir(
    docs: DataFrame,
    stratum_col: str,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    salt: int = 0,
    n_salts: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """Weighted reservoir sampling without replacement, k per stratum
    (Efraimidis & Spirakis 2006 A-ES): each row draws a deterministic
    uniform u from its key and competes on priority ln(u)/w — the top-k by
    priority is a weight-proportional sample, and because the draw is a
    pure function of (key, salt) the selected set is identical across
    partitionings, retries, and speculative tasks (the `stratified_sample`
    determinism contract, now weight-aware: quality-weighted corpus
    subsampling instead of coin-flip rates).

    Plan shape: the priority is map-side expression work; the per-stratum
    top-k delegates to `domain_cap`'s salted two-level rank, so no task
    ever sorts a whole hot stratum and under-k strata pass through via the
    broadcast anti-path (rank sentinel -1) without shuffling.

    Returns selected rows + ``priority`` + ``res_rank``. Portable draw =
    poly31 seed 7+salt with two Knuth mix rounds (SQL-replayable, gate/test
    scale); corpus path = xxhash64.
    """
    key = F.col(key_col).cast("string")
    if portable_hash:
        u = portable_uniform(key, salt)
    else:
        u = F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(1 << 53)).cast(
            "double"
        ) / F.lit(float(1 << 53))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-12))
    # ln over the floored u: u=0 would be NULL in Spark's log and -inf in
    # most SQL engines — the floor pins both to the same finite value
    pri = F.log(F.greatest(u, F.lit(1e-12))) / w
    out = domain_cap(
        docs.withColumn("priority", pri),
        stratum_col,
        cap=k,
        order_col="priority",
        tie_col=key_col,
        descending=True,
        n_salts=n_salts,
    )
    return out.withColumnRenamed("cap_rank", "res_rank")


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 4096,
    k: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """`decontaminate` for the regime where the benchmark gram set is too
    big to broadcast as a hash join build side: a Bloom filter of the
    benchmark grams (n_bits/8 bytes, vs GBs of raw grams) broadcasts
    instead, prunes the exploded corpus grams MAP-SIDE (no false
    negatives), and only the surviving might-match grams — a sliver of the
    corpus — reach the exact verify join against the full benchmark set.
    The final counts are therefore EXACT and identical to `decontaminate`
    (Bloom false positives die in the verify join); the sketch only moves
    where the work happens.

    Returns docs + n_bloom_pass (gram occurrences passing the filter,
    false positives included — the auditable pruning intermediate),
    n_contaminated, contaminated.
    """
    from trustfuse_spark.operators.sketch import bloom_build, bloom_prune

    bench = benchmark.select("gram").distinct()
    words = bloom_build(bench, "gram", n_bits=n_bits, k=k, portable_hash=portable_hash)
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    marked = bloom_prune(
        grams, words, "gram", n_bits=n_bits, k=k, portable_hash=portable_hash
    )
    passed = marked.filter(F.col("bloom_pass")).drop("bloom_pass")
    n_pass = passed.groupBy(id_col).agg(F.count("*").alias("n_bloom_pass"))
    # exact verify: survivors only — small enough that either join strategy
    # is cheap; the corpus-sized gram stream never shuffles
    hits = passed.join(bench, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_contaminated")
    )
    out = (
        docs.join(n_pass, id_col, "left")
        .join(hits, id_col, "left")
        .withColumn("n_bloom_pass", F.coalesce(F.col("n_bloom_pass"), F.lit(0)))
        .withColumn("n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0)))
    )
    return out.withColumn("contaminated", F.col("n_contaminated") > 0)


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Count PII-shaped spans per document (``n_email`` / ``n_ipv4`` /
    ``n_phone`` / ``n_ccnum``) — pure regexp expressions, no UDFs; the
    card count is Luhn-validated (:func:`ccnum_candidates`)."""
    out = docs
    for kind in PII_ORDER:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_PATTERNS[kind]), 0)),
        )
    return out.withColumn("n_ccnum", F.size(ccnum_candidates(F.col(text_col))))


def pii_redact(text: Column) -> Column:
    """Replace each PII span with a typed placeholder (``<EMAIL>`` etc.),
    applying patterns in ``PII_ORDER`` so nested digit runs can't double-fire."""
    out = text
    for kind in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


# Candidate card numbers: 4-digit groups (optionally space/dash separated),
# 13-16 digits total. A regex alone over-fires on arbitrary numeric runs, so
# candidates are validated with the Luhn checksum before counting/redacting —
# the standard false-positive filter for payment-card PII.
CCNUM_PATTERN = r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,4}\b"


def luhn_valid(candidate: Column) -> Column:
    """True when the digits of ``candidate`` pass the Luhn mod-10 checksum
    (ISO/IEC 7812) and the digit count is a plausible card length (13-19).

    Pure expressions — the per-position double-and-subtract fold runs as an
    ``aggregate`` HOF over the digit positions of ONE short candidate string
    (card numbers are <= 19 chars), so cost is per-candidate, not per-row:
    rows with no card-shaped spans never evaluate it.
    """
    ds = F.regexp_replace(candidate, "[^0-9]", "")
    n = F.length(ds)
    # i counts from the RIGHTMOST digit (i=1 is the check digit); every
    # second digit doubles, with 9 subtracted when doubling overflows.
    def term(i):
        d = F.ascii(F.substring(ds, (n - i + F.lit(1)).cast("int"), 1)) - 48
        dd = F.when(i % 2 == 0, d * 2).otherwise(d)
        return dd - F.when(dd > 9, 9).otherwise(0)

    total = F.aggregate(
        F.sequence(F.lit(1), n.cast("int")),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def ccnum_candidates(text: Column) -> Column:
    """Array of the Luhn-passing card-shaped spans in ``text``."""
    return F.filter(F.regexp_extract_all(text, F.lit(CCNUM_PATTERN), 0), luhn_valid)


def ccnum_redact(text: Column) -> Column:
    """Replace every Luhn-valid card-shaped span with ``<CCNUM>``.

    Conditional replacement can't be a single ``regexp_replace`` (the regex
    engine can't checksum), so the valid candidates fold over the string as
    literal ``replace`` calls — longest-first (then lexicographic) so a
    candidate that is a substring of another can never corrupt the longer
    match, and so the fold order is engine-independent.
    """
    cands = F.array_sort(
        ccnum_candidates(text),
        lambda a, b: F.when(F.length(a) != F.length(b), F.length(b) - F.length(a))
        .when(a < b, -1)
        .when(a > b, 1)
        .otherwise(0),
    )
    return F.aggregate(cands, text, lambda acc, c: F.replace(acc, c, F.lit("<CCNUM>")))


def dup_ngram_ratio(text: Column, n: int = 5) -> Column:
    """Within-document duplicate n-gram fraction: 1 - |distinct grams| /
    |grams| (0.0 for docs shorter than ``n`` tokens). The boilerplate /
    template-spam signal used alongside `textstats.quality_features`."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.round(1.0 - F.size(F.array_distinct(grams)) / total, 6),
    ).otherwise(F.lit(0.0))


def portable_uniform(key: Column, salt: int = 0) -> Column:
    """Deterministic draw in [0, 1) from a string key: 31-bit polynomial
    character fold (h -> (h*31 + code) % (2^31-1), seed 7 + salt) followed
    by two Knuth-multiplicative mix rounds (h -> (h+1)*2654435761 % (2^31-1))
    so short keys — whose raw fold only spans a tiny prefix of the range —
    still spread over the full interval; result / (2^31-1).

    Plain arithmetic, so any SQL engine can replicate it exactly (the
    driver gate recomputes it in DuckDB with list_reduce). Interpreted-HOF
    cost: use on bounded gate/test inputs; production sampling should pass
    ``hash_expr=F.xxhash64(...)`` to `stratified_sample` instead.
    """
    # sequence(1, 0) DESCENDS for the empty key — guard so '' folds to the
    # bare seed, matching the manual/oracle definition exactly
    idx = F.when(
        F.length(key) >= 1, F.sequence(F.lit(1), F.length(key))
    ).otherwise(F.array().cast("array<int>"))
    codes = F.transform(idx, lambda i: F.ascii(F.substring(key, i, 1)))
    h = F.aggregate(
        codes,
        F.lit(7 + salt).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % F.lit(_POLY_M31),
    )
    for _ in range(2):
        h = ((h + 1) * F.lit(2654435761)) % F.lit(_POLY_M31)
    return h.cast("double") / F.lit(float(_POLY_M31))


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash draw
    u(key, salt) < rate(stratum).

    Unlike ``DataFrame.sample`` this is reproducible under retries,
    speculative execution, and repartitioning — the draw depends only on the
    row key, never on partition RNG state. Stateless map, zero shuffles.

    ``hash_expr``: optional precomputed draw column in [0, 1); defaults to
    the engine-portable `portable_uniform` (use ``F.xxhash64``-based draws
    for corpus-scale runs).

    ``rates`` compiles to a CASE chain — right for the usual handful of
    strata; with thousands of strata, broadcast-join a (stratum, rate) dim
    and filter on the joined column instead of growing the expression tree.

    The draw is exposed as a ``u`` column on the output (gates hash it);
    a pre-existing ``u`` column on the input is overwritten.
    """
    u = hash_expr if hash_expr is not None else portable_uniform(
        F.col(key_col).cast("string"), salt
    )
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(float(r))).otherwise(rate)
    return docs.withColumn("u", F.round(u, 6)).filter(F.col("u") < rate)


def chunk_documents(
    docs: DataFrame,
    max_len: int,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking: split every document into windows of
    at most ``max_len`` whitespace tokens, window ``i`` starting at token
    ``i*stride`` (0-based). The last window may be shorter; windows that
    would start at or past the end are not emitted; empty documents emit
    no rows. ``stride == max_len`` (the default) gives non-overlapping
    chunks; ``stride < max_len`` gives the overlapping context windows LLM
    pretraining uses so no span is ever seen only at a window boundary.

    Scale shape: pure per-row expressions — tokenize, a ``sequence``
    explode sized by the window-count formula, one ``slice`` per window.
    Zero shuffles, whole-stage codegen end-to-end; output rows carry only
    their own window, so a 100-TB corpus streams through map tasks.

    Returns (doc_id, chunk_idx, start_tok, n_tok, chunk_text).
    """
    if stride is None:
        stride = max_len
    if max_len < 1 or stride < 1:
        raise ValueError("max_len and stride must be >= 1")
    toks = _tokens(F.col(text_col))
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    n = F.size("toks")
    n_win = (
        F.when(n <= max_len, F.lit(1))
        .otherwise(F.floor((n - F.lit(max_len) + F.lit(stride - 1)) / F.lit(stride)) + 1)
        .cast("int")
    )
    d = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.when(n > 0, F.sequence(F.lit(0), n_win - 1)).otherwise(
                F.lit(None).cast("array<int>")
            )
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx").cast("long") * stride
    chunk = F.slice("toks", F.col("chunk_idx") * stride + 1, max_len)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _pack_greedy(toks, capacity: int, fill: int, breaks: int, fresh: bool):
    """The sequential first-fit fold: returns (bin_ids, offsets) given the
    carry-in state. ``fresh`` marks the true start of a shard — the very
    first doc never opens a new bin, even when oversized."""
    bins, offs = [], []
    for tok in toks:
        if not fresh and fill + tok > capacity:
            breaks += 1
            fill = 0
        bins.append(breaks)
        offs.append(fill)
        fill += int(tok)
        fresh = False
    return bins, offs


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    max_chunk: int = 2_097_152,
) -> DataFrame:
    """Greedy first-fit-in-order sequence packing: within each ``group_col``
    shard, walk docs in ``order_col`` order keeping a running fill; a doc
    that would overflow ``capacity`` starts the next bin (a doc longer than
    ``capacity`` occupies a bin alone, overflowing it).

    This is the standard pre-tokenization packing step for LLM training
    (maximize context-window utilization). Packing is inherently sequential
    *within* a shard, but no executor ever holds a whole shard: shards
    larger than ``max_chunk`` rows are split into row-number chunks and
    packed EXACTLY via a transfer-function pass (VERDICT r4 #3) —

    1. per chunk, one vectorized pass computes (carry-out fill, #bin
       breaks) for EVERY possible carry-in fill 0..capacity plus the
       oversized-carry sentinel: the first break index for carry ``f`` is a
       ``searchsorted`` over the chunk's token prefix sums, and everything
       after the first break is carry-independent (a reverse DP over the
       "next break" pointers, O(rows) total);
    2. a per-shard fold over the tiny chunk summaries chains the actual
       carries (rows = #chunks, never the docs);
    3. a second pass packs each chunk with its known carry-in fill and
       running bin count.

    Because step 1 is exact for every carry, the output is bit-identical to
    the single-pass greedy for ANY ``max_chunk`` (pytest asserts chunk-size
    invariance), and the driver oracle — a plain sequential recursive-CTE
    replay — stays valid unchanged. Memory: a pandas frame is bounded by
    ``max_chunk`` rows, and each chunk summary carries two arrays of
    ``capacity + 2`` longs. The 2 Mi-row default caps a task's frame at
    ~300 MB (grp/ord strings dominate at ~150 B/row) — safe even on small
    8 GB executors — while summaries stay tiny (2 Mi rows × 2 Ki capacity
    ≈ 16 MB of summaries per *billion-row* shard). Size it DOWN only if
    per-task memory is scarcer than that; chunking smaller than a shard's
    natural size buys nothing but the extra window + summary passes
    (measured ~15-40% on the 7.1M-doc curation matrix when the old 256 Ki
    default flipped twenty ~320 Ki-row shards into the chunked plan).

    Shards that fit ``max_chunk`` take the direct single-pass path (the
    pre-r5 plan: one shuffle, no window) — the common case at bench scale.
    Emitted ``bin_id`` is shard-local; pair it with the shard key for a
    global id. Returns (group, order, tokens, bin_id, bin_offset) rows.
    """
    import numpy as np
    from pyspark.sql import Window

    sel = docs.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("ord"),
        F.col(tokens_col).cast("long").alias("tok"),
    )
    grp_t = sel.schema["grp"].dataType.simpleString()
    ord_t = sel.schema["ord"].dataType.simpleString()
    out_schema = f"grp {grp_t}, ord {ord_t}, tok long, bin_id long, bin_offset long"
    cap = int(capacity)
    sentinel = cap + 1  # any carry fill > cap behaves identically: always breaks

    # Materialize the pruned (grp, ord, tok) projection ONCE: the plan-choice
    # count below and the packing job(s) each trigger a scan, and without this
    # the caller's whole upstream chain (e.g. curate_corpus's dedup ->
    # quality -> decontaminate -> sample) would re-run per scan — measured
    # 2.3x on the curation pipeline. Narrow columns only (~tens of bytes/row),
    # so at corpus scale this is the standard "materialize the work list"
    # move; the chunked path below re-scans it twice more (summaries + pack)
    # for free.
    sel = checkpoint(sel, eager=False)  # lazy: the count job materializes it

    # plan-choice scalar (like ANN's centroid collect): biggest shard decides
    # whether the chunked machinery is needed at all
    n_max = sel.groupBy("grp").count().agg(F.max("count")).collect()[0][0] or 0

    if n_max <= max_chunk:

        def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
            # secondary key: with duplicate order values, arrival order is
            # shuffle-dependent — (ord, tok) makes the output a pure function
            # of the data (rows tying on BOTH keys are interchangeable)
            pdf = pdf.sort_values(["ord", "tok"], kind="mergesort").reset_index(drop=True)
            bins, offs = _pack_greedy(pdf["tok"].to_numpy(), cap, 0, 0, True)
            pdf["bin_id"] = bins
            pdf["bin_offset"] = offs
            return pdf

        out = sel.groupBy("grp").applyInPandas(_pack, out_schema)
    else:
        w = Window.partitionBy("grp").orderBy("ord", "tok")
        sel = sel.withColumn("rn", F.row_number().over(w)).withColumn(
            "chunk", ((F.col("rn") - 1) / max_chunk).cast("long")
        )
        # second checkpoint: three consumers scan the chunk-assigned rows
        # (n_chunks agg, the summary pass, the final pack join) and without
        # it each would re-run the row_number window's shuffle+sort —
        # measured ~40% on the 7.1M-doc curation matrix (r5 0.706-efficiency
        # artifact). The n_chunks job below materializes it.
        sel = checkpoint(sel, eager=False)
        big = sel.groupBy("grp").agg((F.max("chunk") + 1).alias("n_chunks"))

        sum_schema = (
            f"grp {grp_t}, chunk long, out_fill array<long>, n_breaks array<long>,"
            " fresh_out long, fresh_breaks long"
        )

        def _summarize(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ord", "tok"], kind="mergesort")
            toks = pdf["tok"].to_numpy(dtype=np.int64)
            n = len(toks)
            prefix = np.cumsum(toks)
            total = int(prefix[-1])
            # next-break pointer from a break at i (fill = tok[i]):
            # smallest k > i with prefix[k] > cap - tok[i] + prefix[i]
            nb = np.searchsorted(prefix, cap - toks + prefix, side="right")
            nb = np.maximum(nb, np.arange(n) + 1)  # oversized doc: break next
            # reverse DP: total breaks and last break position of the chain
            breaks_from = np.ones(n, dtype=np.int64)
            last = np.arange(n)
            for i in range(n - 1, -1, -1):
                k = nb[i]
                if k < n:
                    breaks_from[i] += breaks_from[k]
                    last[i] = last[k]
            out_from = total - prefix[last] + toks[last]  # fill after chain end
            # f-vector: first break for carry f is searchsorted(prefix, cap-f)
            fs = np.arange(cap + 1, dtype=np.int64)
            i_f = np.searchsorted(prefix, cap - fs, side="right")
            hit = i_f < n
            out_v = np.where(hit, out_from[np.minimum(i_f, n - 1)], fs + total)
            brk_v = np.where(hit, breaks_from[np.minimum(i_f, n - 1)], 0)
            # sentinel row (carry > cap): always breaks at the first doc
            out_v = np.append(out_v, out_from[0])
            brk_v = np.append(brk_v, breaks_from[0])
            # fresh start: doc 0 opens bin 0 without a break
            k0 = max(int(np.searchsorted(prefix, cap, side="right")), 1)
            if k0 < n:
                fresh_out, fresh_breaks = int(out_from[k0]), int(breaks_from[k0])
            else:
                fresh_out, fresh_breaks = total, 0
            return pd.DataFrame(
                {
                    "grp": [pdf["grp"].iloc[0]],
                    "chunk": [pdf["chunk"].iloc[0]],
                    "out_fill": [out_v.tolist()],
                    "n_breaks": [brk_v.tolist()],
                    "fresh_out": [fresh_out],
                    "fresh_breaks": [fresh_breaks],
                }
            )

        multi = sel.join(
            F.broadcast(big.filter(F.col("n_chunks") > 1).select("grp")),
            "grp",
            "left_semi",
        )
        summaries = multi.groupBy("grp", "chunk").applyInPandas(_summarize, sum_schema)

        carry_schema = f"grp {grp_t}, chunk long, c_fill long, c_breaks long, c_fresh int"

        def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("chunk").reset_index(drop=True)
            fill, breaks, fresh = 0, 0, True
            rows = []
            for _, r in pdf.iterrows():
                rows.append((r["grp"], int(r["chunk"]), fill, breaks, int(fresh)))
                if fresh:
                    breaks += int(r["fresh_breaks"])
                    fill = int(r["fresh_out"])
                else:
                    idx = min(fill, sentinel)
                    breaks += int(r["n_breaks"][idx])
                    fill = int(r["out_fill"][idx])
                fresh = False
            return pd.DataFrame(
                rows, columns=["grp", "chunk", "c_fill", "c_breaks", "c_fresh"]
            )

        carries = summaries.groupBy("grp").applyInPandas(_fold, carry_schema)
        packed_in = sel.join(F.broadcast(carries), ["grp", "chunk"], "left").fillna(
            {"c_fill": 0, "c_breaks": 0, "c_fresh": 1}
        )

        def _pack_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ord", "tok"], kind="mergesort").reset_index(drop=True)
            bins, offs = _pack_greedy(
                pdf["tok"].to_numpy(),
                cap,
                int(pdf["c_fill"].iloc[0]),
                int(pdf["c_breaks"].iloc[0]),
                bool(pdf["c_fresh"].iloc[0]),
            )
            pdf["bin_id"] = bins
            pdf["bin_offset"] = offs
            return pdf[["grp", "ord", "tok", "bin_id", "bin_offset"]]

        out = packed_in.groupBy("grp", "chunk").applyInPandas(_pack_chunk, out_schema)

    return out.select(
        F.col("grp").alias(group_col),
        F.col("ord").alias(order_col),
        F.col("tok").alias(tokens_col),
        "bin_id",
        "bin_offset",
    )


def mixture_plan(
    docs: DataFrame,
    targets: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Domain-mixture plan: given target shares per domain and a total token
    budget, derive each domain's sampling ``rate`` (budget share / available
    tokens) and ``epochs`` (ceil(rate) — how many passes a rate > 1 implies,
    the "repeat small high-quality domains" knob from Chinchilla-style data
    recipes).

    One partial aggregate over the corpus, then arithmetic on a handful of
    domain rows. Domains absent from ``targets`` get share 0. A domain whose
    docs carry 0 total tokens gets rate 0 / epochs 0 (never NULL/inf — an
    unguarded division would make `apply_mixture` silently drop the whole
    domain through a NULL rate, ADVICE r4): there is nothing to sample from
    it, whatever the target share asked for.
    """
    share = F.lit(0.0)
    for value, s in sorted(targets.items()):
        share = F.when(F.col(domain_col) == value, F.lit(float(s))).otherwise(share)
    totals = docs.groupBy(domain_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("domain_tokens")
    )
    out = totals.withColumn("target_tokens", F.round(share * token_budget).cast("long"))
    rate = F.when(
        F.col("domain_tokens") > 0,
        F.col("target_tokens") / F.col("domain_tokens"),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("rate", F.round(rate, 6))
        .withColumn("epochs", F.ceil(rate).cast("long"))
    )


def apply_mixture(
    docs: DataFrame,
    plan: DataFrame,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Materialize a `mixture_plan`: emit each doc floor(rate) times plus
    one more copy with probability frac(rate) — the deterministic
    realization of "repeat domain X 2.4 times": every doc appears 2 times,
    a fixed hash-selected 40% of docs a 3rd time. Adds an ``epoch`` column
    (1-based copy index).

    ``plan`` needs (domain, rate) — a handful of rows, broadcast. The
    fractional draw is a pure function of (key, salt) — retry-stable, like
    `stratified_sample`; pass an ``F.xxhash64``-based ``hash_expr`` at
    corpus scale. Row explosion is map-side (no shuffle); downstream
    consumers see epoch as part of the training-example identity.

    Docs whose domain is absent from ``plan`` are dropped (inner join), as
    are rows with rate 0 or a NULL rate (the copies array is empty) — pair
    with `mixture_plan`, which guarantees a non-NULL rate per domain.
    """
    d = docs.join(
        F.broadcast(plan.select(domain_col, "rate")), domain_col
    )
    u = hash_expr if hash_expr is not None else portable_uniform(
        F.col(key_col).cast("string"), salt
    )
    full = F.floor("rate").cast("long")
    n = full + F.when(F.round(u, 6) < (F.col("rate") - full), 1).otherwise(0)
    copies = F.when(n >= 1, F.sequence(F.lit(1), n.cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    return d.withColumn("epoch", F.explode(copies)).drop("rate")


# The Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1) are the
# standard HARD-GATE filter set — distinct from textstats.quality_features'
# composite score: each rule is an independent boolean a curation run can
# audit per-document. Implemented as pure Catalyst expressions (zero
# shuffles, zero Python); the line-level Gopher rules (bullet/ellipsis
# line fractions) need newline structure the synthetic corpus lacks and a
# real corpus run enables the same way — they are expressions too.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    max_dup_ngram: float = 0.4,
    dup_n: int = 3,
) -> DataFrame:
    """Per-document Gopher rule flags + the conjunctive ``gopher_keep``.

    Rules (each an independent int flag, 1 = pass):

    - ``r_word_count``: word count in [min_words, max_words];
    - ``r_mean_len``: mean word length in [min_mean_len, max_mean_len];
    - ``r_symbol``: (# + ellipsis)-to-word ratio <= max_symbol_ratio;
    - ``r_alpha``: fraction of words containing a letter >= min_alpha_frac;
    - ``r_stop``: at least ``min_stopwords`` DISTINCT stopwords from the
      canonical 8-word list occur;
    - ``r_dup``: duplicate ``dup_n``-gram fraction <= max_dup_ngram
      (:func:`dup_ngram_ratio`).

    Empty documents fail ``r_word_count`` and pass the ratio rules
    vacuously (0-denominator ratios define to 0), matching the paper's
    remove-then-filter order.
    """
    toks = _tokens(F.col(text_col))
    n_words = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_len = F.when(n_words > 0, total_len / n_words).otherwise(F.lit(0.0))
    n_sym = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\."), 0)
    )
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    dup_frac = dup_ngram_ratio(F.col(text_col), n=dup_n)

    out = (
        docs.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", F.round(mean_len, 6))
        .withColumn("r_word_count", n_words.between(min_words, max_words).cast("int"))
        .withColumn(
            "r_mean_len",
            ((mean_len >= min_mean_len) & (mean_len <= max_mean_len)).cast("int"),
        )
        .withColumn("r_symbol", (sym_ratio <= max_symbol_ratio).cast("int"))
        .withColumn("r_alpha", (alpha_frac >= min_alpha_frac).cast("int"))
        .withColumn("r_stop", (n_stop >= min_stopwords).cast("int"))
        .withColumn("r_dup", (dup_frac <= max_dup_ngram).cast("int"))
    )
    keep = (
        F.col("r_word_count")
        * F.col("r_mean_len")
        * F.col("r_symbol")
        * F.col("r_alpha")
        * F.col("r_stop")
        * F.col("r_dup")
    )
    return out.withColumn("gopher_keep", keep.cast("int"))


def c4_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", section 2.2) — the classic web-corpus
    cleanup pass that operates on LINES within a document, complementing
    the document-level :func:`gopher_rules`:

    - keep only lines that end in a terminal punctuation mark
      (``. ! ? "``);
    - drop lines with fewer than ``min_words_line`` words;
    - drop lines containing the word "javascript" (case-insensitive);
    - flag documents containing "lorem ipsum" (case-insensitive) or a
      curly brace, and documents whose CLEANED text has fewer than
      ``min_sentences`` sentences (terminal-punctuation count) — the
      conjunctive ``c4_keep`` is 1 only when all three document-level
      checks pass.

    Everything is a per-row Catalyst expression over a split-lines array
    (split, filter lambda, array_join, regexp) — stateless map, zero
    shuffles, codegen end-to-end: the 100-TB shape is "free" alongside any
    scan. Returns the input plus ``n_lines``, ``n_kept_lines``,
    ``n_sentences``, ``c4_has_lorem``, ``c4_has_brace``, ``c4_keep`` and
    the filtered-and-rejoined ``clean_text``.
    """

    def _line_words(line: Column) -> Column:
        return F.size(
            F.filter(F.split(F.trim(line), r"\s+"), lambda t: t != "")
        )

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]$')
        & (_line_words(l) >= min_words_line)
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    return (
        docs.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", F.size(kept).cast("long"))
        .withColumn("n_sentences", n_sent.cast("long"))
        .withColumn("c4_has_lorem", has_lorem.cast("int"))
        .withColumn("c4_has_brace", has_brace.cast("int"))
        .withColumn(
            "c4_keep",
            (~has_lorem & ~has_brace & (n_sent >= min_sentences)).cast("int"),
        )
        .withColumn("clean_text", clean)
    )


def hashed_linear_score(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
    bias: float = 0.0,
    portable_hash: bool = False,
) -> DataFrame:
    """Model-based quality scoring: a hashed bag-of-words linear classifier
    (the fastText architecture of Joulin et al. 2017, arXiv:1607.01759,
    which is how production corpora gate on learned quality — CCNet's LM
    filter successor, FineWeb-Edu's educational-quality scorer). Training
    happens offline; THIS operator is the inference path a 100-TB scan
    needs: ``logit = bias + mean over tokens of weights[h(token) % D]``,
    evaluated entirely as Catalyst expressions — tokens split per row, each
    hashed into the weight table shipped as a literal array (weight tables
    are a few thousand doubles — task-binary freight, no join, no shuffle,
    no Python). Returns the input plus ``q_logit`` (exact arithmetic:
    sum/count, no transcendentals) and ``q_keep`` (logit >= 0, i.e.
    sigmoid >= 0.5).

    ``portable_hash=True`` buckets tokens with the repo's 31-bit polynomial
    char fold (engine-portable, used by gates/oracles); the default is
    ``xxhash64`` (JVM-side, what a corpus run wants). Empty docs get a NULL
    logit, never a 0/0 NaN.
    """
    d = len(weights)
    toks = _tokens(F.col(text_col))
    if portable_hash:
        bucket = lambda t: _poly31(t) % d  # noqa: E731
    else:
        bucket = lambda t: F.pmod(F.xxhash64(t), F.lit(d))  # noqa: E731
    w = F.array(*[F.lit(float(x)) for x in weights])
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(w, (bucket(t) + 1).cast("int")),
    )
    n = F.size(toks)
    logit = F.when(n > 0, F.lit(float(bias)) + total / n)
    return docs.withColumn("q_logit", logit).withColumn(
        "q_keep", F.coalesce((logit >= 0).cast("int"), F.lit(0))
    )


def _poly31(t: Column) -> Column:
    """31-bit polynomial char fold — same family as `portable_uniform`
    (h -> (h*31 + code) % (2^31-1), seed 0, no mix rounds): oracles
    replicate it with list_reduce over generate_series + substring."""
    idx = F.when(F.length(t) >= 1, F.sequence(F.lit(1), F.length(t))).otherwise(
        F.array().cast("array<int>")
    )
    codes = F.transform(idx, lambda i: F.ascii(F.substring(t, i, 1)))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % F.lit(_POLY_M31),
    )


def normalize_line(line: Column) -> Column:
    """CCNet-style aggressive line normalization for dedup keys (Wenzek et
    al. 2020, arXiv:1911.00359 §4.1: lowercase, strip accents/digits/
    punctuation before hashing so trivially-varying boilerplate collapses).
    Portable subset: lowercase, drop everything outside ``[a-z ]``, collapse
    runs of spaces, trim — the same regexes run verbatim on any oracle
    engine."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(line), "[^a-z ]", ""), " +", " "
        )
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line/paragraph deduplication (the CCNet preprocessing
    pass, Wenzek et al. 2020: hash every normalized line, keep only the
    corpus-wide FIRST occurrence of each hash). This is what strips
    navigation menus, cookie banners, and "all rights reserved" footers from
    web corpora — cross-document boilerplate that within-doc repetition
    (``dup_ngram_ratio``) and k-gram span coverage (``dedup.duplicated_spans``
    — a *signal*, not a rewrite) don't remove.

    Keep-first is pinned deterministically: the winning occurrence of a line
    key is the minimum (id, line index) pair, so re-runs, retries, and
    speculative tasks all agree. Lines whose normalized form is empty
    (pure digits/punctuation) are never deduplicated — they carry formatting,
    not boilerplate, and hashing them together would delete every blank line
    in the corpus after the first.

    Plan shape (the 100-TB contract):
      1. posexplode of the split-lines array — map-side, codegen;
      2. winner per line key: ONE hash aggregate ``min(struct(id, idx))``
         keyed by the normalized line (partial map-side combine; no window,
         no sort);
      3. marking: a join of the exploded lines against the winners on the
         same key — co-partitioned with the aggregate output, so AQE plans
         at most one extra exchange (and broadcasts when the distinct-line
         set is small);
      4. reassembly: one shuffle keyed by doc id — ``collect_list`` of
         (idx, line) structs, ``sort_array``, ``array_join``. Rows shuffled
         are the surviving lines only.

    Returns one row per input document: (id, n_lines, n_kept_lines,
    clean_text) where clean_text is the document with every non-first
    duplicate line removed.
    """
    sel = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__idx", "__line"),
    )
    keyed = _fan_out(sel).select(
        "__id", "__idx", "__line", normalize_line(F.col("__line")).alias("__k")
    )
    winners = (
        keyed.filter(F.col("__k") != "")
        .groupBy("__k")
        .agg(F.min(F.struct("__id", "__idx")).alias("__w"))
    )
    kept = keyed.join(winners, "__k", "left").filter(
        (F.col("__k") == "")
        | ((F.col("__w.__id") == F.col("__id")) & (F.col("__w.__idx") == F.col("__idx")))
    )
    out = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept_lines"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__idx", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    n_lines = docs.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return (
        n_lines.join(out, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_lines",
            F.coalesce(F.col("n_kept_lines"), F.lit(0)).cast("long").alias(
                "n_kept_lines"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    k: int,
    n_buckets: int = 64,
    lam: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: int = 0,
    portable_hash: bool = False,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR; Xie et al. 2023,
    arXiv:2302.03169): pick the ``k`` raw documents that look most like a
    target distribution, using importance weights estimated from hashed
    bag-of-ngrams bucket models — the method behind domain-targeted
    pretraining subsets (and the same estimator family the reference's
    source-trust priors come from: counts in, ratios out).

    Both distributions are estimated from the input itself: ``target`` is a
    boolean column marking the in-distribution slice (e.g. ``lang == 'en'``,
    a curated domain, a quality flag), raw is the whole corpus. Each doc's
    features — unigrams + bigrams, the paper's featurization — hash into
    ``n_buckets`` buckets; with add-``lam`` smoothing,

        log w(doc) = sum over features f of
                     [log p_target(b(f)) - log p_raw(b(f))]

    and selection is Gumbel-top-k (the paper's resampling step): the key
    ``g = log w - ln(-ln(u))`` with ``u`` a deterministic per-doc draw, so
    the selected set is a without-replacement sample proportional to
    softmax(log w) — yet fully reproducible under retries and speculation
    (the draw is a pure function of the id + salt, never partition RNG).

    Plan shape (the 100-TB contract): the featurize+explode chain fans out
    (`_fan_out`: repartitions only when the scan yields fewer splits than
    cores) and runs exactly TWICE — once into the bucket-count hash agg,
    once into the per-doc weight-sum hash agg (the paper's two estimation
    passes; both map-side combined). The bucket model is ``n_buckets`` rows
    cross-joined with a 1-row total — broadcast freight, never a driver
    value. The per-doc ranked table (4 columns/doc) is localCheckpointed so
    the top-k and the mark join don't re-run the chain; top-k is
    ``orderBy(...).limit(k)`` (TakeOrdered — no global sort materializes)
    and the k winners broadcast back as the ``selected`` mark join. The
    corpus is never collected.

    ``portable_hash=True`` buckets features with the 31-bit polynomial char
    fold and draws ``u`` via `portable_uniform` (engine-portable — gates and
    oracles); the default is ``xxhash64`` for both (JVM-side, corpus runs).

    Docs with no features (empty text) carry ``n_feats = 0`` and
    ``log_weight = 0`` (an evidence-free importance ratio of 1) and still
    enter the Gumbel draw. Returns (id, n_feats, log_weight, gumbel_key,
    selected) for EVERY input doc — callers filter ``selected == 1``.
    """
    if portable_hash:
        bucket = lambda f: _poly31(f) % n_buckets  # noqa: E731
        u = portable_uniform(F.col("__id").cast("string"), salt)
    else:
        bucket = lambda f: F.pmod(F.xxhash64(f), F.lit(n_buckets))  # noqa: E731
        big = 1 << 40
        u = (
            F.pmod(F.xxhash64(F.col("__id").cast("string"), F.lit(salt)), F.lit(big))
            + 0.5
        ) / F.lit(float(big))
    feats = F.concat(_tokens(F.col(text_col)), word_ngrams(F.col(text_col), 2))
    sel = docs.select(
        F.col(id_col).alias("__id"),
        target.cast("int").alias("__tgt"),
        feats.alias("__f"),
    )
    fx = _fan_out(sel).select(
        "__id", "__tgt", F.explode("__f").alias("__feat")
    ).select("__id", "__tgt", bucket(F.col("__feat")).alias("__b"))
    bc = fx.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__cr"), F.sum("__tgt").alias("__ct")
    )
    tot = bc.agg(F.sum("__cr").alias("__tr"), F.sum("__ct").alias("__tt"))
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "__b",
        (
            F.log((F.col("__ct") + lam) / (F.col("__tt") + lam * n_buckets))
            - F.log((F.col("__cr") + lam) / (F.col("__tr") + lam * n_buckets))
        ).alias("__lr"),
    )
    scored = (
        fx.join(F.broadcast(lr), "__b")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("__lr").alias("__logw"))
    )
    ranked = (
        sel.select("__id")
        .join(scored, "__id", "left")
        .select(
            "__id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("__logw", F.lit(0.0)).alias("__logw"),
        )
        .withColumn(
            "__g",
            F.col("__logw")
            - F.log(-F.log(F.greatest(u, F.lit(1e-9)))),
        )
    )
    # one small row per doc; both the top-k and the mark join read it —
    # without this the featurize+score chain re-runs per consumer.
    # cache(), not lazy localCheckpoint: under AQE a lazy checkpoint
    # still executes every upstream stage at plan-BUILD time, turning
    # the chain into sequential construction jobs; cache defers to the
    # first action, where independent stages run concurrently
    ranked = cache(ranked)
    top = (
        ranked.orderBy(F.col("__g").desc(), F.col("__id").asc())
        .limit(k)
        .select(F.col("__id").alias("__tid"))
    )
    return ranked.join(
        F.broadcast(top), ranked["__id"] == top["__tid"], "left"
    ).select(
        F.col("__id").alias(id_col),
        "n_feats",
        F.round("__logw", 6).alias("log_weight"),
        F.round("__g", 6).alias("gumbel_key"),
        F.col("__tid").isNotNull().cast("int").alias("selected"),
    )


def domain_cap(
    docs: DataFrame,
    domain_col: str,
    cap: int,
    order_col: str,
    tie_col: str = "doc_id",
    descending: bool = True,
    n_salts: int = 64,
) -> DataFrame:
    """Exact per-domain document cap: keep at most ``cap`` rows per domain,
    the top ``cap`` by (``order_col``, tie-broken by ``tie_col`` ascending) —
    the standard corpus-balancing step that stops one giant domain (a crawl
    of a single host, one boilerplate-heavy source) from dominating a
    training mixture. RefinedWeb/Gopher-style pipelines apply exactly this
    after dedup; the reference's analogue is its per-bucket claim focus
    (SURVEY §2.2), which bounds how much any one source contributes to a
    fused fact.

    The result is the unique exact top-``cap`` set per over-cap domain
    (``tie_col`` must be unique — it makes the total order strict, so the
    kept set does not depend on partitioning, salting, or retries), plus
    every row of every under-cap domain untouched.

    Plan shape (the 100-TB contract):

    - One partial (map-side combined) count per domain — the only full-data
      shuffle, and it moves (domain, count) pairs, not documents.
    - Domains at or under the cap — at web scale, the long tail holding most
      of the corpus — pass through via a broadcast join against the
      OVER-cap domain list (at most corpus_size / cap domains, so the
      broadcast is bounded by construction) and never shuffle.
    - Over-cap domains run a salted two-level top-k: level 1 ranks within
      (domain, salt = xxhash64(tie) % n_salts) and keeps ``cap`` rows per
      salted group, so no single task ever sorts a whole hot domain; level 2
      ranks the <= n_salts * cap survivors per domain — a bounded-size
      final sort per domain. Exactness holds because a global top-cap row is
      a top-cap row of ANY subset containing it, so level 1 never drops a
      final winner.

    Output: the input columns plus ``cap_rank`` — the 1-based rank for rows
    of capped domains, ``-1`` for pass-through rows (a sentinel, not NULL,
    so gate hashes stay canonical). Rows of capped domains beyond ``cap``
    are dropped.
    """
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.filter(F.col("__n") > cap).select(
        domain_col, F.lit(True).alias("__over")
    )
    marked = docs.join(F.broadcast(over), domain_col, "left")
    passthru = (
        marked.filter(F.col("__over").isNull())
        .drop("__over")
        .withColumn("cap_rank", F.lit(-1).cast("long"))
    )
    key = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [key, F.col(tie_col).asc()]
    w1 = Window.partitionBy(domain_col, "__salt").orderBy(*order)
    lvl1 = (
        marked.filter(F.col("__over").isNotNull())
        .drop("__over")
        .withColumn("__salt", F.pmod(F.xxhash64(F.col(tie_col)), F.lit(n_salts)))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= cap)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    top = (
        lvl1.withColumn("cap_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("cap_rank") <= cap)
    )
    return passthru.unionByName(top)


def temperature_shares(
    docs: DataFrame,
    temperature: float,
    token_budget: int | None = None,
    domain_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-LM sampling rule
    of Conneau & Lample 2019 / mT5, Xue et al. 2021): each domain's share is

        share_d = p_d^(1/T) / sum_e p_e^(1/T),   p_d = tokens_d / total

    T=1 keeps natural proportions; T -> inf approaches uniform — the knob
    that stops a giant crawl domain from drowning low-resource domains
    without hand-writing per-domain targets (`mixture_plan`'s dict input).

    With ``token_budget`` set, appends the same plan columns `mixture_plan`
    derives (target_tokens = round(share * budget), rate, epochs) so the
    output feeds `apply_mixture` directly.

    Plan shape: ONE partial (map-side combined) token sum per domain; the
    total and the p^(1/T) normalizer are 1-row aggregates cross-joined back
    broadcast — a handful of domain rows do arithmetic, the corpus is
    touched once. Zero-token domains carry share 0 (p = 0), so rates stay
    NULL-free end to end (same guard contract as `mixture_plan`).

    ``share`` is rounded to 6 dp for engine-portable hashing; target/rate
    derive from the unrounded value (integer rounding absorbs last-ulp pow
    differences across engines). T=2 routes through ``sqrt`` — correctly
    rounded per IEEE 754 on every engine, unlike ``pow`` (1-ulp licensed) —
    so the T=2 gate variant is bit-exact cross-engine, the same
    portable-variant convention as simhash31/poly31.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    totals = docs.groupBy(domain_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("domain_tokens")
    )
    tot = totals.agg(F.sum("domain_tokens").alias("__tot"))
    ratio = F.col("domain_tokens") / F.col("__tot")
    powed = (
        F.sqrt(ratio) if temperature == 2.0 else F.pow(ratio, 1.0 / temperature)
    )
    p = totals.crossJoin(F.broadcast(tot)).withColumn(
        "__pt",
        F.when(F.col("__tot") > 0, powed).otherwise(F.lit(0.0)),
    )
    z = p.agg(F.sum("__pt").alias("__z"))
    out = (
        p.crossJoin(F.broadcast(z))
        .withColumn(
            "__share",
            F.when(F.col("__z") > 0, F.col("__pt") / F.col("__z")).otherwise(
                F.lit(0.0)
            ),
        )
        .select(
            domain_col,
            "domain_tokens",
            F.round("__share", 6).alias("share"),
            F.col("__share"),
        )
    )
    if token_budget is None:
        return out.drop("__share")
    tgt = F.round(F.col("__share") * token_budget).cast("long")
    rate = F.when(
        F.col("domain_tokens") > 0, tgt / F.col("domain_tokens")
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("target_tokens", tgt)
        .withColumn("rate", F.round(rate, 6))
        .withColumn("epochs", F.ceil(rate).cast("long"))
        .drop("__share")
    )
