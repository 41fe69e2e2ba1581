"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build an interleaved docs table from sf0.001
testdata, run the full KG pipeline (extract -> fuse CRH -> triples).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, runnable at any sf dir, with DuckDB-equivalent ANSI SQL.
Column names and rounding are aligned on both sides (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """events.parquet -> interleaved docs (1 text span + media span) ->
    extraction -> CRH fusion -> (subj, pred, obj) triples."""
    from trustfuse_spark.plans.pipeline import run_pipeline

    events = _t(spark, SF_DEFAULT, "events")
    text = F.concat(
        F.lit("E"), (F.col("user_id") % 100).cast("string"),
        F.lit(" | "), F.col("event_type"),
        F.lit(" | v"), F.round(F.col("value"), -1).cast("long").cast("string"),
    )
    doc_id = F.concat(
        F.lit("d"), F.lpad((F.col("user_id") % 100).cast("string"), 6, "0"),
        F.lit("_"), F.lpad((F.col("event_id") % 20).cast("string"), 4, "0"),
        F.lit("_"), F.lpad((F.col("event_id") % 3).cast("string"), 2, "0"),
    )
    media = F.when(
        F.col("event_id") % 4 == 0,
        F.array(
            F.struct(
                F.lit("media").alias("kind"), F.lit("").alias("text"),
                F.concat(F.lit("mref://"), F.col("event_id").cast("string")).alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    docs = events.select(
        doc_id.alias("doc_id"),
        F.concat(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"), text.alias("text"),
                    F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"),
                )
            ),
            media,
        ).alias("spans"),
    )
    triples, _ = run_pipeline(docs, model="crh", max_itr=2)
    return triples


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

# Shared claims derivation (events -> long-form conflicting claims) used by
# the fusion-step queries; identical SQL on the DuckDB side.
_CLAIMS_SQL = """
    SELECT 's' || CAST(event_id % 7 AS VARCHAR) AS source,
           'e' || CAST(user_id AS VARCHAR)      AS entity,
           event_type                            AS attr,
           ROUND(value, -1)                      AS v
    FROM events
"""


# CATD gate slice: user_id < 15 keeps per-source fact counts <= 75 so
# chi2.cdf(0.025, k) stays inside double range (see catd_engine_weights).
_CLAIMS_SMALL_SQL = """
    SELECT 's' || CAST(event_id % 7 AS VARCHAR) AS source,
           'e' || CAST(user_id AS VARCHAR)      AS entity,
           event_type                            AS attr,
           ROUND(value, -1)                      AS v
    FROM events WHERE user_id < 15
"""


def _claims_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("s"), (F.col("event_id") % 7).cast("string")).alias("source"),
        F.concat(F.lit("e"), F.col("user_id").cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round("value", -1).alias("v"),
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-06-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-06-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1999-09-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: majority value per group with ascending-value tie-break."""
    c = _t(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    w = Window.partitionBy("c_nationkey").orderBy(F.col("n").desc(), F.col("c_mktsegment").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("mode_segment"), F.col("n").alias("votes"))
    )


def median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: exact interpolated median (np.median parity — not approx)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
    )


def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: argmax within group, ties pinned by key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("top_order"), F.round("o_totalprice", 2).alias("top_price"))
    )


def stddev_denom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A3: per-fact population stddev floored at eps (CRH loss denom)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.round(F.greatest(F.stddev_pop("l_extendedprice"), F.lit(0.1)), 6).alias("denom"),
        F.count("*").alias("n_claims"),
    )


def session_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: gap-based sessionization as window expressions (batch form of
    the reference's bucket-closure rule, generate_buckets.py:171-242)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


def session_presplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL sessionize operator (bucketize.sessionize) with the
    delta-boundary hot-entity pre-split ENABLED, over event-derived claims
    (alpha=2d re-claim rule, delta=30d inactivity rule). The oracle
    implements the reference's UNSPLIT close rule directly in SQL windows —
    a green hash proves the distributed pre-split is exact on real data,
    not just the planted pytest case."""
    from trustfuse_spark.operators.bucketize import sessionize

    ev = _t(spark, sf_dir, "events")
    claims = ev.select(
        F.concat(F.lit("e"), (F.col("user_id") % 200).cast("string")).alias("entity"),
        F.concat(F.lit("s"), (F.col("event_id") % 5).cast("string")).alias("source"),
        F.col("event_type").alias("attr"),
        "ts",
    )
    out = sessionize(claims, alpha_s=172_800, delta_s=2_592_000, presplit=True)
    return out.groupBy("entity").agg(
        (F.max("bucket_id") + 1).cast("int").alias("n_buckets"),
        F.count("*").alias("n_claims"),
    )


def eval_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1-SO4: TP/FP/FN via inner/anti joins (evaluation.py:211-214 algebra)."""
    p = _t(spark, sf_dir, "part")
    it = p.filter(F.col("p_retailprice") > 1400).select("p_brand", "p_partkey")
    gt = p.filter(F.col("p_size") > 25).select("p_brand", "p_partkey")
    tp = it.join(gt, ["p_brand", "p_partkey"]).groupBy("p_brand").agg(F.count("*").alias("tp"))
    fp = it.join(gt, ["p_brand", "p_partkey"], "left_anti").groupBy("p_brand").agg(F.count("*").alias("fp"))
    fn = gt.join(it, ["p_brand", "p_partkey"], "left_anti").groupBy("p_brand").agg(F.count("*").alias("fn"))
    return (
        tp.join(fp, "p_brand", "full")
        .join(fn, "p_brand", "full")
        .fillna(0, subset=["tp", "fp", "fn"])
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on document text via the engine operator (hash-first,
    text-verified within colliding hash groups — the oracle is the plain
    groupBy-text equivalent)."""
    from trustfuse_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d, "doc_id", "text").select(
        F.col("rep_id").alias("rep_doc_id"), "n_copies"
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + char stats per language."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang").agg(
        F.round(F.avg(toks), 6).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
        F.count("*").alias("n_docs"),
    )


def majority_fusion_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as full fusion step over a claims table derived from events."""
    claims = _claims_from_events(spark, sf_dir)
    counts = claims.groupBy("entity", "attr", "v").agg(F.count("*").alias("n"))
    w = Window.partitionBy("entity", "attr").orderBy(F.col("n").desc(), F.col("v").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("entity", "attr", F.col("v").alias("fused_value"), F.col("n").alias("votes"))
    )


def crh_weight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: one CRH numeric weight update (loss = (v-med)^2/max(std,eps);
    w = -ln(raw/total)) entirely in SQL-expressible form."""
    claims = _claims_from_events(spark, sf_dir)
    stats = claims.groupBy("entity", "attr").agg(
        F.expr("percentile(v, 0.5)").alias("med"),
        F.greatest(F.stddev_pop("v"), F.lit(0.1)).alias("sd"),
    )
    loss = claims.join(stats, ["entity", "attr"]).withColumn(
        "loss", (F.col("v") - F.col("med")) ** 2 / F.col("sd")
    )
    raw = loss.groupBy("source").agg(F.sum("loss").alias("raw"))
    # normalizer as a broadcast 1-row aggregate, not a driver collect: same
    # double arithmetic, but the whole leg stays lazy (no build-time job)
    # and nothing round-trips through the driver — the 100-TB shape too
    total = raw.agg(F.sum("raw").alias("__tot"))
    return raw.crossJoin(F.broadcast(total)).select(
        "source",
        F.round(
            F.when(F.col("raw") > 0, -F.log(F.col("raw") / F.col("__tot"))).otherwise(0.0), 6
        ).alias("w"),
    )


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 5 vectors."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sims = q.crossJoin(F.broadcast(c)).select(
        "qid", "cid", (dot / (norm(F.col("qv")) * norm(F.col("cv")))).alias("sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", F.round("sim", 4).alias("sim_r"), "rn")
    )


# ---------------------------------------------------------------------------
# engine-vs-SQL fusion gates: the actual trustfuse_spark model code compared
# against independent SQL implementations of the same math in DuckDB
# ---------------------------------------------------------------------------

def _engine_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> long-form numeric claims for the fusion engine."""
    return _claims_from_events(spark, sf_dir).select(
        F.lit(0).alias("bucket_id"),
        "source",
        "entity",
        "attr",
        F.col("v").cast("string").alias("value_str"),
        F.col("v").alias("value_num"),
        F.lit("quantity").alias("claim_type"),
    )


def majority_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_majority (engine code) on numeric claims: median snapped to the
    nearest claimed value, ties -> smaller."""
    from trustfuse_spark.operators.fusion.majority import fuse_majority

    res = fuse_majority(_engine_claims(spark, sf_dir))
    return res.truth.select(
        "entity", "attr", F.round("value_num", 6).alias("fused_value")
    )


def crh_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_crh (engine code), 2 full iterations; compare final weights."""
    from trustfuse_spark.operators.fusion.crh import fuse_crh

    res = fuse_crh(_engine_claims(spark, sf_dir), max_itr=2)
    return res.weights.select("source", F.round("weight", 6).alias("w"))


def truthfinder_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_truthfinder (engine code), 1 iteration; compare tau."""
    from trustfuse_spark.operators.fusion.truthfinder import fuse_truthfinder

    res = fuse_truthfinder(_engine_claims(spark, sf_dir), max_itr=1)
    return res.weights.select("source", F.round("weight", 6).alias("tau"))


def accu_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_accu (engine code), 2 full iterations from the pinned 0.8 init;
    compare final per-source accuracies. Exercises the full iterated model:
    per-(fact,source) dedup (smallest vkey), n-distinct vote scores
    ln((n-1)a/(1-a)), pinned argmax, clamped accuracy update."""
    from trustfuse_spark.operators.fusion.accu import fuse_accu

    res = fuse_accu(_engine_claims(spark, sf_dir), max_itr=2)
    return res.weights.select("source", F.round("weight", 6).alias("w"))


def truthfinder_string_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TruthFinder string branch (Jaro implication) — engine code vs a
    DuckDB oracle using jaro_similarity (verified identical to the
    reference's Jaro variant on non-empty strings)."""
    from trustfuse_spark.operators.fusion.truthfinder import fuse_truthfinder

    claims = _claims_from_events(spark, sf_dir).select(
        F.lit(0).alias("bucket_id"),
        "source",
        "entity",
        "attr",
        F.concat(F.lit("v"), F.col("v").cast("long").cast("string")).alias("value_str"),
        F.lit(None).cast("double").alias("value_num"),
        F.lit("string").alias("claim_type"),
    )
    res = fuse_truthfinder(claims, max_itr=1)
    return res.weights.select("source", F.round("weight", 6).alias("tau"))


def _engine_claims_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine claims restricted to user_id < 15 (75 facts, ~1k claims at
    sf0.01): CATD's chi2.cdf(0.025, k) underflows double precision for the
    full corpus's ~640 facts/source, so its gate runs on a slice where the
    cdf stays representable (k <= 75 -> P ~ 1e-115) and gates ln(weight)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    return ev.select(
        F.lit(0).alias("bucket_id"),
        F.concat(F.lit("s"), (F.col("event_id") % 7).cast("string")).alias("source"),
        F.concat(F.lit("e"), F.col("user_id").cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round("value", -1).cast("string").alias("value_str"),
        F.round("value", -1).alias("value_num"),
        F.lit("quantity").alias("claim_type"),
    )


def catd_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_catd (engine code), 2 fixed iterations; compare ln(final weight)
    per source. The DuckDB oracle recomputes the whole chain closed-form —
    chi2.cdf(0.025, k) via the same regularized-lower-incomplete-gamma
    series the engine's pandas UDF implements (4 terms suffice at x=0.0125),
    exact medians, the weighted-mean truth step, and the second weight pass
    — so the value hash covers the chi2 UDF, both weight updates, and the
    truth update end to end (reference catd.py:40-55)."""
    from trustfuse_spark.operators.fusion.catd import fuse_catd

    res = fuse_catd(_engine_claims_small(spark, sf_dir), max_itr=2, tol=None)
    return res.weights.select("source", F.round(F.log("weight"), 6).alias("lw"))


def gtm_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_gtm (engine code), 2 fixed EM iterations; compare ln(sigma^2)
    per source. The oracle re-derives the reference's quirk-faithful chain
    (gtm.py:51-123): median prior, single-pass delta0 outlier strip,
    cn = v - prior, the mixed-scale init M-step evaluated at truth0 = prior,
    then E -> M -> E -> M. ln() keeps the 6-decimal round well inside fp
    noise for the ~1e6-magnitude variance sums."""
    from trustfuse_spark.operators.fusion.gtm import fuse_gtm

    res = fuse_gtm(_engine_claims(spark, sf_dir), max_itr=2, tol=None)
    return res.weights.select("source", F.round(F.log("weight"), 6).alias("lw"))


def kdem_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_kdem (engine code), 1 iteration, Gaussian kernel, pinned h=25;
    compare per-source reliability c. The oracle recomputes the kernel
    matrix per fact (a within-fact pairwise self-join), norm_j = K_jj -
    2(Kw)_j + w'Kw with uniform w, the zero clip, rtn/flen sums, the
    per-bucket objective, and c = -ln((rtn/cnt)/j) — value-gating the
    applyInPandas kernel math against independent SQL (reference
    kdem.py:32-128)."""
    from trustfuse_spark.operators.fusion.kdem import fuse_kdem

    res = fuse_kdem(_engine_claims(spark, sf_dir), max_itr=1, h=25.0)
    return res.weights.select("source", F.round("weight", 6).alias("c"))


def slimfast_engine_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuse_slimfast (engine code), 2 iterations; compare the final shared
    accuracy sigmoid(w). The oracle replays the exact sequential SGD fold —
    DuckDB list_reduce over the claims sorted (entity, attr, vkey, source),
    the same per-claim +/- alpha*sigmoid(w) updates, L1 shrink, and the
    ACCU-style vote/argmax truth per iteration — so the order-pinned scalar
    recurrence itself is value-gated (reference slimfast.py:96-176)."""
    from trustfuse_spark.operators.fusion.slimfast import fuse_slimfast

    res = fuse_slimfast(_engine_claims(spark, sf_dir), max_itr=2)
    return res.weights.select("source", F.round("weight", 6).alias("w"))


def ltm_engine_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ltm_posterior_mean (engine code): the derandomized LTM — synchronous
    posterior-mean updates, 2 iterations, over the CATD gate slice
    (user_id < 15 bounds the implicit-zero expansion DuckDB must unroll).
    The oracle replays binary_claims' implicit-zero expansion, both soft
    confusion-count E-steps, the minus-own-contribution ratio products (as
    ln sums) and the sigmoid-form posterior — closing the last driver-gate
    model gap (reference ltm.py:87-160; the seeded Gibbs chain stays
    pytest-gated per COVERAGE.md §2.4)."""
    from trustfuse_spark.operators.fusion.ltm import ltm_posterior_mean

    post = ltm_posterior_mean(_engine_claims_small(spark, sf_dir), iters=2)
    return post.select(
        "entity",
        "attr",
        F.col("vkey").cast("double").alias("v"),
        F.round("posterior", 6).alias("post"),
    )


# ---------------------------------------------------------------------------
# operator queries (dedup / text / temporal)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard for doc pairs in a small id window."""
    from trustfuse_spark.operators.dedup import shingles

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = shingles(d, "doc_id", "text", 3).cache()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= 0.3)


def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text features (tokens, punct, stopword hits) for doc_id < 50."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    en_hits = F.size(
        F.filter(toks, lambda t: t.isin(["the", "and", "of", "to", "a", "is"]))
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        en_hits.alias("en_hits"),
        F.length("text").alias("n_chars"),
    )


def presence_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presence-interval auto-labeling over events (gamma=2h, beta=30min),
    including the IP-majority veto (a value mostly sourced by IP-shaped
    contributor names is rejected even above the ratio)."""
    from trustfuse_spark.operators.bucketize import presence_intervals

    ip_src = F.concat(
        F.lit("192.168."),
        (F.col("event_id") % 4).cast("string"),
        F.lit("."),
        (F.col("event_id") % 7).cast("string"),
    )
    named_src = F.concat(F.lit("u"), (F.col("event_id") % 9).cast("string"))
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("e"), (F.col("user_id") % 40).cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round(F.col("value"), -2).cast("long").cast("string").alias("value_str"),
        F.when(F.col("event_id") % 5 < 2, ip_src).otherwise(named_src).alias("source"),
        "ts",
    )
    out = presence_intervals(ev, gamma_s=7200, beta_s=1800, accept_ratio=0.5)
    return out.select(
        "entity", "attr", "value_str", "presence_s",
        F.col("accepted").cast("int").alias("accepted"),
    )


def gt_carry_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GT carry-forward (J5): last non-null per (entity, attr) over buckets."""
    ev = _t(spark, sf_dir, "events")
    sparse = ev.select(
        (F.col("user_id") % 20).alias("entity"),
        F.col("event_type").alias("attr"),
        (F.dayofyear("ts")).alias("bucket_id"),
        F.when(F.col("event_id") % 3 == 0, F.round("value", 1)).alias("gt_value"),
    ).groupBy("entity", "attr", "bucket_id").agg(F.max("gt_value").alias("gt_value"))
    w = (
        Window.partitionBy("entity", "attr")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.select(
        "entity", "attr", "bucket_id",
        F.round(F.last("gt_value", ignorenulls=True).over(w), 6).alias("carried"),
    )


_MINHASH_PAIRS_DIR = "/root/repo/.oracle_data/minhash_pairs_{base}"


def _exchange_pairs(
    spark: SparkSession, pairs: DataFrame, path: str, min_rows: int, name: str
) -> DataFrame:
    """Persist a pair-exchange gate's emitted pairs DETERMINISTICALLY.

    Gate-scale only (callers guard on sf0.01), so the pair set is tiny and
    collected once; rows are sorted and written through pyarrow to a fixed
    file name — a Spark coalesce(1) write here produced a fresh UUID part
    file per run, churning git on every sweep even with identical content.
    Raises when fewer than min_rows pairs emerge: an empty or implausibly
    small exchange must fail loudly, never trivially green the gate
    (ADVICE r3)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pairs.toPandas()
    if len(pdf) < min_rows:
        raise ValueError(f"{name}: implausibly few pairs at gate scale ({len(pdf)})")
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):  # clear stale Spark-era part files
        fp = os.path.join(path, f)
        if os.path.isfile(fp):
            os.remove(fp)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "pairs.parquet"),
    )
    return spark.createDataFrame(pdf)


def minhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over documents, VALUE-gated via a pair
    exchange: DuckDB lacks xxhash64 so it cannot re-run the LSH banding, but
    it CAN independently recompute exact 3-gram Jaccard over the raw text of
    the emitted pairs. The query persists its (id_a, id_b) list to
    .oracle_data/ (deterministic content — hash seeds are fixed) and returns
    the read-back rows; the oracle reads ONLY the ids from that parquet,
    recomputes each pair's Jaccard from the documents view from scratch, and
    re-applies the >= 0.8 filter — so a wrong Jaccard value or a
    sub-threshold false positive breaks the hash/row gate. (What this cannot
    catch is an LSH recall miss — inherent to gating a probabilistic
    blocker; recall is pytest-gated against brute force.) The sf0.01 pair
    file is committed so the oracle also works if it runs first."""
    import os

    from trustfuse_spark.operators.dedup import near_duplicates_minhash

    d = _t(spark, sf_dir, "documents")
    base = os.path.basename(sf_dir.rstrip("/"))
    # corpus scales intersect xxhash64 shingle fingerprints (int64 numpy
    # path); the gate scale keeps collision-free raw strings so the DuckDB
    # replay is exact — the simhash31/poly31 portable-at-gate convention
    pairs = near_duplicates_minhash(
        d, "doc_id", "text", threshold=0.8, hash_shingles=base != "sf0.01"
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    if base != "sf0.01":  # pair exchange only at the correctness-gate scale
        return pairs
    path = _MINHASH_PAIRS_DIR.format(base=base)
    return _exchange_pairs(spark, pairs, path, 1, "minhash_neardup_docs")


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash VALUE gate: per-doc 31-bit SimHash with the engine-portable
    polynomial token hash over ASCII-normalized text (doc_id < 80) — DuckDB
    recomputes the identical tokenization, per-token polynomial hash,
    per-bit vote sums, and sign reassembly, so the SimHash math itself is
    hash-gated (the xxhash64 + 16-bit-chunk blocking scale path runs in
    simhash_neardup_full and pytest)."""
    from trustfuse_spark.operators.dedup import polynomial_token_hash, simhash

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80).select(
        "doc_id", F.regexp_replace("text", "[^ -~]", "").alias("text")
    )
    sh = simhash(d, "doc_id", "text", bits=31, token_hash=polynomial_token_hash)
    return sh.select(F.col("id").alias("doc_id"), "simhash")


def simhash_neardup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus SimHash near-dup pairs — the COMPLETE blocking + hamming
    path (chunk pigeonhole blocks, hot-bucket shed, XOR bit_count filter),
    VALUE-gated: run with the engine-portable 31-bit polynomial token hash
    over ASCII-normalized text, the emitted (id_a, id_b) list persists via
    the pair-exchange pattern, and the DuckDB oracle independently
    recomputes BOTH docs' simhashes from raw text (list_reduce polynomial
    fold, bit votes, sign reassembly), XORs them, and re-applies the
    hamming threshold — so a wrong simhash, wrong hamming value, or any
    sub-threshold false positive breaks the hash (blocking recall stays
    pytest-gated, as for the other LSH gates). max_hamming=1 keeps the
    31-bit rule as selective as the 64-bit default's 3 (3/64 ~ 1.5/31).

    The DuckDB-portable polynomial token hash folds per CHARACTER through
    interpreted HOFs (dedup.py docstring: bounded gate/test inputs only),
    so it runs ONLY at the sf0.01 gate scale where the oracle needs it; at
    every other scale this query runs the actual corpus path — xxhash64
    tokens, 64 bits, max_hamming=3 — so the bench times what a cluster
    would run instead of the oracle-compatibility variant."""
    import os

    from trustfuse_spark.operators.dedup import polynomial_token_hash, simhash_near_dups

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", "[^ -~]", "").alias("text")
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    if base != "sf0.01":  # pair exchange only at the correctness-gate scale
        return simhash_near_dups(d, "doc_id", "text", max_hamming=3)
    pairs = simhash_near_dups(
        d, "doc_id", "text", max_hamming=1, bits=31, token_hash=polynomial_token_hash
    )
    path = "/root/repo/.oracle_data/simhash_pairs_sf0.01"
    return _exchange_pairs(spark, pairs, path, 1, "simhash_neardup_full")


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup VALUE gate — TWO tagged legs over the same
    planted-clone corpus (vec_id < 50 duplicated at +10000 with the first
    component shifted by 0.05, a derivation the oracle replicates in SQL;
    the raw corpus has no natural >= 0.9 pairs, max cosine 0.51):

    * gate='lsh' — banded hyperplane LSH + cosine verify, pair exchange as
      in minhash_neardup_docs: emitted (id_a, id_b) persist to
      .oracle_data/, the oracle recomputes each pair's cosine from the
      embeddings view independently and re-applies the threshold,
      value-gating the verify math and any false positive (LSH recall
      stays pytest-gated).
    * gate='sem' — SemDeDup-style semantic dedup drop edges
      (dedup.semantic_dedup, Abbas et al. 2023): at gate scale the cell
      assignment is the portable `axis_sign_cells` (pure sign comparisons,
      exactly replayable in SQL — the k-means production path is
      pytest-gated), so the oracle re-derives cells, within-cell cosines,
      the >= 0.95 threshold AND the argmax-keeper pick from scratch —
      a fully closed-form leg, no exchange."""
    import os

    from trustfuse_spark.operators.dedup import (
        axis_sign_cells,
        embedding_near_dups,
        semantic_dedup,
    )

    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("embedding"))
    clones = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + F.lit(0.05)), F.slice(v, 2, 10000)
        ).alias("embedding"),
    )
    allv = base.unionByName(clones)
    pairs = embedding_near_dups(allv, "vec_id", "embedding", threshold=0.9).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cos_r")
    )
    base_name = os.path.basename(sf_dir.rstrip("/"))
    if base_name == "sf0.01":  # pair exchange only at the correctness-gate scale
        path = f"/root/repo/.oracle_data/embedding_pairs_{base_name}"
        # floor 25: 50 planted clone pairs exist at >=0.999 cosine; banded-LSH
        # recall ~0.95 means an emitted set far below that is a real regression.
        pairs = _exchange_pairs(spark, pairs, path, 25, "embedding_neardup")
    sem = semantic_dedup(
        allv, "vec_id", "embedding", threshold=0.95,
        cell_expr=axis_sign_cells("embedding", 4),
    ).select(
        F.col("id").alias("id_a"),
        F.col("keeper").alias("id_b"),
        F.round("cosine", 4).alias("cos_r"),
    )
    return pairs.select(
        F.lit("lsh").alias("gate"), F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cos_r"
    ).unionByName(
        sem.select(F.lit("sem").alias("gate"), F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cos_r")
    )


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=ncells (exhaustive probing -> exact): verifiable
    against the same brute-force SQL oracle as ann_topk."""
    from trustfuse_spark.operators.ann import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    c = e.filter(F.col("vec_id") >= 5)
    out = ivf_topk(q, c, k=5, ncells=8, nprobe=8)
    return out.select("qid", "cid", F.round("cosine", 4).alias("sim_r"), F.col("rank").alias("rn"))


def docs_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline (docs synth -> extract -> majority fuse -> triples),
    VALUE-gated: the generator's _mix is plain modular arithmetic (datagen.py
    M31 chain, no engine hash functions), so the DuckDB oracle re-derives the
    planted claims closed-form and reconstructs majority fusion — mode with
    ascending tie for categorical attrs, interpolated median snapped to the
    nearest claimed value for quantity/time — entirely independently of the
    Spark path (extraction, normalization, fusion, triple rendering all
    covered by the value hash)."""
    from trustfuse_spark.datagen import gen_docs
    from trustfuse_spark.plans.pipeline import run_pipeline

    docs = gen_docs(spark, 100, 10, 4)
    triples, _ = run_pipeline(docs, model="majority")
    return triples


def coordinate_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate claim type end-to-end: '(lat, lon)' strings -> parse ->
    per-axis expansion -> exact median fusion -> recomposed '(lat, lon)'
    truth. Exercises the full operators/coordinates.py path; the oracle
    recomputes per-axis medians from the same deterministic arithmetic."""
    from trustfuse_spark.functions.preprocess import format_coordinate
    from trustfuse_spark.operators.coordinates import (
        expand_coordinate_claims,
        recompose_coordinate_truth,
    )
    from trustfuse_spark.operators.fusion.base import FACT_KEYS, median_per_fact

    ev = _t(spark, sf_dir, "events")
    lat = ((F.col("event_id") * 7) % 121 - 60).cast("double")
    lon = ((F.col("event_id") * 11) % 241 - 120).cast("double")
    claims = ev.select(
        F.lit(0).alias("bucket_id"),
        F.concat(F.lit("s"), (F.col("event_id") % 13).cast("string")).alias("source"),
        F.concat(F.lit("e"), (F.col("user_id") % 30).cast("string")).alias("entity"),
        F.lit("pos").alias("attr"),
        format_coordinate(lat, lon).alias("value_str"),
        F.lit(None).cast("double").alias("value_num"),
        F.lit("coordinate").alias("claim_type"),
    )
    axis_truth = median_per_fact(expand_coordinate_claims(claims)).select(
        *FACT_KEYS,
        F.col("truth_num").alias("value_num"),
        F.lit(None).cast("string").alias("value_str"),
        F.lit(True).alias("is_numeric"),
    )
    return recompose_coordinate_truth(axis_truth).select(
        "bucket_id", "entity", "attr", "value_str"
    )


def _bucketed_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.dayofyear("ts") % 10).cast("int").alias("bucket_id"),
        F.concat(F.lit("e"), (F.col("user_id") % 50).cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round(F.col("value"), -2).cast("long").cast("string").alias("value_str"),
    )


def known_entities_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: cumulative known-entity set in first-seen form (known at bucket b
    iff first_bucket < b) — reference compute_known_entities ravels entity
    ids and claim values together, so both feed the set."""
    from trustfuse_spark.operators.bucketize import first_seen_values

    return first_seen_values(_bucketed_claims(spark, sf_dir)).select(
        "value", F.col("first_bucket").cast("int").alias("first_bucket")
    )


def seen_values_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: cumulative seen-values per (entity, attr) at bucket 5. The sorted
    set is string-encoded ('|'-joined) so the harness can canonicalize it —
    r2's array<string> column crashed the hash comparison."""
    from trustfuse_spark.operators.bucketize import cumulative_seen_values

    out = cumulative_seen_values(_bucketed_claims(spark, sf_dir), upto=5)
    return out.select(
        "entity", "attr", F.array_join("values_seen", "|").alias("values_seen")
    )


def reverse_map_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 reverse mapping (bucketize.reverse_map) as a driver gate: fuse
    majority over the event claims, then map each fused value back to the
    SEED row that first claimed it (first match pinned by event_id —
    reference .iloc[0], dataset.py:239/247). The seed token is the claiming
    event_id, so any wrong first-match choice changes the value hash."""
    from trustfuse_spark.operators.bucketize import reverse_map
    from trustfuse_spark.operators.fusion.majority import fuse_majority

    ev = _t(spark, sf_dir, "events")
    seed = ev.select(
        F.lit(0).alias("bucket_id"),
        F.concat(F.lit("e"), F.col("user_id").cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round("value", -1).cast("string").alias("value_str"),
        F.concat(F.lit("ev"), F.col("event_id").cast("string")).alias("seed_value"),
        F.col("event_id").alias("doc_id"),
    )
    truth = fuse_majority(_engine_claims(spark, sf_dir)).truth.select(
        "bucket_id", "entity", "attr",
        F.col("value_num").alias("__t"),
        F.col("value_num").cast("string").alias("value_str"),
    )
    out = reverse_map(truth, seed, order_cols=("doc_id",))
    return out.select(
        "entity", "attr",
        F.round("__t", 6).alias("fused_value"),
        "formatted_value",
    )


def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 graph materialization: majority-fused triples -> typed edge list
    -> per-node degree table (operators/graph.py; reference
    visualization.py renders this surface, generate_subgraph.py:25-86
    extracts it). Oracle re-derives fusion + degrees in SQL."""
    from trustfuse_spark.operators.graph import node_degrees, triples_to_edges

    fused = majority_fusion_sql(spark, sf_dir)
    triples = fused.select(
        F.col("entity").alias("subj"),
        F.col("attr").alias("pred"),
        F.col("fused_value").cast("string").alias("obj"),
    )
    return node_degrees(triples_to_edges(triples)).select(
        "node", "out_deg", "in_deg", "degree"
    )


def evaluation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL evaluation operator (operators/evaluation.evaluate) over
    planted truth/GT/claims derived from events; the oracle recomputes the
    reference's set algebra (TP/FP/TN/FN over GT-entity-restricted pairs,
    P=1 when FP=0) independently in SQL."""
    from trustfuse_spark.operators.evaluation import evaluate

    ev = _t(spark, sf_dir, "events").select(
        (F.dayofyear("ts") % 5).cast("int").alias("bucket_id"),
        F.concat(F.lit("e"), (F.col("user_id") % 25).cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round(F.col("value"), -2).cast("long").cast("string").alias("value_str"),
        "event_id",
        (F.col("user_id") % 25).alias("eid"),
    )
    claims = ev.select("bucket_id", "entity", "attr", "value_str")
    w = Window.partitionBy("bucket_id", "entity", "attr").orderBy("event_id")
    truth = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("bucket_id", "entity", "attr", "value_str")
    )
    gt = (
        ev.filter((F.col("eid") < 15) & (F.col("event_id") % 2 == 0))
        .groupBy("bucket_id", "entity", "attr")
        .agg(F.sort_array(F.collect_set("value_str")).alias("gt_values"))
    )
    m = evaluate(truth, gt, claims)
    return m.select(
        "bucket_id", "attr", "gt_n", "tp", "fp", "tn", "fn",
        F.round("p", 6).alias("p"), F.round("r", 6).alias("r"),
        F.round("acc", 6).alias("acc"), F.round("f1", 6).alias("f1"),
        F.round("c_rate", 6).alias("c_rate"),
    )


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL connected-components operator (operators/cc.py large-star /
    small-star — the canonicalization core of the north rule) over a
    deterministic event-derived graph: 240 nodes in 8-node blocks, edges
    only within a block, so the expected components are the blocks (or
    their connected sub-pieces). The oracle computes components entirely
    differently — a recursive-CTE transitive closure with component =
    min reachable node — so a wrong merge or a missed propagation round
    breaks the hash."""
    from trustfuse_spark.operators.cc import connected_components

    ev = _t(spark, sf_dir, "events")
    a = F.col("event_id") % 240
    b = a - (a % 8) + F.floor(F.col("event_id") / 7).cast("long") % 8
    edges = ev.select(a.alias("src"), b.alias("dst"))
    return connected_components(edges)


def specificity_mnad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL specificity + MNAD operators (operators/evaluation.py:109,138
    vs reference evaluation.py:24-58/374-381): hierarchical coeff scoring in
    'negative' mode against a deterministic partial-order dim derived from
    the claimed values, plus mean normalized absolute deviation of numeric
    truth vs GT. The oracle re-derives both joins + aggregates in SQL."""
    from trustfuse_spark.operators.evaluation import mnad, specificity

    ev = _t(spark, sf_dir, "events").select(
        (F.dayofyear("ts") % 5).cast("int").alias("bucket_id"),
        F.concat(F.lit("e"), (F.col("user_id") % 25).cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        F.round(F.col("value"), -2).cast("long").alias("vnum"),
        "event_id",
    )
    w = Window.partitionBy("bucket_id", "entity", "attr").orderBy("event_id")
    truth = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "bucket_id", "entity", "attr",
            F.col("vnum").cast("string").alias("value_str"),
            F.col("vnum").cast("double").alias("value_num"),
        )
    )
    gt = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("bucket_id", "entity", "attr")
        .agg(
            F.sort_array(F.collect_set(F.col("vnum").cast("string"))).alias("gt_values"),
            F.max(F.col("vnum").cast("double")).alias("gt_num"),
        )
    )
    po = (
        ev.select("attr", F.col("vnum").cast("string").alias("value"))
        .distinct()
        .withColumn(
            "coeff",
            ((F.abs(F.col("value").cast("long")) / F.lit(100)).cast("long") % 7 + 1) / 7.0,
        )
    )
    spec = specificity(truth, gt, po, mode="negative")
    mn = mnad(truth, gt)
    return spec.join(mn, ["bucket_id", "attr"], "left").select(
        "bucket_id", "attr",
        F.round("specificity", 6).alias("spec"),
        "n_ordered",
        F.round("mnad", 6).alias("mnad_v"),
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-decode value gate (SURVEY §2.10 multimodal plumbing; the
    reference routes media properties out of fusion, generate_buckets.py:
    81-133 — here they are decoded into first-class columns).

    Every documents row gets a planted payload — PPM P6 for even doc_ids,
    4-byte-padded bottom-up 24-bit BMP for odd — whose pixel at (y, x,
    channel) is (doc_id + 3x + 5y + 11c) % 256. The PRODUCTION decoder
    (operators/multimodal.extract_features, Arrow mapInPandas)
    parses the raw bytes; the per-channel integer pixel SUMS are then
    recovered exactly from its float32 channel means (sum = mean*255*w*h
    <= 40k << 2^24, so the float32 round-trip is exact after rounding —
    verified for every doc_id < 5000). The oracle recomputes dims + sums
    closed-form from doc_id alone: a wrong header parse, BGR/RGB swap,
    row-padding slip, or channel-offset bug breaks the hash."""

    from trustfuse_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            refs, types, payloads = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w = d % 13 + 5
                h = d % 7 + 3
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                px = ((d + 3 * x + 5 * y + 11 * c) % 256).astype(np.uint8)
                if d % 2 == 0:
                    buf = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()
                else:
                    row_size = (w * 3 + 3) // 4 * 4
                    pad = b"\x00" * (row_size - w * 3)
                    body = b"".join(
                        px[yy, :, ::-1].tobytes() + pad
                        for yy in range(h - 1, -1, -1)
                    )
                    buf = (
                        b"BM" + (54 + len(body)).to_bytes(4, "little")
                        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
                        + (40).to_bytes(4, "little")
                        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
                        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
                        + (0).to_bytes(4, "little")
                        + len(body).to_bytes(4, "little")
                        + (2835).to_bytes(4, "little") * 2
                        + (0).to_bytes(4, "little") * 2
                        + body
                    )
                refs.append(str(d))
                types.append("image")
                payloads.append(buf)
            yield pd.DataFrame(
                {"media_ref": refs, "media_type": types, "payload": payloads}
            )

    media = docs.mapInPandas(
        synth, "media_ref string, media_type string, payload binary"
    )
    feats = extract_features(media, dim=8)
    f = F.col("feature")
    w = F.element_at(f, 1).cast("int")
    h = F.element_at(f, 2).cast("int")
    area = w.cast("double") * h.cast("double")
    return feats.select(
        F.col("media_ref").cast("bigint").alias("doc_id"),
        w.alias("width"),
        h.alias("height"),
        *[
            F.round(F.element_at(f, 4 + i).cast("double") * 255.0 * area)
            .cast("bigint")
            .alias(name)
            for i, name in enumerate(["sum_r", "sum_g", "sum_b"])
        ],
    )


def scale_units_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 scale_units (operators/scale_units.py vs reference
    preprocessing.py:176-225): claims planted from events with decade
    offsets 10^{-2..2} are iteratively pulled onto each fact's dominant
    scale (per-fact median + conditional x10/x0.1, early stop when nothing
    moves; the gate pins max_itr=4 — the reference's 10-round cap costs one
    driver-loop action per round and adds nothing once the mechanism is
    value-gated). The oracle unrolls the same 4 rounds as chained
    median+multiply CTEs — rounds after the engine's early stop are no-ops
    by construction (nothing moved => nothing ever moves again), so the
    always-N oracle equals the early-stopped engine exactly."""
    from trustfuse_spark.operators.scale_units import scale_units

    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 3
    mult = F.when(m == 0, 0.1).when(m == 1, 1.0).otherwise(10.0)
    # base confined to one decade [1, 10) + offsets of one decade either
    # way: the loop converges in ~3 rounds, so the engine's early stop
    # fires well inside the 10-round cap (per-round driver latency is the
    # dominant bench cost of this gate, not row count)
    claims = ev.select(
        F.lit(0).alias("bucket_id"),
        F.concat(F.lit("e"), (F.col("user_id") % 20).cast("string")).alias("entity"),
        F.col("event_type").alias("attr"),
        ((F.round("value", 2) % 9.0 + F.lit(1.0)) * mult).alias("value_num"),
        "event_id",
    )
    return scale_units(claims, max_itr=4).select(
        "entity", "attr", "event_id", F.col("value_num").alias("scaled_value")
    )


def _scale_units_oracle() -> str:
    """Unrolled CTE chain mirroring the gate's max_itr=4 iteration cap
    (see scale_units_fixed docstring for why always-N == early-stop)."""
    sql = [
        """
        WITH c0 AS (
          SELECT 'e' || CAST(user_id % 20 AS VARCHAR) AS entity,
                 event_type AS attr, event_id,
                 (fmod(round(value, 2), 9.0) + 1.0) *
                 (CASE CAST(event_id % 3 AS INT)
                    WHEN 0 THEN 0.1 WHEN 1 THEN 1.0 ELSE 10.0 END) AS v
          FROM events
        )"""
    ]
    for k in range(1, 5):
        sql.append(
            f""",
        m{k} AS (
          SELECT entity, attr, quantile_cont(v, 0.5) AS med
          FROM c{k - 1} GROUP BY entity, attr
        ),
        c{k} AS (
          SELECT t.entity, t.attr, t.event_id,
                 CASE WHEN log10(t.v / m.med) < -0.8 THEN t.v * 10
                      WHEN log10(t.v / m.med) > 0.8 THEN t.v * 0.1
                      ELSE t.v END AS v
          FROM c{k - 1} t JOIN m{k} m USING (entity, attr)
        )"""
        )
    sql.append(
        """
        SELECT entity, attr, event_id, v AS scaled_value FROM c4"""
    )
    return "".join(sql)


def revision_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 revision diff (operators/bucketize.revision_diff vs reference
    compare_revisions, generate_conflicting_dataset.py:290-441): revisions
    planted from events (value sets keyed by event_id % 37 so consecutive
    revisions overlap) diffed into added-value events via lag() +
    array_except. Oracle re-derives the diff with a lag window over DuckDB
    lists + list_filter/list_contains."""
    from trustfuse_spark.operators.bucketize import revision_diff

    ev = _t(spark, sf_dir, "events")
    revs = (
        ev.groupBy(
            (F.col("user_id") % 25).alias("entity"),
            F.col("event_type").alias("prop"),
            (F.dayofyear("ts") % 6).cast("int").alias("rev_no"),
        ).agg(
            F.sort_array(
                F.collect_set(
                    F.concat(F.lit("v"), (F.col("event_id") % 37).cast("string"))
                )
            ).alias("values"),
            F.min("user_id").alias("user"),
            F.min("ts").alias("ts"),
        )
    )
    return revision_diff(revs).select("entity", "prop", "rev_no", "value")


def graph_ego(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 k-hop ego subgraph (operators/graph.ego_subgraph vs reference
    generate_subgraph.py:25-86, generalized past 1 hop): a deterministic
    200-node graph from events (dst = src*7 + user_id%5 + 1 mod 200, so
    each node fans out to up to 5 neighbors) expanded 3 hops from n0 via
    frontier semi-joins; edges keep their smallest hop. The oracle unrolls
    the frontier expansion as 3 chained CTEs."""
    from trustfuse_spark.operators.graph import ego_subgraph

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("n"), (F.col("event_id") % 200).cast("string")).alias("src"),
        F.concat(
            F.lit("n"),
            ((F.col("event_id") * 7 + F.col("user_id") % 5 + 1) % 200).cast("string"),
        ).alias("dst"),
        F.col("event_type").alias("pred"),
    ).distinct()
    return ego_subgraph(edges, "n0", hops=3)


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (curation.decontaminate): the "benchmark"
    is derived from the corpus itself — for every doc with doc_id % 37 == 0,
    the 8-gram starting at token 3 — so both engines can re-derive it. The
    corpus grams hit a broadcast join with the benchmark set; per-doc hit
    counts come back as a left join (zeros included). r5 also rides the
    FUZZY variant (curation.contamination_overlap) on the same rows:
    distinct-gram overlap fraction + the >= 1% flag — occurrence counts and
    distinct-hit counts diverge on repeated grams, so both paths are
    value-bearing.

    Round-5 columns (curation.decontaminate_bloom): the Bloom-pruned path
    for the benchmark-too-big-to-broadcast regime — a 4096-bit k=3 filter of
    the benchmark grams prunes the exploded corpus grams map-side, and only
    survivors reach the exact verify join. n_bloom_pass (pruning
    intermediate, false positives included — value-bears every bit of the
    filter arithmetic) and bloom_n_contaminated (MUST equal n_contaminated:
    the oracle recomputes both sides independently). Portable poly31+Knuth
    bit positions at gate scale, xxhash64 elsewhere (dsir convention)."""
    import os

    from trustfuse_spark.operators.curation import (
        contamination_overlap,
        decontaminate,
        decontaminate_bloom,
    )

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    bench = (
        d.filter((F.col("doc_id") % 37 == 0) & (F.size(toks) >= 10))
        .select(F.concat_ws(" ", F.slice(toks, 3, 8)).alias("gram"))
    )
    out = decontaminate(d, bench, n=8).select(
        "doc_id", "n_contaminated", F.col("contaminated").cast("int").alias("contaminated")
    )
    fuzzy = contamination_overlap(d, bench, n=8, threshold=0.01).select(
        "doc_id", "n_overlap", "overlap_frac",
        F.col("fuzzy_contaminated").cast("int").alias("fuzzy_contaminated"),
    )
    portable = os.path.basename(sf_dir.rstrip("/")) == "sf0.01"
    blm = decontaminate_bloom(
        d, bench, n=8, n_bits=4096, k=3, portable_hash=portable
    ).select(
        "doc_id",
        "n_bloom_pass",
        F.col("n_contaminated").alias("bloom_n_contaminated"),
    )
    return out.join(fuzzy, "doc_id").join(blm, "doc_id")


def pii_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction (curation.pii_scan / pii_redact / ccnum_redact)
    over text with deterministically planted PII: emails on doc_id % 7 == 0,
    IPv4 on % 11, phone numbers on % 13, a Luhn-VALID card number on % 17
    and a Luhn-INVALID card-shaped span on % 19 (so the checksum filter's
    accept AND reject branches are both value-bearing — the invalid span
    must survive redaction verbatim and not count). The redacted string
    itself is part of the gate, so span boundaries must match the oracle
    regex engine exactly and the oracle replays the Luhn fold in SQL."""
    from trustfuse_spark.operators.curation import ccnum_redact, pii_redact, pii_scan

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" node 10."),
                (did % 200).cast("string"),
                F.lit(".0."),
                (did % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call +1 555 01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit(" 4242"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 17 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(F.lit("")),
        F.when(did % 19 == 0, F.lit(" ref 4111-1111-1111-1112")).otherwise(F.lit("")),
    )
    p = d.select("doc_id", planted.alias("ptext"))
    out = pii_scan(p, "ptext").withColumn(
        "redacted", ccnum_redact(pii_redact(F.col("ptext")))
    )
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "n_ccnum", "redacted")


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate n-gram ratios (curation.dup_ngram_ratio) at
    n=3 and n=5 — the boilerplate/template-spam curation signal."""
    from trustfuse_spark.operators.curation import dup_ngram_ratio

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        dup_ngram_ratio(F.col("text"), 3).alias("dup3"),
        dup_ngram_ratio(F.col("text"), 5).alias("dup5"),
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sampling by lang
    (curation.stratified_sample with the engine-portable draw), gate='sample'.
    The oracle recomputes the exact polynomial fold + two mix rounds per key,
    so a single off-by-one in the draw or the per-stratum rate breaks the hash.

    Round-5 leg, tag-unioned: gate='cap' — exact per-domain cap
    (curation.domain_cap, domain=lang, cap=100, top by n_chars desc /
    doc_id asc). At sf0.01 'en' (218 docs) is over-cap and exercises the
    salted two-level rank path; the other four langs pass through the
    broadcast anti-path with cap_rank=-1. The oracle re-ranks capped
    domains with a window over a domain-count join, so both the kept set
    AND every rank value are hashed.

    Round-5 leg, gate='res': A-ES weighted reservoir sampling
    (curation.weighted_reservoir, k=40 per lang, weight=n_chars, salt=11) —
    priority ln(u)/w from the portable draw, per-stratum top-k via the
    same salted two-level rank. Every selected doc's rounded priority AND
    rank reach the hash; the oracle replays the seed-18 mix chain, the
    floored ln, and the window."""
    from trustfuse_spark.operators.curation import (
        domain_cap,
        stratified_sample,
        weighted_reservoir,
    )

    d = _t(spark, sf_dir, "documents")
    rates = {"en": 0.6, "de": 0.35, "fr": 0.5, "zh": 0.2}
    out = stratified_sample(d, "lang", rates, key_col="doc_id", default_rate=0.15, salt=5)
    sample_leg = out.select(
        F.lit("sample").alias("gate"),
        "doc_id",
        F.col("lang").alias("k"),
        F.col("u").alias("score"),
        F.lit(-1).cast("long").alias("rnk"),
    )
    capped = domain_cap(
        d, "lang", cap=100, order_col="n_chars", tie_col="doc_id", n_salts=8
    )
    cap_leg = capped.select(
        F.lit("cap").alias("gate"),
        "doc_id",
        F.col("lang").alias("k"),
        F.col("n_chars").cast("double").alias("score"),
        F.col("cap_rank").alias("rnk"),
    )
    res = weighted_reservoir(
        d, "lang", k=40, weight_col="n_chars", salt=11, portable_hash=True
    )
    res_leg = res.select(
        F.lit("res").alias("gate"),
        "doc_id",
        F.col("lang").alias("k"),
        F.round("priority", 6).alias("score"),
        F.col("res_rank").alias("rnk"),
    )
    # gate='tier': nested scaling-law subsets (curation.sample_tiers) on
    # the SAME salt-5 rounded draw as the sample leg — every doc's smallest
    # admitting rate ([0.15, 0.35, 0.6] ladder; NULL = rejected by all)
    # reaches the hash, so the nesting thresholds replay exactly.
    from trustfuse_spark.operators.curation import portable_uniform, sample_tiers

    tiers = sample_tiers(
        d,
        [0.15, 0.35, 0.6],
        hash_expr=F.round(
            portable_uniform(F.col("doc_id").cast("string"), 5), 6
        ),
    )
    tier_leg = tiers.select(
        F.lit("tier").alias("gate"),
        "doc_id",
        F.col("lang").alias("k"),
        F.col("tier").alias("score"),
        F.lit(-1).cast("long").alias("rnk"),
    )
    return (
        sample_leg.unionByName(cap_leg).unionByName(res_leg)
        .unionByName(tier_leg)
    )


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing (curation.pack_sequences) into
    256-token bins per source shard, ordered by doc_id (gate='pack'). The
    oracle replays the sequential fold with a recursive CTE, so bin
    boundaries must match row for row.

    Round-5 leg, tag-unioned: gate='chunk' — sliding-window token chunking
    (curation.chunk_documents, max_len=32 / stride=24, overlapping): every
    window's index, start offset, length AND the chunk text verbatim reach
    the hash; the oracle re-derives windows per doc via an unnested
    generate_series over the same window-count formula."""
    from trustfuse_spark.operators.curation import chunk_documents, pack_sequences

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    sel = d.select("source", "doc_id", F.size(toks).cast("long").alias("n_tokens"))
    p = pack_sequences(
        sel, capacity=256, group_col="source",
        order_col="doc_id", tokens_col="n_tokens",
    ).select(
        F.lit("pack").alias("gate"),
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("m1"),
        F.col("bin_id").cast("long").alias("m2"),
        F.col("bin_offset").cast("long").alias("m3"),
        F.lit("").alias("txt"),
    )
    c = chunk_documents(d, max_len=32, stride=24).select(
        F.lit("chunk").alias("gate"),
        F.lit("").alias("source"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").alias("m1"),
        F.col("start_tok").alias("m2"),
        F.col("n_tok").alias("m3"),
        F.col("chunk_text").alias("txt"),
    )
    return p.unionByName(c)


def mixture_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture plan (curation.mixture_plan): per-source token totals
    vs target shares over a 50k-token budget -> sampling rate + epochs.
    Shares are chosen so share*budget is integral (no rounding-mode parity
    risk)."""
    from trustfuse_spark.operators.curation import mixture_plan

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    sel = d.select("source", F.size(toks).cast("long").alias("n_tokens"))
    targets = {"src0": 0.3, "src1": 0.2, "src2": 0.1}
    return mixture_plan(sel, targets, token_budget=50000, domain_col="source")


def apply_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture materialization (curation.apply_mixture): docs from three
    source domains are repeated floor(rate) times plus a deterministic
    hash-selected fraction once more (rate 2.4 -> 2 copies + 40% get a 3rd).
    The oracle recomputes the per-doc draw and unrolls the copies with
    generate_series, so epoch counts must match doc for doc."""
    from trustfuse_spark.operators.curation import apply_mixture

    d = _t(spark, sf_dir, "documents")
    plan = spark.createDataFrame(
        [("src0", 2.4), ("src1", 1.0), ("src2", 0.5)], "source string, rate double"
    )
    return apply_mixture(d, plan, salt=9).select("doc_id", "source", "epoch")


def curate_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation chain (plans/curate.curate_corpus): exact dedup
    -> quality filter (full quality_features score re-derived in SQL) ->
    benchmark decontamination (the %37 gram set) -> stratified sampling by
    lang (portable draw, salt 5) -> greedy packing per source at capacity
    256. The oracle replays every stage, so a break anywhere in the chain —
    wrong dedup representative, a 1-off in the score formula, a dropped
    filter, wrong pack order — shifts bins and breaks the hash."""
    from trustfuse_spark.plans.curate import curate_corpus

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    bench = (
        d.filter((F.col("doc_id") % 37 == 0) & (F.size(toks) >= 10))
        .select(F.concat_ws(" ", F.slice(toks, 3, 8)).alias("gram"))
    )
    out = curate_corpus(
        d,
        stratum_col="lang",
        shard_col="source",
        benchmark=bench,
        bench_ngram=8,
        min_quality=0.25,
        rates={"en": 0.6, "de": 0.35, "fr": 0.5, "zh": 0.2},
        default_rate=0.15,
        salt=5,
        capacity=256,
    )
    return out.select("source", "doc_id", "n_tokens", "bin_id", "bin_offset")


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID + BPE-ish token count (textstats.lang_id /
    token_count_bpe vs the SURVEY training-data ops list). lang_id is an
    argmax over per-language stopword-marker hits via max(struct(hits,
    lang)) — ties resolve to the lexicographically LARGEST language code,
    which the oracle replays as a descending CASE chain; zero hits ->
    'und'."""
    from trustfuse_spark.operators.textstats import lang_id, token_count_bpe

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        lang_id(F.col("text")).alias("lang_pred"),
        token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )


# ---------------------------------------------------------------------------
# consolidated gates (round 5): the driver's CORRECTNESS file emitted exactly
# 50 rows for 55 queries() entries in r4 — the 5 newest got no row at all.
# To guarantee one green row per entry under a 50-row cap, closely-related
# gate pairs are folded into single union/join gates below. Each merged gate
# preserves BOTH members' full value surface (tagged union or doc_id join),
# so coverage is unchanged — only the row count per driver gate grows.
# ---------------------------------------------------------------------------

def session_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9a both session gates, tag-unioned: the window-expression batch
    close rule (gate='batch_window') and the REAL sessionize operator with
    the delta-boundary hot-entity pre-split (gate='presplit')."""
    a = session_bucketize(spark, sf_dir).select(
        F.lit("batch_window").alias("gate"),
        F.col("user_id").cast("string").alias("entity"),
        F.col("n_sessions").cast("long").alias("n_buckets"),
        F.col("n_events").alias("n_claims"),
    )
    b = session_presplit(spark, sf_dir).select(
        F.lit("presplit").alias("gate"),
        "entity",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "n_claims",
    )
    return a.unionByName(b)


def cumulative_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 + W5 tag-unioned: first-seen known-entity/value buckets
    (gate='known_first') and the cumulative seen-values set at bucket 5
    (gate='seen_upto5')."""
    a = known_entities_cum(spark, sf_dir).select(
        F.lit("known_first").alias("gate"),
        F.col("value").alias("k1"),
        F.lit("").alias("k2"),
        F.col("first_bucket").cast("string").alias("v"),
    )
    b = seen_values_cum(spark, sf_dir).select(
        F.lit("seen_upto5").alias("gate"),
        F.col("entity").alias("k1"),
        F.col("attr").alias("k2"),
        F.col("values_seen").alias("v"),
    )
    return a.unionByName(b)


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis pair tag-unioned: per-language aggregate quality stats
    (gate='quality_by_lang') and per-doc token/punct/stopword features for
    doc_id < 50 (gate='features_by_doc'). Integer metrics ride as doubles —
    both engines canonicalize integral doubles identically."""
    a = text_quality(spark, sf_dir).select(
        F.lit("quality_by_lang").alias("gate"),
        F.col("lang").alias("key"),
        F.col("avg_tokens").alias("m1"),
        F.col("avg_chars").alias("m2"),
        F.col("n_docs").cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    b = text_features(spark, sf_dir).select(
        F.lit("features_by_doc").alias("gate"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_tokens").cast("double").alias("m1"),
        F.col("n_punct").cast("double").alias("m2"),
        F.col("en_hits").cast("double").alias("m3"),
        F.col("n_chars").cast("double").alias("m4"),
    )
    return a.unionByName(b)


def simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pair tag-unioned: the per-doc 31-bit SimHash value gate
    (gate='simhash31', id_b=-1 sentinel) and the full blocking+hamming
    near-dup pair gate (gate='neardup_pairs'). Pair-exchange semantics of
    simhash_neardup_full are unchanged (gate scale runs the portable 31-bit
    variant + persists pairs; other scales run the xxhash64/64-bit path)."""
    a = simhash_docs(spark, sf_dir).select(
        F.lit("simhash31").alias("gate"),
        F.col("doc_id").cast("long").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.col("simhash").cast("long").alias("v"),
    )
    b = simhash_neardup_full(spark, sf_dir)
    bham = "hamming" if "hamming" in b.columns else b.columns[-1]
    b = b.select(
        F.lit("neardup_pairs").alias("gate"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col(bham).cast("long").alias("v"),
    )
    return a.unionByName(b)


def mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture pair tag-unioned: the domain-mixture plan rows (gate='plan',
    key='') and the materialized per-doc epochs (gate='apply'). Numeric
    metrics ride as doubles; absent columns are NULL.

    Round-5 leg, gate='temp': temperature-scaled shares
    (curation.temperature_shares, T=2 — the sqrt case, correctly rounded
    IEEE on every engine) over ALL 20 source domains with the same 50k
    budget: share (6 dp, m1), target_tokens (m2), rate (m3), epochs (m4)
    all hashed (domain_tokens already reaches the hash via the 'plan'
    leg's m1 — same tokenization, same sources); the oracle re-derives
    p_d, the sqrt, the normalizer, and the plan arithmetic from scratch
    in SQL."""
    from trustfuse_spark.operators.curation import temperature_shares

    a = mixture_plan_docs(spark, sf_dir).select(
        F.lit("plan").alias("gate"),
        "source",
        F.lit("").alias("key"),
        F.col("domain_tokens").cast("double").alias("m1"),
        F.col("target_tokens").cast("double").alias("m2"),
        F.col("rate").alias("m3"),
        F.col("epochs").cast("double").alias("m4"),
    )
    b = apply_mixture_docs(spark, sf_dir).select(
        F.lit("apply").alias("gate"),
        "source",
        F.col("doc_id").cast("string").alias("key"),
        F.col("epoch").cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    sel = d.select("source", F.size(toks).cast("long").alias("n_tokens"))
    c = temperature_shares(sel, temperature=2.0, token_budget=50000).select(
        F.lit("temp").alias("gate"),
        "source",
        F.lit("").alias("key"),
        F.col("share").alias("m1"),
        F.col("target_tokens").cast("double").alias("m2"),
        F.col("rate").alias("m3"),
        F.col("epochs").cast("double").alias("m4"),
    )
    return a.unionByName(b).unionByName(c)


def c4_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (curation.c4_rules) over a
    deterministically line-structured twin of the documents table. The
    synthetic corpus is single-line with zero punctuation — every C4 rule
    would be constant on it — so the gate first reshapes each doc's tokens
    into 5-token lines whose terminal punctuation, planted "javascript"
    tokens, braces, and "lorem ipsum" prefixes are pure functions of
    (doc_id, line index); the oracle rebuilds the SAME text and re-derives
    every rule in SQL (same planted-input pattern as multimodal_decode).
    The filtered-and-rejoined clean_text is hash-compared VERBATIM."""
    from trustfuse_spark.operators.curation import c4_rules

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(5.0)).cast("long")
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda i: F.concat(
            F.when((F.col("doc_id") + i) % 19 == 0, F.lit("lorem ipsum "))
            .otherwise(F.lit("")),
            F.array_join(F.slice(toks, (i * 5 + 1).cast("int"), 5), " "),
            F.when((F.col("doc_id") * 7 + i) % 11 == 0, F.lit(" javascript"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 17 == 0, F.lit(" {"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 3 == 0, F.lit(""))
            .otherwise(F.lit(".")),
        ),
    )
    structured = d.withColumn("text", F.array_join(lines, "\n"))
    return c4_rules(structured, min_words_line=5, min_sentences=3).select(
        "doc_id", "n_lines", "n_kept_lines", "n_sentences",
        "c4_has_lorem", "c4_has_brace", "c4_keep", "clean_text",
    )


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet cross-document line dedup (curation.line_dedup) over a
    boilerplate-planted line twin of the documents table: each doc's tokens
    reshape into 5-token lines, docs with doc_id%3==0 get a constant
    "subscribe..." header and docs with doc_id%2==0 a constant "all rights
    reserved" footer — cross-doc duplicates by construction, so keep-first
    dedup removes every planted occurrence except the corpus-wide minimum
    (doc_id, idx). Content lines that collide after CCNet normalization
    dedup too; the oracle rebuilds the SAME twin and replays the rule in
    SQL. The deduped clean_text is hash-compared VERBATIM."""
    from trustfuse_spark.operators.curation import line_dedup

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(5.0)).cast("long")
    content = F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, (i * 5 + 1).cast("int"), 5), " "),
    )
    header = F.when(
        F.col("doc_id") % 3 == 0,
        F.array(F.lit("subscribe to our newsletter today")),
    ).otherwise(F.array().cast("array<string>"))
    footer = F.when(
        F.col("doc_id") % 2 == 0, F.array(F.lit("all rights reserved"))
    ).otherwise(F.array().cast("array<string>"))
    twin = d.withColumn(
        "text", F.array_join(F.concat(header, content, footer), "\n")
    )
    return line_dedup(twin).select(
        "doc_id",
        F.col("n_lines").alias("ld_n_lines"),
        F.col("n_kept_lines").alias("ld_n_kept_lines"),
        F.col("clean_text").alias("ld_clean_text"),
    )


def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality scorer (curation.
    hashed_linear_score) with a deterministic 64-bucket weight table
    w[j] = (((j+1)*2654435761) % 1000 - 500)/1000 — the oracle rebuilds the
    same table and replays the same in-order double fold, so the logit
    matches bit-for-bit before the 6-decimal display rounding. Portable
    poly31 bucketing at gate scale (production uses xxhash64)."""
    from trustfuse_spark.operators.curation import hashed_linear_score

    d = _t(spark, sf_dir, "documents")
    w = [(((j + 1) * 2654435761) % 1000 - 500) / 1000.0 for j in range(64)]
    out = hashed_linear_score(d, w, bias=0.05, portable_hash=True)
    return out.select(
        "doc_id", F.round("q_logit", 6).alias("q_logit"), "q_keep"
    )


def textstats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text stats joined on doc_id: heuristic lang-ID + BPE-ish
    token count (lang_id_docs), within-doc duplicate n-gram ratios
    (doc_repetition), the Rae et al. 2021 Gopher hard-gate rule flags
    (curation.gopher_rules: word count, mean word length, symbol ratio,
    alpha fraction, distinct stopwords, duplicate 3-gram fraction, plus the
    conjunctive gopher_keep), the Raffel et al. 2020 C4 line-level
    cleaning leg (c4_docs: line counts, sentence count, lorem/brace flags,
    conjunctive c4_keep, and the cleaned text verbatim), the Wenzek et
    al. 2020 CCNet cross-document line-dedup leg (line_dedup_docs: kept-line
    counts + the deduped text verbatim), and the Joulin et al. 2017
    fastText-style hashed linear quality score (quality_score_docs) — one
    row per document covering all six operators; every flag and metric
    reaches the hash."""
    from trustfuse_spark.operators.curation import gopher_rules

    a = lang_id_docs(spark, sf_dir)
    b = doc_repetition(spark, sf_dir)
    # min_stopwords=1: the synthetic corpus carries exactly one canonical
    # stopword ('the', ~3/4 of docs), so at the paper's default of 2 the
    # flag would be constant-0 and hash-trivial; at 1 it splits the corpus.
    g = gopher_rules(_t(spark, sf_dir, "documents"), min_stopwords=1).select(
        "doc_id", "n_words", "mean_word_len", "r_word_count", "r_mean_len",
        "r_symbol", "r_alpha", "r_stop", "r_dup", "gopher_keep",
    )
    c = c4_docs(spark, sf_dir)
    ld = line_dedup_docs(spark, sf_dir)
    q = quality_score_docs(spark, sf_dir)
    return (
        a.join(b, "doc_id")
        .join(g, "doc_id")
        .join(c, "doc_id")
        .join(ld, "doc_id")
        .join(q, "doc_id")
    )


def ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN pair tag-unioned (consolidated r5): brute-force cosine top-5
    (gate='brute') and the IVF-probed top-5 (gate='ivf') — both oracled by
    the exhaustive SQL scan (IVF with full probes is exact by design).

    Round-5 leg, gate='pca': the distributed moments of
    embeddings.embedding_moments — count (qid=cid=-1), per-coordinate mean
    (cid=-1), and the FULL 64x64 population covariance, every cell hashed
    at 6 dp; the oracle re-derives E[x], E[x x^T] and the covariance from
    an unnested double-cast self-join, so a wrong partial sum, a
    float32-product shortcut, or a divide-by-(N-1) slip breaks the hash.
    The eigendecomposition half of PCA is the caller's: fixed-size driver
    numpy over the collected moments (convergence-scalar convention).

    Round-5 legs, gate='pqcode'/'pqcent': product quantization
    (embeddings.product_quantize, 4 subspaces x 16 dims, 16 codes, one
    Lloyd round) — every vector's per-subspace code AND the full final
    codebook reach the hash. Training replays in SQL because every
    distance is a SEQUENTIAL left-to-right fold (bit-identical to
    list_reduce) and the only order-dependent sums (centroid means) are
    pinned by 6-dp rounding before the next assignment."""
    from trustfuse_spark.operators.embeddings import (
        embedding_moments,
        product_quantize,
    )

    a = ann_topk(spark, sf_dir).select(F.lit("brute").alias("gate"), "qid", "cid", "sim_r", "rn")
    # IVF centroid training and PQ codebook training are independent chains
    # of small sequential driver jobs (Lloyd collects); run them from two
    # driver threads so one chain back-fills the other's idle cores
    # (guide §2.6) — construction was the dominant cost of this query
    # (10.4s build vs 3.7s exec, bench_extra r6).
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fut_ivf = _pool.submit(ivf_ann_topk, spark, sf_dir)
        # gate scale runs the SQL-replayable fold assignment; every other
        # scale runs the numpy mapInPandas path (pytest pins codes equal)
        _fut_pq = _pool.submit(
            product_quantize,
            _t(spark, sf_dir, "embeddings"),
            vectorized=_os.path.basename(sf_dir.rstrip("/")) != "sf0.01",
        )
        b = _fut_ivf.result().select(
            F.lit("ivf").alias("gate"), "qid", "cid", "sim_r", "rn"
        )
        codes, cents = _fut_pq.result()
    # three consumers (pqcode leg, ADC join, PQ blocking) read codes: cache
    # so the assignment pass over the corpus runs once, not three times
    codes = codes.cache()
    m = embedding_moments(_t(spark, sf_dir, "embeddings")).select(
        F.lit("pca").alias("gate"),
        F.col("i").alias("qid"),
        F.col("j").alias("cid"),
        F.round("value", 6).alias("sim_r"),
        F.lit(-1).cast(a.schema["rn"].dataType).alias("rn"),
    )
    pq1 = codes.select(
        F.lit("pqcode").alias("gate"),
        F.col("id").alias("qid"),
        F.col("sub").cast("long").alias("cid"),
        F.col("code").cast("double").alias("sim_r"),
        F.lit(-2).cast(a.schema["rn"].dataType).alias("rn"),
    )
    pq2 = cents.select(
        F.lit("pqcent").alias("gate"),
        F.col("sub").cast("long").alias("qid"),
        (F.col("code") * 16 + F.col("dim")).cast("long").alias("cid"),
        F.col("value").alias("sim_r"),
        F.lit(-3).cast(a.schema["rn"].dataType).alias("rn"),
    )
    # gate='adc': the asymmetric-distance scan over those codes — the %97
    # query vectors' top-10 by table-lookup distance (ranked on the 6-dp
    # rounded sum, ties by id, so the 4-term float sum's ulp noise never
    # decides a rank); the oracle recomputes tables, sums, and ranks from
    # its own replayed codebook and assignment.
    from trustfuse_spark.operators.embeddings import pq_adc_topk

    adc = pq_adc_topk(
        codes,
        cents,
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 97 == 0),
        k_top=10,
    ).select(
        F.lit("adc").alias("gate"),
        F.col("qid"),
        F.col("id").alias("cid"),
        F.col("adist").alias("sim_r"),
        F.col("rank").cast(a.schema["rn"].dataType).alias("rn"),
    )
    # gate='pqblock': PQ-code candidate blocking + exact-cosine verify
    # (embeddings.pq_candidate_pairs) — pairs agreeing on >= 3 of 4
    # subspace codes, cosine at the ANN 4-dp rounding; n_shared rides rn.
    from trustfuse_spark.operators.embeddings import pq_candidate_pairs

    blk = pq_candidate_pairs(
        codes, _t(spark, sf_dir, "embeddings"), min_shared=3
    ).select(
        F.lit("pqblock").alias("gate"),
        F.col("id_a").alias("qid"),
        F.col("id_b").alias("cid"),
        F.round("cosine", 4).alias("sim_r"),
        F.col("n_shared").cast(a.schema["rn"].dataType).alias("rn"),
    )
    return (
        a.unionByName(b).unionByName(m).unionByName(pq1)
        .unionByName(pq2).unionByName(adc).unionByName(blk)
    )


def crh_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRH pair tag-unioned (consolidated r5): the single SQL-form weight
    step (gate='step1') and the full engine 2-iteration run (gate='engine2')."""
    # the two legs are independent; the engine leg's per-iteration eager
    # checkpoints dominate construction, so build both concurrently
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fa = _pool.submit(crh_weight_step, spark, sf_dir)
        _fb = _pool.submit(crh_engine_weights, spark, sf_dir)
        a = _fa.result().select(F.lit("step1").alias("gate"), "source", "w")
        b = _fb.result().select(F.lit("engine2").alias("gate"), "source", "w")
    return a.unionByName(b)


def group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + W3 tag-unioned (consolidated r5): exact interpolated medians per
    returnflag (gate='median') and the eps-floored population stddev CRH
    denominator per partkey (gate='stddev'); metrics ride as doubles.

    Round-5 legs, gate='ols'/'olsn': stats.group_ols — per-returnflag OLS of
    extendedprice on quantity from ONE sufficient-statistic hash agg. The
    sums are exact DECIMAL(38,12) (order-independent — a double sum would
    drift with partition order), the closed-form slope/intercept/r2/n ride
    at 6 dp; the oracle replays the identical cast chain and expression
    tree in DuckDB, so a float shortcut anywhere breaks the hash.

    Leg gate='quant': stats.group_quantiles — exact type-7 p10/p50/p90 of
    extendedprice per returnflag via Spark's JVM percentile aggregate,
    oracled by DuckDB's independent quantile_cont (same published
    interpolation rule, different engine implementation).

    Leg gate='wins': stats.winsorize — extendedprice clipped to its
    returnflag's exact [1%, 99%] quantiles; the winsorized group sum (2 dp,
    the q1 convention) and the clipped-row count both reach the hash, so
    the bounds, the clip, and the flag all replay."""
    from trustfuse_spark.operators.stats import group_ols, group_quantiles, winsorize

    li = _t(spark, sf_dir, "lineitem")
    ols = group_ols(li, "l_returnflag", "l_quantity", "l_extendedprice")
    wz = (
        winsorize(li, "l_returnflag", "l_extendedprice", lo=0.01, hi=0.99)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_extendedprice_wins"), 2).alias("wsum"),
            F.sum("clipped").cast("long").alias("nclip"),
        )
    )
    g = wz.select(
        F.lit("wins").alias("gate"),
        F.col("l_returnflag").alias("key"),
        F.col("wsum").alias("m1"),
        F.col("nclip").cast("double").alias("m2"),
    )
    qt = group_quantiles(li, "l_returnflag", "l_extendedprice", [0.1, 0.5, 0.9])
    e = qt.select(
        F.lit("quant").alias("gate"),
        F.concat_ws("|", "l_returnflag", F.col("prob").cast("string")).alias("key"),
        F.round("quantile", 6).alias("m1"),
        F.col("prob").alias("m2"),
    )
    c = ols.select(
        F.lit("ols").alias("gate"),
        F.col("l_returnflag").alias("key"),
        F.round("slope", 6).alias("m1"),
        F.round("intercept", 6).alias("m2"),
    )
    d = ols.select(
        F.lit("olsn").alias("gate"),
        F.col("l_returnflag").alias("key"),
        F.round("r2", 6).alias("m1"),
        F.col("n").cast("double").alias("m2"),
    )
    a = median_exact(spark, sf_dir).select(
        F.lit("median").alias("gate"),
        F.col("l_returnflag").alias("key"),
        F.col("median_qty").alias("m1"),
        F.col("median_price").alias("m2"),
    )
    b = stddev_denom(spark, sf_dir).select(
        F.lit("stddev").alias("gate"),
        F.col("l_partkey").cast("string").alias("key"),
        F.col("denom").alias("m1"),
        F.col("n_claims").cast("double").alias("m2"),
    )
    return (
        a.unionByName(b).unionByName(c).unionByName(d)
        .unionByName(e).unionByName(g)
    )


def group_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + W1 tag-unioned (consolidated r5, frees a row for the asof
    gate): per-nation majority segment with ascending tie-break
    (gate='mode') and the per-customer argmax order pinned by key
    (gate='argmax'); counts/prices ride as doubles."""
    a = mode_per_group(spark, sf_dir).select(
        F.lit("mode").alias("gate"),
        F.col("c_nationkey").cast("string").alias("key"),
        F.col("mode_segment").alias("val"),
        F.col("votes").cast("double").alias("m1"),
    )
    b = argmax_per_group(spark, sf_dir).select(
        F.lit("argmax").alias("gate"),
        F.col("o_custkey").cast("string").alias("key"),
        F.col("top_order").cast("string").alias("val"),
        F.col("top_price").alias("m1"),
    )
    return a.unionByName(b)


def graph_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 graph surface tag-unioned (consolidated r5, frees a row for the
    pagerank gate): fused-triple node degrees (gate='degrees') and the
    3-hop directed ego subgraph with first-reach hop indices (gate='ego')."""
    a = graph_degrees(spark, sf_dir).select(
        F.lit("degrees").alias("gate"),
        F.col("node").alias("a"),
        F.lit("").alias("b"),
        F.lit("").alias("c"),
        F.col("out_deg").cast("long").alias("m1"),
        F.col("in_deg").cast("long").alias("m2"),
        F.col("degree").cast("long").alias("m3"),
    )
    b = graph_ego(spark, sf_dir).select(
        F.lit("ego").alias("gate"),
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("pred").alias("c"),
        F.col("hop").cast("long").alias("m1"),
        F.lit(None).cast("long").alias("m2"),
        F.lit(None).cast("long").alias("m3"),
    )
    # Round-5 leg, gate='edit1': the FastSS deletion-neighborhood
    # similarity join (linking.edit_distance_pairs) over the corpus's
    # distinct tokens PLUS deterministically planted surface variants
    # (docs with doc_id%3==0 contribute each token minus its first char;
    # %5==0 contribute it with the first char swapped to 'x' — typo/alias
    # forms, so deletion-, insertion-, and substitution-shaped distance-1
    # pairs all exist and every one reaches the hash). The oracle replants
    # and re-derives variants, candidates, and the levenshtein verify
    # independently.
    from trustfuse_spark.operators.linking import edit_distance_pairs

    d0 = _t(spark, sf_dir, "documents")
    tk = F.explode(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    ).alias("token")
    base = d0.select(tk)
    long_t = F.length("token") >= 2
    p1 = (
        d0.filter(F.col("doc_id") % 3 == 0).select(tk)
        .filter(long_t)
        .select(F.expr("substring(token, 2)").alias("token"))
    )
    p2 = (
        d0.filter(F.col("doc_id") % 5 == 0).select(tk)
        .filter(long_t)
        .select(F.concat(F.lit("x"), F.expr("substring(token, 2)")).alias("token"))
    )
    toks = base.unionByName(p1).unionByName(p2)
    ed = edit_distance_pairs(toks, "token").select(
        F.lit("edit1").alias("gate"),
        F.col("val_a").alias("a"),
        F.col("val_b").alias("b"),
        F.lit("").alias("c"),
        F.col("dist").alias("m1"),
        F.lit(None).cast("long").alias("m2"),
        F.lit(None).cast("long").alias("m3"),
    )
    return a.unionByName(b).unionByName(ed)


def asof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal operators (operators/temporal.py) over the events table:

    - gate='asof' — backward-inclusive as-of join (tagged-union + running
      last-non-null window; ONE exchange over |L|+|R| rows): every
      non-purchase event picks up the latest purchase checkpoint at or
      before its timestamp per user. The right side is deduplicated to
      unique (user_id, ts) via max_by on event_id so tie semantics are
      pinned; the ORACLE uses DuckDB's native ASOF LEFT JOIN — a completely
      independent implementation of the same published semantics.
    - gate='snap' — point-in-time KG snapshot (snapshot_asof): the latest
      event per (user_id, event_type) with ts <= 2024-01-20, as ONE
      max_by-struct hash agg; oracled by a ROW_NUMBER replay.

    Values (value doubles, both timestamps, matched event ids) ride raw —
    no arithmetic touches them, so the hash compares parquet-exact."""
    import datetime

    from trustfuse_spark.operators.temporal import asof_join, snapshot_asof

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("event_id", "event_id").alias("r_event"),
            F.max_by("value", "event_id").alias("r_value"),
        )
    )
    joined = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
    a = joined.select(
        F.lit("asof").alias("gate"),
        F.col("event_id").cast("string").alias("key"),
        F.col("ts"),
        F.col("ts_r").alias("ts2"),
        F.col("r_event_r").cast("long").alias("i1"),
        F.col("r_value_r").alias("d1"),
    )
    snap = snapshot_asof(
        ev.select("user_id", "event_type", "ts", "event_id", "value"),
        as_of=datetime.datetime(2024, 1, 20),
        key_cols=["user_id", "event_type"],
        ts_col="ts",
    )
    b = snap.select(
        F.lit("snap").alias("gate"),
        F.concat(
            F.col("user_id").cast("string"), F.lit("|"), F.col("event_type")
        ).alias("key"),
        F.col("ts"),
        F.lit(None).cast("timestamp").alias("ts2"),
        F.col("event_id").cast("long").alias("i1"),
        F.col("value").alias("d1"),
    )
    # Round-5 leg, gate='ret': weekly cohort retention
    # (temporal.cohort_retention) — users cohort by the Monday-truncated
    # week of their first event; every (cohort, offset) cell's distinct
    # returning users AND retained fraction reach the hash. The oracle
    # re-derives firsts, actives, and cohort sizes with independent SQL.
    from trustfuse_spark.operators.temporal import cohort_retention

    ret = cohort_retention(ev).select(
        F.lit("ret").alias("gate"),
        F.col("offset_weeks").cast("string").alias("key"),
        F.col("cohort_week").alias("ts"),
        F.lit(None).cast("timestamp").alias("ts2"),
        F.col("n_users").cast("long").alias("i1"),
        F.col("retention").alias("d1"),
    )
    # Round-5 leg, gate='z': the Morton value driving Z-order clustering
    # (operators/zorder.z_value, 16-bit interleave of user_id and
    # event_id's low bits) — pure shift/mask/or arithmetic the oracle
    # recomputes per row; the repartitionByRange+sort clustering itself is
    # pytest-gated (per-partition span tightening is a layout property,
    # not a value).
    from trustfuse_spark.operators.zorder import z_value

    zv = ev.select(
        F.lit("z").alias("gate"),
        F.col("event_id").cast("string").alias("key"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("ts2"),
        z_value(F.col("user_id"), F.col("event_id"), bits=16).alias("i1"),
        F.lit(None).cast("double").alias("d1"),
    )
    return a.unionByName(b).unionByName(ret).unionByName(zv)


def pagerank_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity importance (graph.pagerank): 3 power iterations with exact
    dangling-mass redistribution over the same event-derived 200-node edge
    universe as graph_ego, minus all out-edges of nodes with id % 17 == 0 —
    those 12 nodes still appear as destinations, so they are REAL dangling
    nodes and the dmass/n correction term is value-bearing (drop it and
    every rank shifts). The oracle unrolls the three iterations as chained
    CTEs (dangling-mass scalar, per-dst contribution sum, rank update) —
    a from-scratch replay of the recurrence, not the operator. Ranks are
    rounded to 6 dp on both sides (sum-order float noise is ~1e-16 on
    ranks ~5e-3).

    Round-5 legs on the SAME edge universe, tag-unioned (gate column):
    'tri'/'lcc' — per-node triangle count and local clustering coefficient
    (graph.triangle_stats, degree-orientation node-iterator); the oracle
    counts triangles independently via the a<b<c three-way self-join, which
    must agree with the oriented plan exactly. 'lpa' — 2 synchronous
    iterations of deterministic label propagation (max-count, ties to the
    LARGEST label); the oracle unrolls both iterations with windowed
    argmax CTEs. Labels ride the string column; numeric legs ride rank.
    'kcore' — the k=7 core (graph.k_core iterative peel to fixpoint) with
    each survivor's in-core degree; 12 of the 200 nodes peel off at this
    k, so the leg is value-bearing. The oracle unrolls THREE peel rounds
    (degree agg -> keep >= 7 -> filter both endpoints); the gate universe
    reaches fixpoint after one real round, so the extra unrolled rounds
    are idempotent and the replay is depth-independent.
    'aa' — common-neighbor / Adamic-Adar link prediction
    (graph.link_prediction): every NON-adjacent pair with >=1 common
    neighbor, node = 'a|b', rank = the Adamic-Adar score, label = the
    common-neighbor count; the oracle re-enumerates wedges from the raw
    adjacency and re-applies the existing-edge anti-join, so both the
    proposed-pair set and every score reach the hash.
    'hub'/'auth' — HITS (graph.hits, 2 L1-normalized mutual-recursion
    rounds) on the directed edges; the oracle unrolls both rounds as
    join+agg+normalizer CTEs, so every hub and authority score reaches the
    hash (sinks hub 0, sources auth 0 — real on this universe: the 12
    pagerank-dangling nodes are exactly the hub-0 rows)."""
    from trustfuse_spark.operators.graph import (
        hits,
        k_core,
        label_propagation,
        link_prediction,
        pagerank,
        triangle_stats,
    )

    ev = _t(spark, sf_dir, "events")
    a = F.col("event_id") % 200
    edges = (
        ev.filter((a % 17) != 0)
        .select(
            F.concat(F.lit("n"), a.cast("string")).alias("src"),
            F.concat(
                F.lit("n"),
                ((F.col("event_id") * 7 + F.col("user_id") % 5 + 1) % 200)
                .cast("string"),
            ).alias("dst"),
        )
        .distinct()
        # one small job: every one of the 11 legs otherwise re-derives the
        # edge universe (events scan + distinct) inside its own iterative
        # checkpoints, and the severed lineage keeps each leg's per-round
        # plans small
        .localCheckpoint(eager=True)
    )
    # The iterative legs (pagerank/k-core/LPA/HITS/SSSP/triangles) are
    # independent chains of small sequential driver jobs (eager checkpoint
    # or count per round). Build them from a thread pool so the chains
    # overlap (guide §2.6) — construction was 9.6s of this query's 14.7s
    # (bench_extra r6, 75 sequential build jobs). Determinism is untouched:
    # threads only reorder job submission across independent legs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=6) as _pool:
        _f_pr = _pool.submit(pagerank, edges, iterations=3, damping=0.85)
        _f_ts = _pool.submit(triangle_stats, edges)
        _f_lpa = _pool.submit(label_propagation, edges, iterations=2)
        _f_kc = _pool.submit(k_core, edges, k=7)
        _f_aa = _pool.submit(link_prediction, edges)
        _f_hi = _pool.submit(hits, edges, iterations=2)

        def _build_sssp():
            from trustfuse_spark.operators.graph import shortest_paths

            nodes = (
                edges.select(F.col("src").alias("node"))
                .unionByName(edges.select(F.col("dst").alias("node")))
                .distinct()
            )
            nid = F.col("node").substr(F.lit(2), F.lit(8)).cast("long")
            wedges = edges.withColumn(
                "weight",
                (
                    (
                        F.col("src").substr(F.lit(2), F.lit(8)).cast("long") * 3
                        + F.col("dst").substr(F.lit(2), F.lit(8)).cast("long") * 5
                    )
                    % 7
                    + 1
                ).cast("double"),
            )
            return shortest_paths(wedges, nodes.filter(nid % 41 == 0), rounds=3)

        _f_sp = _pool.submit(_build_sssp)
        pr = _f_pr.result().select(
            F.lit("pr").alias("gate"),
            "node",
            F.round("rank", 6).alias("rank"),
            F.lit(None).cast("string").alias("label"),
        )
        ts = _f_ts.result()
        tri = ts.select(
            F.lit("tri").alias("gate"),
            "node",
            F.col("triangles").cast("double").alias("rank"),
            F.lit(None).cast("string").alias("label"),
        )
        lcc = ts.select(
            F.lit("lcc").alias("gate"),
            "node",
            F.round("lcc", 6).alias("rank"),
            F.lit(None).cast("string").alias("label"),
        )
        lpa = _f_lpa.result().select(
            F.lit("lpa").alias("gate"),
            "node",
            F.lit(None).cast("double").alias("rank"),
            "label",
        )
        kc = _f_kc.result().select(
            F.lit("kcore").alias("gate"),
            "node",
            F.col("core_deg").cast("double").alias("rank"),
            F.lit(None).cast("string").alias("label"),
        )
        aa = _f_aa.result().select(
            F.lit("aa").alias("gate"),
            F.concat("node_a", F.lit("|"), "node_b").alias("node"),
            F.col("adamic_adar").alias("rank"),
            F.col("common_neighbors").cast("string").alias("label"),
        )
        # 'walk' — the DeepWalk corpus (graph.random_walks): one 3-step walk
        # per node, next hop = poly31('start#walk#step')+Knuth-mix % out-degree
        # over the dst-sorted adjacency, stopping at sinks; every visited
        # (walk, step, node) row reaches the hash, so a wrong neighbor rank,
        # degree, or hash hop breaks it. The oracle unrolls the three hops.
        from trustfuse_spark.operators.graph import random_walks

        rw = (
            random_walks(edges, walk_len=3, walks_per_node=1, portable_hash=True)
            .select(
                F.concat_ws("|", "start", F.col("walk").cast("string")).alias("wid"),
                F.col("step").cast("double").alias("rank"),
                F.col("node").alias("label"),
            )
            .select(
                F.lit("walk").alias("gate"),
                F.col("wid").alias("node"),
                "rank",
                "label",
            )
        )
        # 'neg' — KG-embedding negative sampling (kg.negative_samples): each
        # edge's corrupted tail = the NEXT edge's tail within its poly31 hash
        # bucket (in-batch corruption — no global entity index), with the
        # filtered-setting collision flag from a left join on the corrupted
        # pair. node = 'src|dst', label = neg tail, rank = is_collision.
        from trustfuse_spark.operators.kg import negative_samples

        ng = negative_samples(edges, n_buckets=16, portable_hash=True).select(
            F.lit("neg").alias("gate"),
            F.concat_ws("|", "src", "dst").alias("node"),
            F.col("is_collision").cast("double").alias("rank"),
            F.col("neg_dst").alias("label"),
        )
        # 'sssp' — multi-source Bellman-Ford (graph.shortest_paths, 3
        # relaxation rounds) from the id%41==0 seed nodes over deterministic
        # integer-valued weights w = (3*src_id + 5*dst_id) % 7 + 1: every path
        # sum is exact in double, so distances ride unrounded; the oracle
        # unrolls the three min-plus rounds as chained CTEs.
        from trustfuse_spark.operators.graph import shortest_paths

        sp = _f_sp.result().select(
            F.lit("sssp").alias("gate"),
            "node",
            F.col("dist").alias("rank"),
            F.lit(None).cast("string").alias("label"),
        )
        hi = _f_hi.result()
    hub = hi.select(
        F.lit("hub").alias("gate"),
        "node",
        F.round("hub", 6).alias("rank"),
        F.lit(None).cast("string").alias("label"),
    )
    auth = hi.select(
        F.lit("auth").alias("gate"),
        "node",
        F.round("auth", 6).alias("rank"),
        F.lit(None).cast("string").alias("label"),
    )
    return (
        pr.unionByName(tri).unionByName(lcc).unionByName(lpa)
        .unionByName(kc).unionByName(aa).unionByName(hub).unionByName(auth)
        .unionByName(sp).unionByName(rw).unionByName(ng)
    )


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact duplicated-span coverage (dedup.duplicated_spans,
    the Lee et al. 2022 exact-substring signal as k-gram fingerprints): for
    every doc, the EXACT union size of its word 6-grams that occur in >= 2
    distinct documents (the sf0.01 corpus has ~1k naturally shared 6-grams).
    Gate scale keys by the raw gram string (hash_grams=False — engine-
    portable, collision-free); corpus runs use the xxhash64 path, which a
    pytest pins equal on overlapping-span fixtures. The oracle re-derives
    grams, the >=2-distinct-docs set, and the running-max interval union
    independently in SQL windows."""
    from trustfuse_spark.operators.dedup import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    return duplicated_spans(d, k=6, min_docs=2, hash_grams=False)


def lm_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus LM suite tag-unioned: the top-40 vocabulary with rank +
    cumulative coverage (gate='vocab'), the per-doc add-0.5-smoothed
    bigram-LM mean log-prob quality score (gate='score') — lm.vocab_topk /
    lm.bigram_lm_score — the CCNet head/middle/tail perplexity bucketing
    over those scores (gate='ppl': lm.perplexity_buckets exact-rank path,
    bucket + global rank per scored doc), and the DSIR importance-resampling
    selection
    (gate='dsir': curation.dsir_select, target = lang 'en', 32 portable
    poly31 buckets, add-0.5 smoothing, Gumbel-top-100 on the portable
    draw; m1=n_feats, m2=log_weight, m3=gumbel_key, m4=selected). The
    oracle rebuilds all three from scratch: bigram and context counts as
    grouped CTEs, the vocab-size scalar as a subquery, log-probs
    re-averaged per doc, and the full DSIR chain — unigram+bigram features
    re-hashed via list_reduce, bucket log-ratios, per-doc weight sums, the
    Knuth-mixed uniform draw, and the top-k re-ranked with ROW_NUMBER.

    The portable poly31 feature hash folds per CHARACTER through
    interpreted HOFs (bounded gate/test inputs only — same contract as the
    simhash gate), so it runs ONLY at the sf0.01 gate scale where the
    oracle needs it; at every other scale the dsir leg runs the actual
    corpus path — xxhash64 buckets and draw, JVM codegen — so the bench
    times what a cluster would run."""
    import os

    from trustfuse_spark.operators.curation import dsir_select
    from trustfuse_spark.operators.lm import (
        _tokens,
        bigram_lm_score,
        bpe_encode,
        perplexity_buckets,
        train_bpe,
        vocab_topk,
    )
    from trustfuse_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    portable = os.path.basename(sf_dir.rstrip("/")) == "sf0.01"
    # BPE training is a sequential chain of small driver jobs (one argmax
    # collect per merge round); run it from a worker thread so it overlaps
    # the other legs' construction jobs (bigram vocab-size scalar, DSIR
    # chain) — guide §2.6. Results are unchanged: the chain is
    # deterministic and threads only reorder job submission.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _bpe_pool:
        _fut_bpe = _bpe_pool.submit(train_bpe, d, 3)
        a = vocab_topk(d, top_n=40).select(
            F.lit("vocab").alias("gate"),
            F.col("token").alias("key"),
            F.col("cnt").cast("double").alias("m1"),
            F.col("rank").cast("double").alias("m2"),
            F.col("coverage").alias("m3"),
            F.lit(None).cast("double").alias("m4"),
        )
        # cache: the 'score' and 'ppl' legs both consume the scoring — without
        # it the bigram-LM estimation+scoring chain executes twice in the one
        # final action
        lm_scores = bigram_lm_score(d, alpha=0.5).cache()
        b = lm_scores.select(
            F.lit("score").alias("gate"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("n_bigrams").cast("double").alias("m1"),
            F.col("avg_logprob").alias("m2"),
            F.lit(None).cast("double").alias("m3"),
            F.lit(None).cast("double").alias("m4"),
        )
        # CCNet perplexity-bucket leg (lm.perplexity_buckets, exact-rank path
        # over the shared scoring): head/middle/tail tier + global rank per
        # doc; unscored (<2-token) docs carry NULLs. The oracle re-ranks the
        # same rounded scores with ROW_NUMBER and re-derives the floor bucket.
        p = perplexity_buckets(scores=lm_scores, n_buckets=3).select(
            F.lit("ppl").alias("gate"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("bucket").cast("double").alias("m1"),
            F.col("rank").cast("double").alias("m2"),
            F.lit(None).cast("double").alias("m3"),
            F.lit(None).cast("double").alias("m4"),
        )
        c = dsir_select(
            d, F.col("lang") == "en", k=100, n_buckets=32, lam=0.5, salt=3,
            portable_hash=portable,
        ).select(
            F.lit("dsir").alias("gate"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("n_feats").cast("double").alias("m1"),
            F.col("log_weight").alias("m2"),
            F.col("gumbel_key").alias("m3"),
            F.col("selected").cast("double").alias("m4"),
        )
        # BPE legs (lm.train_bpe, 3 merge rounds): the learned rules ride as
        # 'rank:a b' keys with their counts, every word's final segmentation as
        # 'word|syms' keys — so a wrong pair, wrong rule order, or any
        # mis-merged word breaks the hash. The oracle re-derives each round's
        # argmax pair and replays the greedy merge fold as a recursive CTE
        # (same sequential-fold pattern as the pack_sequences oracle).
        merges, bpe_vocab = _fut_bpe.result()
    e1 = spark.createDataFrame(
        [(i + 1, a_, b_, n_) for i, (a_, b_, n_) in enumerate(merges)],
        "rank int, a string, b string, n long",
    ).select(
        F.lit("bpe_merge").alias("gate"),
        F.concat_ws(
            ":", F.col("rank"), F.concat_ws(" ", "a", "b")
        ).alias("key"),
        F.col("n").cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    e2 = bpe_vocab.select(
        F.lit("bpe_word").alias("gate"),
        F.concat_ws("|", "word", "syms").alias("key"),
        F.col("cnt").cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    # encode leg: per-doc exact token counts under the learned merges.
    # Cross-implementation check — the engine runs the GPT-2-style
    # min-rank loop in a vocab-dim pandas UDF; the oracle derives the
    # same counts from the TRAINING segmentation (the regex merge fold
    # replayed in SQL), which encode provably reproduces on seen words.
    e3 = bpe_encode(d, merges).select(
        F.lit("bpe_enc").alias("gate"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_words").cast("double").alias("m1"),
        F.col("n_bpe_tokens").cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    # BM25 leg (retrieval.bm25_topk): queries derived deterministically
    # from the corpus itself (every 53rd doc's first 4 tokens), top-10
    # per query. Score (rounded pre-rank), rank, and overlap count all
    # reach the hash; the oracle re-derives the full Okapi chain (pruned
    # postings, RSJ idf, length saturation) from the shared toks CTE.
    qd = d.filter(F.col("doc_id") % 53 == 0).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(_tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    r = bm25_topk(d, qd, k=10).select(
        F.lit("bm25").alias("gate"),
        F.concat_ws("|", "qid", "doc_id").alias("key"),
        F.col("score").alias("m1"),
        F.col("rank").cast("double").alias("m2"),
        F.col("n_terms").cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    # Count-Min sketch legs (sketch.count_min_sketch / cms_estimate):
    # gate='cms' hashes every non-empty cell of the 3x64 sketch; gate='cmse'
    # estimates every distinct token of the doc_id%97==0 docs and rides the
    # EXACT count next to it (m2) so the overcount bound is auditable. The
    # portable poly31 hash (gate scale) lets the oracle rebuild the whole
    # sketch from the shared counts CTE; other scales run xxhash64 (the
    # dsir-leg convention).
    from trustfuse_spark.operators.sketch import cms_estimate, count_min_sketch

    # cache: consumed by the 'cms' cell leg AND broadcast into cms_estimate
    sk = count_min_sketch(d, width=64, depth=3, portable_hash=portable).cache()
    s1 = sk.select(
        F.lit("cms").alias("gate"),
        F.concat_ws("|", F.col("row").cast("string"), F.col("col").cast("string"))
        .alias("key"),
        F.col("cnt").cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    # one cached exploded-token table serves the four exact-count legs
    # below (CMS queries + exact counts, HLL exact distinct, per-lang
    # distinct) — previously four independent tokenize+explode passes
    dtok = d.select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("token")
    ).cache()
    qtok = (
        dtok.filter(F.col("doc_id") % 97 == 0)
        .select("token")
        .distinct()
    )
    exact = (
        dtok.select("token")
        .join(qtok, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    s2 = (
        cms_estimate(sk, qtok, width=64, depth=3, portable_hash=portable)
        .join(exact, "token")
        .select(
            F.lit("cmse").alias("gate"),
            F.col("token").alias("key"),
            F.col("estimate").cast("double").alias("m1"),
            F.col("exact").cast("double").alias("m2"),
            F.lit(None).cast("double").alias("m3"),
            F.lit(None).cast("double").alias("m4"),
        )
    )
    # HyperLogLog legs (sketch.hyperloglog / hll_estimate): gate='hll'
    # hashes every non-zero register of the m=64 sketch (idx, rho) — one
    # occurrence-level map + a 64-row max agg, no vocab shuffle; gate='hlle'
    # rides the bias-corrected estimate (exactly replayable: every 2^-rho
    # partial sum is an exact dyadic double) next to the EXACT distinct
    # count (m2) so the ~1.04/sqrt(64) error bound is auditable. Portable
    # poly31+Knuth hash at gate scale, xxhash64 elsewhere (dsir convention).
    from trustfuse_spark.operators.sketch import hll_estimate, hyperloglog

    # cache: consumed by the 'hll' register leg AND hll_estimate
    hregs = hyperloglog(d, m=64, portable_hash=portable).cache()
    h1 = hregs.select(
        F.lit("hll").alias("gate"),
        F.concat(F.lit("r"), F.col("idx").cast("string")).alias("key"),
        F.col("rho").cast("double").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    n_distinct = dtok.agg(F.countDistinct("token").alias("nd"))
    h2 = hll_estimate(hregs, m=64).crossJoin(n_distinct).select(
        F.lit("hlle").alias("gate"),
        F.lit("estimate").alias("key"),
        F.round("estimate", 6).alias("m1"),
        F.col("nd").cast("double").alias("m2"),
        F.col("n_zero").cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    # grouped variant, gate='hllg': per-lang m=32 registers folded to one
    # estimate row per lang, the exact per-lang distinct count beside it
    gregs = hyperloglog(d, m=32, portable_hash=portable, group_cols=["lang"])
    gexact = dtok.groupBy("lang").agg(F.countDistinct("token").alias("nd"))
    h3 = hll_estimate(gregs, m=32, group_cols=["lang"]).join(gexact, "lang").select(
        F.lit("hllg").alias("gate"),
        F.col("lang").alias("key"),
        F.round("estimate", 6).alias("m1"),
        F.col("nd").cast("double").alias("m2"),
        F.col("n_zero").cast("double").alias("m3"),
        F.lit(None).cast("double").alias("m4"),
    )
    return (
        a.unionByName(b)
        .unionByName(p)
        .unionByName(c)
        .unionByName(e1)
        .unionByName(e2)
        .unionByName(e3)
        .unionByName(r)
        .unionByName(s1)
        .unionByName(s2)
        .unionByName(h1)
        .unionByName(h2)
        .unionByName(h3)
    )


def triple_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG post-materialization quality stage (kg.canonicalize_predicates +
    kg.validate_triples) over the SAME closed-form pipeline triples as
    docs_pipeline_triples, with deterministic planted defects so every flag
    is value-bearing: entity-ref objects are remapped into Q1000+vidx%150
    (so ~2/3 resolve against the subject set and the rest dangle), quantity
    objects of entities with id % 13 == 0 become 'n/a' (typing violation),
    P_str objects of id % 29 == 0 become '' (null violation). Predicates
    P_ent0/P_ent1/P_qty canonicalize via the alias dim; P_ent2 is left
    unmapped, so its rows prove the keep-surface default AND that
    un-aliased ref predicates are exempt from the dangling check.

    r5: also carries the RDF 1.1 N-Triples serialization of every row
    (kg.to_ntriples) — aliased ref predicates emit IRI objects, everything
    else (incl. unaliased P_ent2 and the planted ''/'n/a' defects) emits
    escaped literals; the oracle rebuilds the line with SQL string ops.

    r5 leg 2: per-triple functional-property flags
    (kg.functional_violations, related_to + quantity declared functional).
    Fusion leaves one object per (subj, pred), so conflicts are PLANTED:
    subjects with eid % 7 == 0 get a second P_ent0 assertion whose object
    is the +1-shifted Q-remap (never equal to the first — the shift is
    mod-150 with distinct residues), so those groups carry n_objects = 2
    and v_functional = 1 on both rows; n_objects = -1 on non-functional
    predicates proves the exemption. The oracle replants the same rows and
    re-counts distinct objects per group with an independent
    GROUP BY + join.

    r5 leg 3: inverse-functional flags (kg.inverse_functional_violations,
    related_to declared IFP) — distinct SUBJECTS per (pred, obj); the
    mod-150 Q-remap makes many objects naturally shared by several
    subjects, so n_subjects varies and both flag branches are
    value-bearing. Non-IFP predicates carry the -1 sentinel."""
    from trustfuse_spark.datagen import gen_docs
    from trustfuse_spark.operators.kg import (
        canonicalize_predicates,
        functional_violations,
        inverse_functional_violations,
        to_ntriples,
        validate_triples,
    )
    from trustfuse_spark.plans.pipeline import run_pipeline

    docs = gen_docs(spark, 100, 10, 4)
    triples, _ = run_pipeline(docs, model="majority")
    # planted defects AND the conflict branch both scan the fused triples;
    # cache so the majority fusion aggregates run once, not twice
    triples = triples.cache()
    eid = F.substring("subj", 2, 10).cast("int") - 1000
    vidx = F.substring("obj", 2, 10).try_cast("int") - 50000
    planted = triples.withColumn(
        "obj",
        F.when(
            F.col("pred").isin("P_ent0", "P_ent1", "P_ent2"),
            F.concat(F.lit("Q"), (1000 + vidx % 150).cast("string")),
        )
        .when((F.col("pred") == "P_qty") & (eid % 13 == 0), F.lit("n/a"))
        .when((F.col("pred") == "P_str") & (eid % 29 == 0), F.lit(""))
        .otherwise(F.col("obj")),
    )
    # planted functional conflicts: a second, +1-shifted assertion
    conflict = triples.filter((F.col("pred") == "P_ent0") & (eid % 7 == 0)).withColumn(
        "obj", F.concat(F.lit("Q"), (1000 + (vidx + 1) % 150).cast("string"))
    )
    planted = planted.unionByName(conflict)
    aliases = spark.createDataFrame(
        [("P_ent0", "related_to"), ("P_ent1", "part_of"), ("P_qty", "quantity")],
        "alias string, canonical string",
    )
    canon = canonicalize_predicates(planted, aliases)
    out = validate_triples(
        canon, numeric_preds=["quantity"], ref_preds=["related_to", "part_of"]
    )
    out = functional_violations(out, ["related_to", "quantity"])
    out = inverse_functional_violations(out, ["related_to"])
    res = out.select(
        "subj", "pred", "pred_canon", "obj", "bucket_id",
        "v_null", "v_numeric", "v_dangling", "n_violations",
        "n_objects", "v_functional", "n_subjects", "v_inv_functional",
    )
    return to_ntriples(
        res, ref_preds=["related_to", "part_of"], keep_cols=res.columns
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_unshipped": q3_top_unshipped,
        "q6_forecast_revenue": q6_forecast_revenue,
        "group_modes": group_modes,
        "group_moments": group_moments,
        "session_close": session_close,
        "eval_set_ops": eval_set_ops,
        "dedup_exact": dedup_exact,
        "text_profile": text_profile,
        "majority_fusion_sql": majority_fusion_sql,
        "ann_suite": ann_suite,
        "majority_engine": majority_engine,
        "crh_suite": crh_suite,
        "truthfinder_engine_weights": truthfinder_engine_weights,
        "accu_engine_weights": accu_engine_weights,
        "catd_engine_weights": catd_engine_weights,
        "gtm_engine_weights": gtm_engine_weights,
        "kdem_engine_weights": kdem_engine_weights,
        "slimfast_engine_weights": slimfast_engine_weights,
        "ltm_engine_post": ltm_engine_post,
        "truthfinder_string_weights": truthfinder_string_weights,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "presence_accept": presence_accept,
        "gt_carry_forward": gt_carry_forward_q,
        "minhash_neardup_docs": minhash_neardup_docs,
        "simhash_suite": simhash_suite,
        "embedding_neardup": embedding_neardup,
        "substring_dedup": substring_dedup,
        "lm_suite": lm_suite,
        "triple_quality": triple_quality,
        "docs_pipeline_triples": docs_pipeline_triples,
        "coordinate_fusion": coordinate_fusion,
        "cumulative_sets": cumulative_sets,
        "reverse_map_fused": reverse_map_fused,
        "graph_suite": graph_suite,
        "evaluation_metrics": evaluation_metrics,
        "graph_components": graph_components,
        "specificity_mnad": specificity_mnad,
        "multimodal_decode": multimodal_decode,
        "scale_units_fixed": scale_units_fixed,
        "revision_diff_events": revision_diff_events,
        "asof_suite": asof_suite,
        "pagerank_graph": pagerank_graph,
        "decontaminate_docs": decontaminate_docs,
        "pii_scan_docs": pii_scan_docs,
        "textstats_docs": textstats_docs,
        "stratified_sample_docs": stratified_sample_docs,
        "pack_sequences_docs": pack_sequences_docs,
        "mixture_docs": mixture_docs,
        "curate_corpus_docs": curate_corpus_docs,
    }


# --- SQL bodies shared by the consolidated gates (the original standalone
# gate oracles; oracle_sql() wraps them with tags + casts so the merged
# queries' schemas line up column-for-column) --------------------------------

_SESSION_BUCKETIZE_SQL = """
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ) GROUP BY user_id
"""

# UNSPLIT session-close rule in plain SQL windows; matching the presplit
# Spark path proves the delta-boundary split exact.
_SESSION_PRESPLIT_SQL = """
    WITH ev AS (
      SELECT 'e' || CAST(user_id % 200 AS VARCHAR) AS entity,
             's' || CAST(event_id % 5 AS VARCHAR) AS source,
             event_type AS attr,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, ts
      FROM events),
    g AS (
      SELECT *,
             sec - LAG(sec) OVER (PARTITION BY entity
                                  ORDER BY ts, source, attr) AS ent_gap,
             sec - LAG(sec) OVER (PARTITION BY entity, source, attr
                                  ORDER BY ts) AS spa_gap
      FROM ev),
    c AS (
      SELECT *, CASE WHEN ent_gap > 2592000 THEN 1
                     WHEN spa_gap > 172800 THEN 1
                     ELSE 0 END AS cl
      FROM g),
    b AS (
      SELECT entity,
             SUM(cl) OVER (PARTITION BY entity ORDER BY ts, source, attr
                           ROWS UNBOUNDED PRECEDING) AS bucket
      FROM c)
    SELECT entity, CAST(MAX(bucket) + 1 AS INT) AS n_buckets,
           COUNT(*) AS n_claims
    FROM b GROUP BY entity
"""

_TEXT_QUALITY_SQL = """
    SELECT lang,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
           ROUND(AVG(length(text)), 6) AS avg_chars,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
"""

_TEXT_FEATURES_SQL = r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS n_tokens,
           len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
           len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x IN ('the','and','of','to','a','is'))) AS en_hits,
           length(text) AS n_chars
    FROM documents WHERE doc_id < 50
"""

_SIMHASH_DOCS_SQL = r"""
    WITH t AS (
      SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
      FROM documents WHERE doc_id < 80),
    tok AS (
      SELECT doc_id, u.tokv
      FROM t, UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '')) AS u(tokv)),
    h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT), list_transform(
                 generate_series(1, length(tokv)),
                 i -> CAST(unicode(substring(tokv, i, 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 2147483647) AS th
      FROM tok),
    bits AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN generate_series(0, 30) AS b(b)
      GROUP BY doc_id, b.b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
"""

# Full blocking+hamming SimHash gate: recompute BOTH simhashes of every
# emitted pair from raw text (same polynomial fold as the simhash31 leg),
# XOR, bit-count, re-apply hamming <= 1 (the 31-bit gate variant; the
# 64-bit corpus path uses <= 3).
_SIMHASH_FULL_SQL = r"""
    WITH pair_ids AS (
      SELECT id_a, id_b
      FROM read_parquet('/root/repo/.oracle_data/simhash_pairs_sf0.01/*.parquet')),
    ids AS (SELECT id_a AS id FROM pair_ids
            UNION SELECT id_b FROM pair_ids),
    t AS (
      SELECT d.doc_id, regexp_replace(d.text, '[^ -~]', '', 'g') AS text
      FROM documents d JOIN ids ON ids.id = d.doc_id),
    tok AS (
      SELECT doc_id, u.tokv
      FROM t, UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '')) AS u(tokv)),
    h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT), list_transform(
                 generate_series(1, length(tokv)),
                 i -> CAST(unicode(substring(tokv, i, 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 2147483647) AS th
      FROM tok),
    bits AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN generate_series(0, 30) AS b(b)
      GROUP BY doc_id, b.b),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
    SELECT p.id_a, p.id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM pair_ids p
    JOIN sh a ON a.doc_id = p.id_a
    JOIN sh b ON b.doc_id = p.id_b
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""

_KNOWN_ENT_SQL = """
    WITH cl AS (
      SELECT dayofyear(ts) % 10 AS bucket_id,
             'e' || CAST(user_id % 50 AS VARCHAR) AS entity,
             event_type AS attr,
             CAST(CAST(ROUND(value, -2) AS BIGINT) AS VARCHAR) AS value_str
      FROM events),
    u AS (SELECT entity AS value, bucket_id FROM cl
          UNION ALL
          SELECT value_str AS value, bucket_id FROM cl)
    SELECT value, CAST(MIN(bucket_id) AS INT) AS first_bucket
    FROM u WHERE value IS NOT NULL GROUP BY value
"""

_SEEN_VALUES_SQL = """
    WITH cl AS (
      SELECT dayofyear(ts) % 10 AS bucket_id,
             'e' || CAST(user_id % 50 AS VARCHAR) AS entity,
             event_type AS attr,
             CAST(CAST(ROUND(value, -2) AS BIGINT) AS VARCHAR) AS value_str
      FROM events),
    fs AS (SELECT entity, attr, value_str, MIN(bucket_id) AS first_bucket
           FROM cl GROUP BY entity, attr, value_str)
    SELECT entity, attr,
           array_to_string(list_sort(list(value_str)), '|') AS values_seen
    FROM fs WHERE first_bucket <= 5 GROUP BY entity, attr
"""

_GRAPH_DEGREES_SQL = f"""
    WITH claims AS ({_CLAIMS_SQL}),
    counts AS (
      SELECT entity, attr, v, COUNT(*) AS n FROM claims GROUP BY entity, attr, v
    ),
    fused AS (
      SELECT entity, attr, v FROM (
        SELECT entity, attr, v,
               ROW_NUMBER() OVER (PARTITION BY entity, attr
                                  ORDER BY n DESC, v ASC) AS rn
        FROM counts) WHERE rn = 1),
    edges AS (SELECT entity AS src, CAST(v AS VARCHAR) AS dst FROM fused),
    outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY src),
    ind AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY dst)
    SELECT COALESCE(o.node, i.node) AS node,
           COALESCE(out_deg, 0) AS out_deg,
           COALESCE(in_deg, 0) AS in_deg,
           COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS degree
    FROM outd o FULL JOIN ind i ON o.node = i.node
"""

_GRAPH_EGO_SQL = """
    WITH edges AS (
      SELECT DISTINCT
             'n' || CAST(event_id % 200 AS VARCHAR) AS src,
             'n' || CAST((event_id * 7 + user_id % 5 + 1) % 200 AS VARCHAR)
               AS dst,
             event_type AS pred
      FROM events
    ),
    h1 AS (SELECT e.*, 1 AS hop FROM edges e WHERE e.src = 'n0'),
    f1 AS (SELECT DISTINCT dst AS node FROM h1),
    h2 AS (SELECT e.*, 2 AS hop FROM edges e
           WHERE e.src IN (SELECT node FROM f1)),
    f2 AS (SELECT DISTINCT dst AS node FROM h2),
    h3 AS (SELECT e.*, 3 AS hop FROM edges e
           WHERE e.src IN (SELECT node FROM f2)),
    u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2
          UNION ALL SELECT * FROM h3)
    SELECT src, dst, pred, MIN(hop) AS hop
    FROM u GROUP BY src, dst, pred
"""

_MODE_SQL = """
    SELECT c_nationkey, c_mktsegment AS mode_segment, n AS votes
    FROM (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY COUNT(*) DESC, c_mktsegment ASC) AS rn
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ) WHERE rn = 1
"""

_ARGMAX_SQL = """
    SELECT o_custkey, o_orderkey AS top_order, ROUND(o_totalprice, 2) AS top_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn = 1
"""

# Gopher hard-gate rules (curation.gopher_rules) re-derived from scratch:
# same whitespace tokenization as _DOC_REP_SQL, mean word length as a
# list_sum over token lengths, #/ellipsis symbol count on the RAW text,
# alpha fraction via per-token regex, distinct-stopword count by probing
# the canonical 8-word list against the token list, duplicate-3-gram
# fraction identical to the dup3 leg. Flags compare the UNROUNDED doubles
# exactly as the Spark expressions do.
_GOPHER_SQL = r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x != '') AS t
      FROM documents),
    m AS (
      SELECT doc_id, len(t) AS nw,
             CASE WHEN len(t) > 0 THEN
               list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                 * 1.0 / len(t)
             ELSE 0.0 END AS mean_len,
             CASE WHEN len(t) > 0 THEN
               len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / len(t)
             ELSE 0.0 END AS sym_ratio,
             CASE WHEN len(t) > 0 THEN
               len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                 * 1.0 / len(t)
             ELSE 0.0 END AS alpha_frac,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(t, s))) AS nstop,
             CASE WHEN len(t) >= 3 THEN
               list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))
             ELSE [] END AS g3
      FROM toks),
    f AS (
      SELECT doc_id, nw, mean_len, sym_ratio, alpha_frac, nstop,
             CASE WHEN len(g3) > 0 THEN
               ROUND(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
             ELSE 0.0 END AS dup_frac
      FROM m)
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           ROUND(mean_len, 6) AS mean_word_len,
           CAST(nw BETWEEN 50 AND 100000 AS INT) AS r_word_count,
           CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INT) AS r_mean_len,
           CAST(sym_ratio <= 0.1 AS INT) AS r_symbol,
           CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
           CAST(nstop >= 1 AS INT) AS r_stop,
           CAST(dup_frac <= 0.4 AS INT) AS r_dup,
           CAST(nw BETWEEN 50 AND 100000 AS INT)
             * CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INT)
             * CAST(sym_ratio <= 0.1 AS INT)
             * CAST(alpha_frac >= 0.8 AS INT)
             * CAST(nstop >= 1 AS INT)
             * CAST(dup_frac <= 0.4 AS INT) AS gopher_keep
    FROM f
"""

# C4 line-level cleaning leg of the textstats gate. Rebuilds the gate's
# deterministic line-structured text (5-token lines; lorem/javascript/
# brace/terminal-punct plants are pure functions of doc_id + line index)
# and re-derives every rule in SQL. COALESCE on array_to_string: DuckDB
# returns NULL for an empty list where Spark's array_join returns ''.
_C4_SQL = r"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 generate_series(0, CAST(ceil(len(toks) / 5.0) AS BIGINT) - 1),
                 i ->
                   (CASE WHEN (doc_id + i) % 19 = 0
                         THEN 'lorem ipsum ' ELSE '' END)
                   || array_to_string(toks[i*5+1 : i*5+5], ' ')
                   || (CASE WHEN (doc_id * 7 + i) % 11 = 0
                            THEN ' javascript' ELSE '' END)
                   || (CASE WHEN (doc_id + i) % 17 = 0
                            THEN ' {' ELSE '' END)
                   || (CASE WHEN (doc_id + i) % 3 = 0
                            THEN '' ELSE '.' END)),
               chr(10)) AS text
      FROM tk),
    c AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM st),
    k AS (
      SELECT doc_id, text, len(ls) AS n_lines,
             list_filter(ls, l ->
               regexp_matches(l, '[.!?"]$')
               AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                   x -> x != '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM c)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(len(regexp_extract_all(
                  COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]'))
                AS BIGINT) AS n_sentences,
           CAST(contains(lower(text), 'lorem ipsum') AS INT) AS c4_has_lorem,
           CAST(contains(text, '{') AS INT) AS c4_has_brace,
           CAST(NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND len(regexp_extract_all(
                      COALESCE(array_to_string(kept, chr(10)), ''),
                      '[.!?]')) >= 3
                AS INT) AS c4_keep,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
    FROM k
"""

# Hashed-linear quality-score leg of the textstats gate. Rebuilds the
# deterministic 64-bucket weight table, buckets each token with the portable
# poly31 char fold (seed 0, replayed via list_reduce with a prepended init),
# and folds the weights IN TOKEN ORDER so the double sum is bit-identical to
# Spark's F.aggregate before the display rounding. The keep flag derives
# from the UNROUNDED logit; NULL logit (empty doc) -> keep 0.
_QSCORE_SQL = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t != '') AS toks
      FROM documents),
    sc AS (
      SELECT doc_id, len(toks) AS n,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(toks, t ->
                   CAST((((CAST(list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                              list_transform(generate_series(1, length(t)),
                                i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
                            (a, c) -> (a * 31 + c) % 2147483647)
                          AS BIGINT) % 64 + 1) * 2654435761) % 1000 - 500)
                        AS DOUBLE) / 1000.0)),
               (a, b) -> a + b) AS tot
      FROM tk),
    lg AS (
      SELECT doc_id,
             CASE WHEN n > 0 THEN 0.05 + tot / n END AS logit
      FROM sc)
    SELECT doc_id, round(logit, 6) AS q_logit,
           CAST(COALESCE(logit >= 0, FALSE) AS INT) AS q_keep
    FROM lg
"""

# CCNet line-dedup leg of the textstats gate. Rebuilds the gate's
# boilerplate-planted line twin (5-token lines + deterministic header/footer
# plants keyed on doc_id parity) and replays keep-first dedup in SQL: the
# winner of each normalized line key is the minimum (doc_id, idx) encoded as
# doc_id*1000000+idx (idx < 1e6 at any plausible gate scale). Empty
# normalized keys (pure digits/punctuation) are exempt, mirroring the
# operator. regexp_replace carries the 'g' flag — DuckDB replaces only the
# first match by default where Spark replaces all.
_LINE_DEDUP_SQL = r"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (
      SELECT doc_id,
             list_concat(
               list_concat(
                 CASE WHEN doc_id % 3 = 0
                      THEN ['subscribe to our newsletter today']
                      ELSE []::VARCHAR[] END,
                 list_transform(
                   generate_series(0, CAST(ceil(len(toks) / 5.0) AS BIGINT) - 1),
                   i -> array_to_string(toks[i*5+1 : i*5+5], ' '))),
               CASE WHEN doc_id % 2 = 0
                    THEN ['all rights reserved']
                    ELSE []::VARCHAR[] END) AS ls
      FROM tk),
    l0 AS (
      SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS idx FROM st),
    l AS (
      SELECT doc_id, idx, ls[idx] AS line,
             trim(regexp_replace(regexp_replace(lower(ls[idx]),
                                                '[^a-z ]', '', 'g'),
                                 ' +', ' ', 'g')) AS k
      FROM l0),
    w AS (
      SELECT k, min(doc_id * 1000000 + idx) AS pos
      FROM l WHERE k != '' GROUP BY k),
    kept AS (
      SELECT l.doc_id, l.idx, l.line
      FROM l LEFT JOIN w ON l.k = w.k
      WHERE l.k = '' OR l.doc_id * 1000000 + l.idx = w.pos),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT st.doc_id,
           CAST(len(st.ls) AS BIGINT) AS ld_n_lines,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS ld_n_kept_lines,
           COALESCE(agg.clean_text, '') AS ld_clean_text
    FROM st LEFT JOIN agg USING (doc_id)
"""

_DOC_REP_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x != '') AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))
             ELSE [] END AS g3,
             CASE WHEN len(t) >= 5 THEN
               list_transform(generate_series(1, len(t) - 4),
                              i -> array_to_string(t[i:i+4], ' '))
             ELSE [] END AS g5
      FROM toks)
    SELECT doc_id,
           CASE WHEN len(g3) > 0 THEN
             ROUND(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
           ELSE 0.0 END AS dup3,
           CASE WHEN len(g5) > 0 THEN
             ROUND(1.0 - len(list_distinct(g5)) * 1.0 / len(g5), 6)
           ELSE 0.0 END AS dup5
    FROM g
"""

# lang_id: per-language stopword-marker hit counts; argmax with ties to the
# lexicographically largest code (fr > es > en > de), zero hits -> 'und'.
# BPE-ish token count via the same regex.
_LANG_ID_SQL = r"""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x != '') AS tl
      FROM documents),
    hits AS (
      SELECT doc_id, lang, text,
             len(list_filter(tl, x -> list_contains(
               ['the','and','of','to','a','is'], x))) AS h_en,
             len(list_filter(tl, x -> list_contains(
               ['der','die','und','das','ist','ein'], x))) AS h_de,
             len(list_filter(tl, x -> list_contains(
               ['le','la','et','les','des','est'], x))) AS h_fr,
             len(list_filter(tl, x -> list_contains(
               ['el','la','los','que','es','una'], x))) AS h_es
      FROM t)
    SELECT doc_id, lang,
           CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_fr = GREATEST(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es) THEN 'es'
                WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es) THEN 'en'
                ELSE 'de' END AS lang_pred,
           len(regexp_extract_all(text,
               '[A-Za-z]+|\d+|[^\sA-Za-z\d]')) AS n_tokens_bpe
    FROM hits
"""

# Domain-mixture plan: token totals per source vs integral target shares of
# a 50k budget (SUM cast per the HUGEINT rule).
_MIX_PLAN_SQL = r"""
    WITH t AS (
      SELECT source,
             SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != ''))) AS domain_tokens
      FROM documents GROUP BY source),
    s AS (
      SELECT source, CAST(domain_tokens AS BIGINT) AS domain_tokens,
             CAST(ROUND(CASE source WHEN 'src0' THEN 0.3
                                    WHEN 'src1' THEN 0.2
                                    WHEN 'src2' THEN 0.1
                                    ELSE 0.0 END * 50000) AS BIGINT)
               AS target_tokens
      FROM t)
    SELECT source, domain_tokens, target_tokens,
           ROUND(target_tokens * 1.0 / domain_tokens, 6) AS rate,
           CAST(CEIL(target_tokens * 1.0 / domain_tokens) AS BIGINT)
             AS epochs
    FROM s
"""

# Mixture materialization: per-doc draw (same polyhash + 2 mix rounds,
# salt 9) decides the fractional extra epoch; copies unrolled via
# generate_series.
_MIX_APPLY_SQL = r"""
    WITH h AS (
      SELECT doc_id, source,
             list_reduce(
               list_prepend(CAST(16 AS BIGINT), list_transform(
                 generate_series(1, length(CAST(doc_id AS VARCHAR))),
                 i -> CAST(unicode(substring(CAST(doc_id AS VARCHAR),
                                             i, 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 2147483647) AS h0
      FROM documents WHERE source IN ('src0', 'src1', 'src2')),
    m AS (
      SELECT doc_id, source,
             ROUND(((((h0 + 1) * 2654435761) % 2147483647 + 1)
                    * 2654435761) % 2147483647 / 2147483647.0, 6) AS u,
             CASE source WHEN 'src0' THEN 2.4 WHEN 'src1' THEN 1.0
                         ELSE 0.5 END AS rate
      FROM h),
    n AS (
      SELECT doc_id, source,
             CAST(FLOOR(rate) + CASE WHEN u < rate - FLOOR(rate)
                                     THEN 1 ELSE 0 END AS INT) AS nc
      FROM m)
    SELECT doc_id, source, u.epoch
    FROM n, UNNEST(generate_series(1, nc)) AS u(epoch)
"""


_MEDIAN_EXACT_SQL = """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
            FROM lineitem GROUP BY l_returnflag
        """

_STDDEV_DENOM_SQL = """
            SELECT l_partkey,
                   ROUND(GREATEST(COALESCE(stddev_pop(l_extendedprice), 0), 0.1), 6) AS denom,
                   COUNT(*) AS n_claims
            FROM lineitem GROUP BY l_partkey
        """

_CRH_STEP_SQL = f"""
            WITH claims AS ({_CLAIMS_SQL}),
            stats AS (
              SELECT entity, attr, quantile_cont(v, 0.5) AS med,
                     GREATEST(COALESCE(stddev_pop(v), 0), 0.1) AS sd
              FROM claims GROUP BY entity, attr
            ),
            raw AS (
              SELECT source, SUM((v - med) * (v - med) / sd) AS raw
              FROM claims JOIN stats USING (entity, attr)
              GROUP BY source
            )
            SELECT source,
                   ROUND(CASE WHEN raw > 0 THEN -LN(raw / (SELECT SUM(raw) FROM raw)) ELSE 0.0 END, 6) AS w
            FROM raw
        """

_CRH_ENGINE_SQL = f"""
            WITH claims AS ({_CLAIMS_SQL}),
            stats AS (SELECT entity, attr, quantile_cont(v, 0.5) AS med,
                             GREATEST(COALESCE(stddev_pop(v), 0), 0.1) AS sd
                      FROM claims GROUP BY entity, attr),
            raw1 AS (SELECT source, SUM((v - med) * (v - med) / sd) AS raw
                     FROM claims JOIN stats USING (entity, attr) GROUP BY source),
            w1 AS (SELECT source,
                          CASE WHEN raw > 0 THEN -LN(raw / (SELECT SUM(raw) FROM raw1)) ELSE 0.0 END AS w
                   FROM raw1),
            cands AS (SELECT DISTINCT entity, attr, v AS cand FROM claims),
            scored AS (
              SELECT c.entity, c.attr, c.cand,
                     SUM(w1.w * (c.cand - cl.v) * (c.cand - cl.v) / st.sd) AS loss
              FROM cands c
              JOIN claims cl ON cl.entity = c.entity AND cl.attr = c.attr
              JOIN stats st ON st.entity = c.entity AND st.attr = c.attr
              JOIN w1 ON w1.source = cl.source
              GROUP BY c.entity, c.attr, c.cand),
            truth1 AS (SELECT entity, attr, cand AS t FROM (
              SELECT entity, attr, cand,
                     ROW_NUMBER() OVER (PARTITION BY entity, attr
                                        ORDER BY loss ASC, cand ASC) AS rn
              FROM scored) WHERE rn = 1),
            raw2 AS (SELECT source, SUM((v - t) * (v - t) / sd) AS raw
                     FROM claims JOIN stats USING (entity, attr)
                                 JOIN truth1 USING (entity, attr)
                     GROUP BY source)
            SELECT source,
                   ROUND(CASE WHEN raw > 0 THEN -LN(raw / (SELECT SUM(raw) FROM raw2)) ELSE 0.0 END, 6) AS w
            FROM raw2
        """

_DOCS_TRIPLES_SQL = """
            WITH base AS (
              SELECT e.e, s.s, a.a
              FROM generate_series(0, 99) AS e(e)
              CROSS JOIN generate_series(0, 9) AS s(s)
              CROSS JOIN generate_series(0, 5) AS a(a)),
            m1 AS (
              SELECT *, ((1469598103 + e + 1) * 2654435761) % 2147483647 AS h_e
              FROM base),
            m2 AS (
              SELECT *,
                     ((h_e + s + 1) * 2654435761) % 2147483647 AS h_es,
                     ((h_e + a + 1) * 2654435761) % 2147483647 AS h_ea
              FROM m1),
            m3 AS (
              SELECT *, ((h_es + a + 1) * 2654435761) % 2147483647 AS h_esa
              FROM m2),
            flags AS (
              SELECT *,
                     (((h_esa + 6) * 2654435761) % 2147483647) % 100 >= 30 AS present,
                     (((h_esa + 8) * 2654435761) % 2147483647) % 100
                       < (95 - (s % 9) * 5) AS is_true,
                     (((h_esa + 12) * 2654435761) % 2147483647) % 3 AS wrong_j,
                     (((h_ea + 18) * 2654435761) % 2147483647) % 1000 AS tv
              FROM m3),
            claims AS (
              SELECT a % 4 AS bucket_id,
                     'Q' || CAST(1000 + e AS VARCHAR) AS entity,
                     ['P_ent0','P_ent1','P_ent2','P_qty','P_str','P_time'][a + 1] AS attr,
                     a,
                     CASE WHEN is_true THEN tv
                          ELSE (tv + 129 + wrong_j * 173) % 1000 END AS vidx
              FROM flags WHERE present),
            typed AS (
              SELECT bucket_id, entity, attr, a,
                     CASE WHEN a < 3 THEN 'Q' || CAST(50000 + vidx AS VARCHAR)
                          WHEN a = 4 THEN 'name_' || CAST(vidx AS VARCHAR)
                          END AS value_str,
                     CASE WHEN a = 3 THEN CAST(vidx % 900 + 100 AS DOUBLE)
                          WHEN a = 5 THEN CAST((vidx % 24) * 60 + vidx % 60 AS DOUBLE)
                          END AS value_num
              FROM claims),
            catcount AS (
              SELECT bucket_id, entity, attr, value_str, COUNT(*) AS n
              FROM typed WHERE a < 3 OR a = 4
              GROUP BY bucket_id, entity, attr, value_str),
            cat_truth AS (
              SELECT bucket_id, entity, attr, value_str FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket_id, entity, attr
                                             ORDER BY n DESC, value_str ASC) AS rn
                FROM catcount) WHERE rn = 1),
            numc AS (SELECT bucket_id, entity, attr, value_num
                     FROM typed WHERE a = 3 OR a = 5),
            med AS (SELECT bucket_id, entity, attr,
                           quantile_cont(value_num, 0.5) AS med
                    FROM numc GROUP BY bucket_id, entity, attr),
            numcand AS (SELECT DISTINCT bucket_id, entity, attr, value_num FROM numc),
            num_truth AS (
              SELECT bucket_id, entity, attr, value_num FROM (
                SELECT c.*, ROW_NUMBER() OVER (
                         PARTITION BY c.bucket_id, c.entity, c.attr
                         ORDER BY ABS(c.value_num - m.med) ASC, c.value_num ASC) AS rn
                FROM numcand c
                JOIN med m ON m.bucket_id = c.bucket_id
                          AND m.entity = c.entity AND m.attr = c.attr)
              WHERE rn = 1)
            SELECT entity AS subj, attr AS pred, value_str AS obj, bucket_id
            FROM cat_truth
            UNION ALL
            SELECT entity AS subj, attr AS pred,
                   format('{:,}', CAST(value_num AS BIGINT)) || '.000000' AS obj,
                   bucket_id
            FROM num_truth
        """

_ANN_BRUTE_SQL = """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
                 sims AS (
                   SELECT qid, cid,
                          list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
                   FROM q CROSS JOIN c
                 )
            SELECT qid, cid, ROUND(sim, 4) AS sim_r, rn
            FROM (
              SELECT qid, cid, sim,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
              FROM sims
            ) WHERE rn <= 5
        """


def oracle_sql() -> dict[str, str]:
    # CHECKED RULE — integer aggregates must be cast: DuckDB types SUM over
    # any integer expression as HUGEINT (int128), which surfaces as float64
    # (.df()) or decimal128 (.arrow()) depending on the driver's fetch path
    # and then canonicalizes differently from Spark's BIGINT ("39440.0" vs
    # "39440" breaks the value hash even when rows/schema match). Every
    # SUM/derived integer that reaches the output must be wrapped in
    # CAST(... AS BIGINT). COUNT(*) is already BIGINT; SUMs over DOUBLE are
    # fine. Audited r5: the only integer SUMs reaching a hash are
    # multimodal_decode's sum_r/g/b (cast) and session/presence (cast).
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_unshipped": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-15'
              AND l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1999-09-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        # Consolidated r5 gate: A1 mode + W1 argmax tag-unioned (bodies in
        # _MODE_SQL / _ARGMAX_SQL; frees a driver row for asof_suite).
        "group_modes": f"""
            SELECT 'mode' AS gate, CAST(c_nationkey AS VARCHAR) AS key,
                   mode_segment AS val, CAST(votes AS DOUBLE) AS m1
            FROM ({_MODE_SQL})
            UNION ALL
            SELECT 'argmax', CAST(o_custkey AS VARCHAR),
                   CAST(top_order AS VARCHAR), top_price
            FROM ({_ARGMAX_SQL})
        """,
        # Consolidated r5 gate: both session gates tag-unioned (see
        # session_close docstring; bodies in _SESSION_*_SQL).
        "session_close": f"""
            SELECT 'batch_window' AS gate, CAST(user_id AS VARCHAR) AS entity,
                   CAST(n_sessions AS BIGINT) AS n_buckets,
                   n_events AS n_claims
            FROM ({_SESSION_BUCKETIZE_SQL})
            UNION ALL
            SELECT 'presplit' AS gate, entity,
                   CAST(n_buckets AS BIGINT) AS n_buckets, n_claims
            FROM ({_SESSION_PRESPLIT_SQL})
        """,
        "eval_set_ops": """
            WITH it AS (SELECT p_brand, p_partkey FROM part WHERE p_retailprice > 1400),
                 gt AS (SELECT p_brand, p_partkey FROM part WHERE p_size > 25),
                 tp AS (SELECT it.p_brand, COUNT(*) AS tp FROM it
                        WHERE EXISTS (SELECT 1 FROM gt WHERE gt.p_brand = it.p_brand AND gt.p_partkey = it.p_partkey)
                        GROUP BY it.p_brand),
                 fp AS (SELECT it.p_brand, COUNT(*) AS fp FROM it
                        WHERE NOT EXISTS (SELECT 1 FROM gt WHERE gt.p_brand = it.p_brand AND gt.p_partkey = it.p_partkey)
                        GROUP BY it.p_brand),
                 fn AS (SELECT gt.p_brand, COUNT(*) AS fn FROM gt
                        WHERE NOT EXISTS (SELECT 1 FROM it WHERE it.p_brand = gt.p_brand AND it.p_partkey = gt.p_partkey)
                        GROUP BY gt.p_brand)
            SELECT COALESCE(tp.p_brand, fp.p_brand, fn.p_brand) AS p_brand,
                   COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp, COALESCE(fn, 0) AS fn
            FROM tp FULL JOIN fp ON tp.p_brand = fp.p_brand
                    FULL JOIN fn ON COALESCE(tp.p_brand, fp.p_brand) = fn.p_brand
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
            FROM documents GROUP BY text
        """,
        # Consolidated r5 gate: per-lang quality aggregates + per-doc
        # features tag-unioned; integer metrics ride as DOUBLE (integral
        # doubles canonicalize identically on both engines).
        "text_profile": f"""
            SELECT 'quality_by_lang' AS gate, lang AS key, avg_tokens AS m1,
                   avg_chars AS m2, CAST(n_docs AS DOUBLE) AS m3,
                   CAST(NULL AS DOUBLE) AS m4
            FROM ({_TEXT_QUALITY_SQL})
            UNION ALL
            SELECT 'features_by_doc' AS gate, CAST(doc_id AS VARCHAR) AS key,
                   CAST(n_tokens AS DOUBLE) AS m1, CAST(n_punct AS DOUBLE) AS m2,
                   CAST(en_hits AS DOUBLE) AS m3, CAST(n_chars AS DOUBLE) AS m4
            FROM ({_TEXT_FEATURES_SQL})
        """,
        "majority_fusion_sql": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            counts AS (
              SELECT entity, attr, v, COUNT(*) AS n FROM claims GROUP BY entity, attr, v
            )
            SELECT entity, attr, v AS fused_value, n AS votes
            FROM (
              SELECT entity, attr, v, n,
                     ROW_NUMBER() OVER (PARTITION BY entity, attr
                                        ORDER BY n DESC, v ASC) AS rn
              FROM counts
            ) WHERE rn = 1
        """,
        # Two legs: 'lsh' recomputes cosine from the embeddings view (+ the
        # same deterministic clone derivation) for the emitted pair ids;
        # 'sem' re-derives the SemDeDup leg fully from scratch — axis-sign
        # cells (pure comparisons, engine-portable), within-cell cosine,
        # threshold, and the argmax-cosine smaller-id keeper pick.
        "embedding_neardup": """
            WITH pair_ids AS (
              SELECT id_a, id_b
              FROM read_parquet('/root/repo/.oracle_data/embedding_pairs_sf0.01/*.parquet')),
            base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            clones AS (SELECT vec_id + 10000 AS vec_id,
                              list_concat([v[1] + 0.05], v[2:]) AS v
                       FROM base WHERE vec_id < 50),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
            cos AS (
              SELECT p.id_a, p.id_b,
                     list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
              FROM pair_ids p
              JOIN allv a ON a.vec_id = p.id_a
              JOIN allv b ON b.vec_id = p.id_b),
            cells AS (
              SELECT vec_id, v,
                     (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS cell
              FROM allv),
            sem_scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
              FROM cells a JOIN cells b
                ON a.cell = b.cell AND b.vec_id < a.vec_id),
            sem_best AS (
              SELECT id_a, id_b, c,
                     ROW_NUMBER() OVER (PARTITION BY id_a
                                        ORDER BY c DESC, id_b ASC) AS rn
              FROM sem_scored WHERE c >= 0.95)
            SELECT 'lsh' AS gate, id_a, id_b, ROUND(c, 4) AS cos_r
            FROM cos WHERE c >= 0.9
            UNION ALL
            SELECT 'sem' AS gate, id_a, id_b, ROUND(c, 4) AS cos_r
            FROM sem_best WHERE rn = 1
        """,
        "majority_engine": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            stats AS (SELECT entity, attr, quantile_cont(v, 0.5) AS med
                      FROM claims GROUP BY entity, attr),
            cands AS (SELECT DISTINCT entity, attr, v FROM claims)
            SELECT entity, attr, ROUND(v, 6) AS fused_value
            FROM (
              SELECT c.entity, c.attr, c.v,
                     ROW_NUMBER() OVER (PARTITION BY c.entity, c.attr
                                        ORDER BY ABS(c.v - s.med) ASC, c.v ASC) AS rn
              FROM cands c JOIN stats s ON c.entity = s.entity AND c.attr = s.attr
            ) WHERE rn = 1
        """,
        "truthfinder_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            sigma AS (SELECT entity, attr, v, LN(10) * COUNT(*) AS sig
                      FROM claims GROUP BY entity, attr, v),
            tmp AS (
              SELECT a.entity, a.attr, a.v,
                     0.5 * a.sig + 0.5 * SUM(b.sig * EXP(-ABS(b.v - a.v))) AS tmpv
              FROM sigma a JOIN sigma b ON a.entity = b.entity AND a.attr = b.attr
              GROUP BY a.entity, a.attr, a.v, a.sig),
            s AS (SELECT entity, attr, v, 1.0 / (1.0 + EXP(-0.3 * tmpv)) AS sv FROM tmp),
            t AS (SELECT cl.source, AVG(s.sv) AS tv
                  FROM claims cl JOIN s ON s.entity = cl.entity AND s.attr = cl.attr AND s.v = cl.v
                  GROUP BY cl.source)
            SELECT source,
                   ROUND(CASE WHEN tv >= 1.0 THEN LN(1e10) ELSE -LN(1.0 - tv) END, 6) AS tau
            FROM t
        """,
        "accu_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            ded AS (
              SELECT entity, attr, source, vkey FROM (
                SELECT entity, attr, source, CAST(v AS VARCHAR) AS vkey,
                       ROW_NUMBER() OVER (PARTITION BY entity, attr, source
                                          ORDER BY CAST(v AS VARCHAR) ASC) AS rn
                FROM claims) WHERE rn = 1),
            nv AS (SELECT entity, attr, COUNT(DISTINCT vkey) AS n_vals
                   FROM ded GROUP BY entity, attr),
            dn AS (SELECT d.entity, d.attr, d.source, d.vkey, nv.n_vals
                   FROM ded d JOIN nv USING (entity, attr)),
            s1 AS (SELECT entity, attr, vkey, n_vals,
                          CASE WHEN n_vals = 1 THEN 1.0
                               -- GREATEST: DuckDB evaluates aggregate args on
                               -- every row even in the untaken CASE branch, so
                               -- n_vals=1 rows must not feed LN(0) (guard is
                               -- dead for the branch that's actually used)
                               ELSE SUM(LN(GREATEST(n_vals - 1, 1) * 0.8 / 0.2)) END AS score
                   FROM dn GROUP BY entity, attr, vkey, n_vals),
            t1 AS (SELECT entity, attr, vkey FROM (
                     SELECT entity, attr, vkey,
                            ROW_NUMBER() OVER (PARTITION BY entity, attr
                                               ORDER BY score DESC, vkey ASC) AS rn
                     FROM s1) WHERE rn = 1),
            a1 AS (SELECT d.source,
                          AVG(CASE WHEN d.vkey = t1.vkey THEN 1.0 ELSE 0.0 END) AS a
                   FROM ded d JOIN t1 USING (entity, attr) GROUP BY d.source),
            a1c AS (SELECT source,
                           CASE WHEN a = 1.0 THEN 0.99 WHEN a = 0.0 THEN 0.01
                                ELSE a END AS acc
                    FROM a1),
            s2 AS (SELECT d.entity, d.attr, d.vkey, d.n_vals,
                          CASE WHEN d.n_vals = 1 THEN 1.0
                               ELSE SUM(LN(GREATEST(d.n_vals - 1, 1) * ac.acc / (1 - ac.acc))) END AS score
                   FROM dn d JOIN a1c ac USING (source)
                   GROUP BY d.entity, d.attr, d.vkey, d.n_vals),
            t2 AS (SELECT entity, attr, vkey FROM (
                     SELECT entity, attr, vkey,
                            ROW_NUMBER() OVER (PARTITION BY entity, attr
                                               ORDER BY score DESC, vkey ASC) AS rn
                     FROM s2) WHERE rn = 1),
            a2 AS (SELECT d.source,
                          AVG(CASE WHEN d.vkey = t2.vkey THEN 1.0 ELSE 0.0 END) AS a
                   FROM ded d JOIN t2 USING (entity, attr) GROUP BY d.source)
            SELECT source,
                   ROUND(CASE WHEN a = 1.0 THEN 0.99 WHEN a = 0.0 THEN 0.01
                              ELSE a END, 6) AS w
            FROM a2
        """,
        # CATD closed-form: chi2.cdf(0.025, k) = P(k/2, 0.0125) by the same
        # regularized-lower-incomplete-gamma series the engine's pandas UDF
        # uses (4 terms reach ~1e-14 relative at x=0.0125); then two full
        # weight/truth passes. ln(weight) is gated — the cdf spans ~1e-115.
        "catd_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SMALL_SQL}),
            counts AS (SELECT source, COUNT(*) AS cnt FROM
                         (SELECT DISTINCT source, entity, attr FROM claims)
                       GROUP BY source),
            chi AS (SELECT source, cnt,
                           exp((cnt/2.0)*ln(0.0125) - 0.0125 - lgamma(cnt/2.0 + 1.0))
                           * (1 + 0.0125/(cnt/2.0 + 1)
                                + 0.0125*0.0125/((cnt/2.0 + 1)*(cnt/2.0 + 2))
                                + 0.0125*0.0125*0.0125/((cnt/2.0 + 1)*(cnt/2.0 + 2)*(cnt/2.0 + 3))
                                + 0.0125*0.0125*0.0125*0.0125/((cnt/2.0 + 1)*(cnt/2.0 + 2)*(cnt/2.0 + 3)*(cnt/2.0 + 4))) AS chi2v
                    FROM counts),
            t0 AS (SELECT entity, attr, quantile_cont(v, 0.5) AS t
                   FROM claims GROUP BY entity, attr),
            raw1 AS (SELECT source, SUM((v - t)*(v - t)) AS raw
                     FROM claims JOIN t0 USING (entity, attr) GROUP BY source),
            w1 AS (SELECT source, CASE WHEN raw > 1e-9 THEN chi2v / raw ELSE 1e10 END AS w
                   FROM raw1 JOIN chi USING (source)),
            t1 AS (SELECT entity, attr, SUM(w * v) / SUM(w) AS t
                   FROM claims JOIN w1 USING (source) GROUP BY entity, attr),
            raw2 AS (SELECT source, SUM((v - t)*(v - t)) AS raw
                     FROM claims JOIN t1 USING (entity, attr) GROUP BY source)
            SELECT source,
                   ROUND(CASE WHEN raw > 1e-9 THEN ln(chi2v / raw) ELSE ln(1e10) END, 6) AS lw
            FROM raw2 JOIN chi USING (source)
        """,
        # GTM quirk-faithful chain: median prior, one-pass delta0 strip,
        # cn = v - prior, init M-step at truth0 = prior (the reference's
        # mixed-scale init), then E->M->E->M; weights = sigma^2, ln-gated.
        "gtm_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            prior AS (SELECT entity, attr, quantile_cont(v, 0.5) AS prior
                      FROM claims GROUP BY entity, attr),
            cn AS (SELECT c.entity, c.attr, c.source, c.v - p.prior AS cn, p.prior
                   FROM claims c JOIN prior p USING (entity, attr)
                   WHERE p.prior = 0 OR abs(c.v - p.prior) / abs(p.prior) <= 1.0),
            counts AS (SELECT source, COUNT(*) AS cnt FROM
                         (SELECT DISTINCT source, entity, attr FROM cn)
                       GROUP BY source),
            s0 AS (SELECT source, SUM(20.0 + (cn - prior)*(cn - prior)) AS ssum
                   FROM cn GROUP BY source),
            sig0 AS (SELECT source, ssum / (22.0 + cnt) AS s2
                     FROM s0 JOIN counts USING (source)),
            t1 AS (SELECT entity, attr, SUM(cn / s2) / (1.0 + SUM(1.0 / s2)) AS t
                   FROM cn JOIN sig0 USING (source) GROUP BY entity, attr),
            s1 AS (SELECT source, SUM(20.0 + (cn - t)*(cn - t)) AS ssum
                   FROM cn JOIN t1 USING (entity, attr) GROUP BY source),
            sig1 AS (SELECT source, ssum / (22.0 + cnt) AS s2
                     FROM s1 JOIN counts USING (source)),
            t2 AS (SELECT entity, attr, SUM(cn / s2) / (1.0 + SUM(1.0 / s2)) AS t
                   FROM cn JOIN sig1 USING (source) GROUP BY entity, attr),
            s2c AS (SELECT source, SUM(20.0 + (cn - t)*(cn - t)) AS ssum
                    FROM cn JOIN t2 USING (entity, attr) GROUP BY source),
            sig2 AS (SELECT source, ssum / (22.0 + cnt) AS s2
                     FROM s2c JOIN counts USING (source))
            SELECT source, ROUND(ln(s2), 6) AS lw FROM sig2
        """,
        # KDEm one iteration: per-fact Gaussian kernel matrix via a
        # within-fact self-join, norm_j = K_jj - 2(Kw)_j + w'Kw at uniform
        # w = 1/n, zero clip, rtn/flen, objective j, c = -ln((rtn/cnt)/j).
        "kdem_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            ci AS (SELECT entity, attr, source, v,
                          COUNT(*) OVER (PARTITION BY entity, attr) AS n,
                          ROW_NUMBER() OVER (PARTITION BY entity, attr
                                             ORDER BY source, v) AS idx
                   FROM claims),
            kp AS (SELECT a.entity, a.attr, a.idx AS i, a.source AS source, a.n AS n,
                          exp(-((a.v - b.v)/25.0)*((a.v - b.v)/25.0)) / sqrt(2*pi()) AS kv
                   FROM ci a JOIN ci b ON a.entity = b.entity AND a.attr = b.attr),
            kw AS (SELECT entity, attr, i, ANY_VALUE(source) AS source,
                          ANY_VALUE(n) AS n, SUM(kv) AS ks
                   FROM kp GROUP BY entity, attr, i),
            fw AS (SELECT entity, attr, SUM(ks) AS tot, ANY_VALUE(n) AS n
                   FROM kw GROUP BY entity, attr),
            norms AS (SELECT k.entity, k.attr, k.source, k.n,
                             GREATEST(1.0/sqrt(2*pi()) - 2.0*k.ks/k.n + f.tot/(f.n*f.n), 0.0) AS norm
                      FROM kw k JOIN fw f ON k.entity = f.entity AND k.attr = f.attr),
            rtn AS (SELECT source, SUM(norm / n) AS rtn FROM norms GROUP BY source),
            counts AS (SELECT source, COUNT(*) AS cnt FROM
                         (SELECT DISTINCT source, entity, attr FROM claims)
                       GROUP BY source)
            SELECT r.source,
                   ROUND(CASE WHEN r.rtn > 0
                              THEN -ln((r.rtn / c.cnt) / (SELECT SUM(rtn) FROM rtn))
                              ELSE 0.0 END, 6) AS c
            FROM rtn r JOIN counts c ON r.source = c.source
        """,
        # SLiMFast shared-scalar degeneracy: per-iteration ACCU-style vote
        # with the shared accuracy, then the EXACT sequential SGD fold as a
        # list_reduce over claims sorted (entity, attr, vkey, source) — the
        # same order the engine pins — with the identical per-claim sigmoid
        # updates and L1 shrink; two iterations, gate sigmoid(w_final).
        "slimfast_engine_weights": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            prep AS (SELECT entity, attr, source, MIN(CAST(v AS VARCHAR)) AS vkey
                     FROM claims GROUP BY entity, attr, source),
            nv AS (SELECT entity, attr, COUNT(DISTINCT vkey) AS n_vals
                   FROM prep GROUP BY entity, attr),
            pn AS (SELECT p.entity, p.attr, p.source, p.vkey, n.n_vals
                   FROM prep p JOIN nv n USING (entity, attr)),
            w0 AS (SELECT -ln(1.0/0.8 - 1.0) AS w),
            a0 AS (SELECT CASE WHEN a >= 1.0 THEN 0.99 WHEN a <= 0.0 THEN 0.01
                               ELSE a END AS a
                   FROM (SELECT 1.0/(1.0 + exp(-(SELECT w FROM w0))) AS a)),
            s1 AS (SELECT entity, attr, vkey, n_vals,
                          CASE WHEN n_vals = 1 THEN 1.0
                               ELSE SUM(ln(GREATEST(n_vals - 1, 1) * (SELECT a FROM a0)
                                           / (1.0 - (SELECT a FROM a0)))) END AS score
                   FROM pn GROUP BY entity, attr, vkey, n_vals),
            t1 AS (SELECT entity, attr, vkey FROM (
                     SELECT entity, attr, vkey,
                            ROW_NUMBER() OVER (PARTITION BY entity, attr
                                               ORDER BY score DESC, vkey ASC) AS rn
                     FROM s1) WHERE rn = 1),
            c1 AS (SELECT p.entity, p.attr, p.vkey, p.source,
                          CASE WHEN p.vkey = t.vkey THEN 1.0 ELSE 0.0 END AS corr
                   FROM prep p JOIN t1 t USING (entity, attr)),
            f1 AS (SELECT list(corr ORDER BY entity, attr, vkey, source) AS l FROM c1),
            w1 AS (SELECT list_reduce(list_prepend((SELECT w FROM w0), l),
                          (w, c) -> CASE WHEN c = 1.0
                                         THEN w + 0.01 * (1.0/(exp(-w) + 1.0))
                                         ELSE w - 0.01 * (1.0/(1.0 + exp(-w))) END) AS w
                   FROM f1),
            w1s AS (SELECT CASE WHEN w > 0 THEN GREATEST(0.0, w - 0.01*0.01)
                                WHEN w < 0 THEN LEAST(0.0, w + 0.01*0.01)
                                ELSE w END AS w FROM w1),
            a1 AS (SELECT CASE WHEN a >= 1.0 THEN 0.99 WHEN a <= 0.0 THEN 0.01
                               ELSE a END AS a
                   FROM (SELECT 1.0/(1.0 + exp(-(SELECT w FROM w1s))) AS a)),
            s2 AS (SELECT entity, attr, vkey, n_vals,
                          CASE WHEN n_vals = 1 THEN 1.0
                               ELSE SUM(ln(GREATEST(n_vals - 1, 1) * (SELECT a FROM a1)
                                           / (1.0 - (SELECT a FROM a1)))) END AS score
                   FROM pn GROUP BY entity, attr, vkey, n_vals),
            t2 AS (SELECT entity, attr, vkey FROM (
                     SELECT entity, attr, vkey,
                            ROW_NUMBER() OVER (PARTITION BY entity, attr
                                               ORDER BY score DESC, vkey ASC) AS rn
                     FROM s2) WHERE rn = 1),
            c2 AS (SELECT p.entity, p.attr, p.vkey, p.source,
                          CASE WHEN p.vkey = t.vkey THEN 1.0 ELSE 0.0 END AS corr
                   FROM prep p JOIN t2 t USING (entity, attr)),
            f2 AS (SELECT list(corr ORDER BY entity, attr, vkey, source) AS l FROM c2),
            w2 AS (SELECT list_reduce(list_prepend((SELECT w FROM w1s), l),
                          (w, c) -> CASE WHEN c = 1.0
                                         THEN w + 0.01 * (1.0/(exp(-w) + 1.0))
                                         ELSE w - 0.01 * (1.0/(1.0 + exp(-w))) END) AS w
                   FROM f2),
            w2s AS (SELECT CASE WHEN w > 0 THEN GREATEST(0.0, w - 0.01*0.01)
                                WHEN w < 0 THEN LEAST(0.0, w + 0.01*0.01)
                                ELSE w END AS w FROM w2),
            a2 AS (SELECT CASE WHEN a >= 1.0 THEN 0.99 WHEN a <= 0.0 THEN 0.01
                               ELSE a END AS a
                   FROM (SELECT 1.0/(1.0 + exp(-(SELECT w FROM w2s))) AS a))
            SELECT source, ROUND((SELECT a FROM a2), 6) AS w
            FROM (SELECT DISTINCT source FROM prep)
        """,
        # Derandomized LTM (posterior-mean mean-field, 2 synchronous
        # iterations) replayed closed-form: the implicit-zero binary-claim
        # expansion, soft confusion counts per (attr, source), the
        # minus-own-contribution ratio chain as ln sums, and the sigmoid
        # posterior. ALPHA a11=a10=50 (so the t=1 numerator prior is 50 for
        # either observation and the denominator prior sums to 100);
        # a01=100, a00=10000 (denominator prior 10100). BETA symmetric ->
        # the ln BETA term cancels.
        "ltm_engine_post": f"""
            WITH cl AS ({_CLAIMS_SMALL_SQL}),
            one AS (SELECT DISTINCT source, entity, attr, v FROM cl),
            facts AS (SELECT DISTINCT entity, attr, v FROM one),
            touched AS (SELECT DISTINCT source, entity, attr FROM one),
            bc AS (
              SELECT source, entity, attr, v, 1 AS obs FROM one
              UNION ALL
              SELECT t.source, f.entity, f.attr, f.v, 0 AS obs
              FROM touched t
              JOIN facts f ON f.entity = t.entity AND f.attr = t.attr
              WHERE NOT EXISTS (
                SELECT 1 FROM one o
                WHERE o.source = t.source AND o.entity = f.entity
                  AND o.attr = f.attr AND o.v = f.v)),
            p0 AS (SELECT entity, attr, v, 0.5 AS p FROM facts),
            j1 AS (SELECT b.*, p.p FROM bc b
                   JOIN p0 p ON p.entity = b.entity AND p.attr = b.attr
                            AND p.v = b.v),
            c1 AS (SELECT attr, source,
                          SUM(CASE WHEN obs = 1 THEN p ELSE 0 END) AS n1_1,
                          SUM(CASE WHEN obs = 0 THEN p ELSE 0 END) AS n1_0,
                          SUM(CASE WHEN obs = 1 THEN 1 - p ELSE 0 END) AS n0_1,
                          SUM(CASE WHEN obs = 0 THEN 1 - p ELSE 0 END) AS n0_0
                   FROM j1 GROUP BY attr, source),
            s1 AS (SELECT j.entity, j.attr, j.v, ANY_VALUE(j.p) AS p,
                          SUM(LN(((CASE WHEN obs = 1 THEN n1_1 ELSE n1_0 END)
                                  - p + 50.0)
                                 / (n1_1 + n1_0 - p + 100.0))) AS l1,
                          SUM(LN(((CASE WHEN obs = 1 THEN n0_1 ELSE n0_0 END)
                                  - (1 - p)
                                  + CASE WHEN obs = 1 THEN 100.0
                                         ELSE 10000.0 END)
                                 / (n0_1 + n0_0 - (1 - p) + 10100.0))) AS l0
                   FROM j1 j JOIN c1 ON c1.attr = j.attr
                                    AND c1.source = j.source
                   GROUP BY j.entity, j.attr, j.v),
            p1 AS (SELECT entity, attr, v,
                          1.0 / (1.0 + EXP(l0 - l1)) AS p
                   FROM s1),
            j2 AS (SELECT b.*, p.p FROM bc b
                   JOIN p1 p ON p.entity = b.entity AND p.attr = b.attr
                            AND p.v = b.v),
            c2 AS (SELECT attr, source,
                          SUM(CASE WHEN obs = 1 THEN p ELSE 0 END) AS n1_1,
                          SUM(CASE WHEN obs = 0 THEN p ELSE 0 END) AS n1_0,
                          SUM(CASE WHEN obs = 1 THEN 1 - p ELSE 0 END) AS n0_1,
                          SUM(CASE WHEN obs = 0 THEN 1 - p ELSE 0 END) AS n0_0
                   FROM j2 GROUP BY attr, source),
            s2 AS (SELECT j.entity, j.attr, j.v,
                          SUM(LN(((CASE WHEN obs = 1 THEN n1_1 ELSE n1_0 END)
                                  - p + 50.0)
                                 / (n1_1 + n1_0 - p + 100.0))) AS l1,
                          SUM(LN(((CASE WHEN obs = 1 THEN n0_1 ELSE n0_0 END)
                                  - (1 - p)
                                  + CASE WHEN obs = 1 THEN 100.0
                                         ELSE 10000.0 END)
                                 / (n0_1 + n0_0 - (1 - p) + 10100.0))) AS l0
                   FROM j2 j JOIN c2 ON c2.attr = j.attr
                                    AND c2.source = j.source
                   GROUP BY j.entity, j.attr, j.v)
            SELECT entity, attr, v,
                   ROUND(1.0 / (1.0 + EXP(l0 - l1)), 6) AS post
            FROM s2
        """,
        "truthfinder_string_weights": f"""
            WITH claims AS (
              SELECT source, entity, attr,
                     'v' || CAST(CAST(v AS BIGINT) AS VARCHAR) AS vs
              FROM ({_CLAIMS_SQL})
            ),
            sigma AS (SELECT entity, attr, vs, LN(10) * COUNT(*) AS sig
                      FROM claims GROUP BY entity, attr, vs),
            pairs AS (
              SELECT a.entity, a.attr, a.vs, a.sig,
                     COALESCE(SUM(CASE WHEN b.vs <> a.vs
                         THEN b.sig * EXP(-jaro_similarity(a.vs, b.vs)) END), 0) AS loss_sum
              FROM sigma a JOIN sigma b ON a.entity = b.entity AND a.attr = b.attr
              GROUP BY a.entity, a.attr, a.vs, a.sig),
            s AS (SELECT entity, attr, vs,
                         1.0 / (1.0 + EXP(-0.3 * (0.5 * sig + 0.5 * loss_sum))) AS sv
                  FROM pairs),
            t AS (SELECT cl.source, AVG(s.sv) AS tv
                  FROM claims cl JOIN s ON s.entity = cl.entity AND s.attr = cl.attr AND s.vs = cl.vs
                  GROUP BY cl.source)
            SELECT source,
                   ROUND(CASE WHEN tv >= 1.0 THEN LN(1e10) ELSE -LN(1.0 - tv) END, 6) AS tau
            FROM t
        """,
        "ngram_jaccard_pairs": """
            WITH sh AS (
              SELECT DISTINCT doc_id AS id, substr(lower(text), i, 3) AS shingle
              FROM documents, UNNEST(generate_series(1, GREATEST(length(text) - 2, 1))) AS t(i)
              WHERE doc_id < 40 AND length(substr(lower(text), i, 3)) > 0
            ),
            sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.3
        """,
        "presence_accept": """
            WITH ev AS (
              SELECT 'e' || CAST(user_id % 40 AS VARCHAR) AS entity,
                     event_type AS attr,
                     CAST(CAST(ROUND(value, -2) AS BIGINT) AS VARCHAR) AS value_str,
                     CASE WHEN event_id % 5 < 2
                          THEN '192.168.' || CAST(event_id % 4 AS VARCHAR) || '.' || CAST(event_id % 7 AS VARCHAR)
                          ELSE 'u' || CAST(event_id % 9 AS VARCHAR) END AS source,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, ts
              FROM events),
            srcstats AS (
              -- per-OBSERVATION counts (reference appends the source once per
              -- claim, automatic_labeling.py:419-421/486-497)
              SELECT entity, attr, value_str,
                     COUNT(*) AS n_src,
                     SUM(CASE WHEN source LIKE '192.%' THEN 1 ELSE 0 END) AS n_ip
              FROM ev GROUP BY entity, attr, value_str),
            flagged AS (
              SELECT *, CASE WHEN sec - LAG(sec) OVER w > 7200 THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY entity, attr, value_str ORDER BY ts)),
            islands AS (
              SELECT *, SUM(brk) OVER (PARTITION BY entity, attr, value_str
                                       ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
              FROM flagged),
            intervals AS (
              SELECT entity, attr, value_str, island,
                     MIN(sec) AS s, MAX(sec) AS e
              FROM islands GROUP BY entity, attr, value_str, island
              HAVING MAX(sec) - MIN(sec) >= 1800),
            presence AS (
              SELECT entity, attr, value_str, CAST(SUM(e - s) AS BIGINT) AS presence_s
              FROM intervals GROUP BY entity, attr, value_str)
            SELECT p.entity, p.attr, p.value_str, p.presence_s,
                   CAST((p.presence_s * 1.0 / MAX(p.presence_s) OVER (PARTITION BY p.entity, p.attr) > 0.5)
                        AND NOT (s.n_ip * 2 > s.n_src) AS INT) AS accepted
            FROM presence p JOIN srcstats s
              ON p.entity = s.entity AND p.attr = s.attr AND p.value_str = s.value_str
        """,
        "coordinate_fusion": """
            WITH ev AS (
              SELECT 'e' || CAST(user_id % 30 AS VARCHAR) AS entity,
                     CAST((event_id * 7) % 121 - 60 AS DOUBLE) AS lat,
                     CAST((event_id * 11) % 241 - 120 AS DOUBLE) AS lon
              FROM events)
            SELECT 0 AS bucket_id, entity, 'pos' AS attr,
                   '(' || CAST(quantile_cont(lat, 0.5) AS VARCHAR) || ', '
                       || CAST(quantile_cont(lon, 0.5) AS VARCHAR) || ')' AS value_str
            FROM ev GROUP BY entity
        """,
        "reverse_map_fused": f"""
            WITH claims AS ({_CLAIMS_SQL}),
            stats AS (SELECT entity, attr, quantile_cont(v, 0.5) AS med
                      FROM claims GROUP BY entity, attr),
            cands AS (SELECT DISTINCT entity, attr, v FROM claims),
            truth AS (
              SELECT entity, attr, v FROM (
                SELECT c.entity, c.attr, c.v,
                       ROW_NUMBER() OVER (PARTITION BY c.entity, c.attr
                                          ORDER BY ABS(c.v - s.med) ASC, c.v ASC) AS rn
                FROM cands c JOIN stats s ON c.entity = s.entity AND c.attr = s.attr
              ) WHERE rn = 1),
            seed AS (
              SELECT 'e' || CAST(user_id AS VARCHAR) AS entity,
                     event_type AS attr,
                     CAST(ROUND(value, -1) AS VARCHAR) AS value_str,
                     'ev' || CAST(event_id AS VARCHAR) AS seed_value,
                     event_id
              FROM events),
            first_seed AS (
              SELECT entity, attr, value_str, seed_value FROM (
                SELECT entity, attr, value_str, seed_value,
                       ROW_NUMBER() OVER (PARTITION BY entity, attr, value_str
                                          ORDER BY event_id ASC) AS rn
                FROM seed) WHERE rn = 1)
            SELECT t.entity, t.attr, ROUND(t.v, 6) AS fused_value,
                   COALESCE(fs.seed_value, CAST(t.v AS VARCHAR)) AS formatted_value
            FROM truth t
            LEFT JOIN first_seed fs
              ON fs.entity = t.entity AND fs.attr = t.attr
             AND fs.value_str = CAST(t.v AS VARCHAR)
        """,
        # Consolidated r5 gate: node degrees + 3-hop ego tag-unioned (bodies
        # in _GRAPH_DEGREES_SQL / _GRAPH_EGO_SQL; frees a driver row for
        # pagerank_graph).
        "graph_suite": f"""
            SELECT 'degrees' AS gate, node AS a, '' AS b, '' AS c,
                   CAST(out_deg AS BIGINT) AS m1,
                   CAST(in_deg AS BIGINT) AS m2,
                   CAST(degree AS BIGINT) AS m3
            FROM ({_GRAPH_DEGREES_SQL})
            UNION ALL
            SELECT 'ego', src, dst, pred, CAST(hop AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM ({_GRAPH_EGO_SQL})
            UNION ALL
            SELECT 'edit1', val_a, val_b, '' AS c, CAST(1 AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM (
              WITH edt AS (
                SELECT doc_id, unnest(list_filter(
                  string_split_regex(lower(text), '\\s+'), x -> x != ''))
                  AS val
                FROM documents),
              edv AS (
                SELECT DISTINCT val FROM (
                  SELECT val FROM edt
                  UNION ALL
                  SELECT substr(val, 2) FROM edt
                  WHERE doc_id % 3 = 0 AND length(val) >= 2
                  UNION ALL
                  SELECT 'x' || substr(val, 2) FROM edt
                  WHERE doc_id % 5 = 0 AND length(val) >= 2)),
              edb AS (
                SELECT val FROM edv
                WHERE length(val) BETWEEN 1 AND 24),
              edx AS (
                SELECT val, unnest(list_append(
                  list_transform(generate_series(1, length(val)),
                    i -> substr(val, 1, i - 1) || substr(val, i + 1)),
                  val)) AS variant
                FROM edb),
              edp AS (
                SELECT DISTINCT x.val AS val_a, y.val AS val_b
                FROM edx x JOIN edx y USING (variant)
                WHERE x.val < y.val)
              SELECT val_a, val_b FROM edp
              WHERE levenshtein(val_a, val_b) = 1)
        """,
        "evaluation_metrics": """
            WITH ev AS (
              SELECT dayofyear(ts) % 5 AS bucket_id,
                     'e' || CAST(user_id % 25 AS VARCHAR) AS entity,
                     event_type AS attr,
                     CAST(CAST(ROUND(value, -2) AS BIGINT) AS VARCHAR) AS value,
                     event_id, user_id % 25 AS eid
              FROM events),
            claims AS (SELECT DISTINCT bucket_id, attr, entity, value FROM ev),
            it_raw AS (
              SELECT bucket_id, attr, entity, value FROM (
                SELECT bucket_id, attr, entity, value,
                       ROW_NUMBER() OVER (PARTITION BY bucket_id, entity, attr ORDER BY event_id) AS rn
                FROM ev) WHERE rn = 1),
            gt_pairs AS (
              SELECT DISTINCT bucket_id, attr, entity, value
              FROM ev WHERE eid < 15 AND event_id % 2 = 0),
            gt_entities AS (SELECT DISTINCT bucket_id, entity FROM gt_pairs),
            it_pairs AS (
              SELECT DISTINCT i.* FROM it_raw i
              JOIN gt_entities g ON i.bucket_id = g.bucket_id AND i.entity = g.entity),
            dpp AS (
              SELECT DISTINCT c.* FROM claims c
              JOIN gt_entities g ON c.bucket_id = g.bucket_id AND c.entity = g.entity),
            tp AS (SELECT i.bucket_id, i.attr, COUNT(*) AS tp FROM it_pairs i
                   JOIN gt_pairs g USING (bucket_id, attr, entity, value)
                   GROUP BY i.bucket_id, i.attr),
            fp AS (SELECT i.bucket_id, i.attr, COUNT(*) AS fp FROM it_pairs i
                   WHERE NOT EXISTS (SELECT 1 FROM gt_pairs g
                     WHERE g.bucket_id=i.bucket_id AND g.attr=i.attr AND g.entity=i.entity AND g.value=i.value)
                   GROUP BY i.bucket_id, i.attr),
            tn AS (SELECT d.bucket_id, d.attr, COUNT(*) AS tn FROM dpp d
                   WHERE NOT EXISTS (SELECT 1 FROM gt_pairs g
                     WHERE g.bucket_id=d.bucket_id AND g.attr=d.attr AND g.entity=d.entity AND g.value=d.value)
                     AND NOT EXISTS (SELECT 1 FROM it_pairs i
                     WHERE i.bucket_id=d.bucket_id AND i.attr=d.attr AND i.entity=d.entity AND i.value=d.value)
                   GROUP BY d.bucket_id, d.attr),
            fn AS (SELECT d.bucket_id, d.attr, COUNT(*) AS fn FROM dpp d
                   WHERE NOT EXISTS (SELECT 1 FROM it_pairs i
                     WHERE i.bucket_id=d.bucket_id AND i.attr=d.attr AND i.entity=d.entity AND i.value=d.value)
                     AND EXISTS (SELECT 1 FROM gt_pairs g
                     WHERE g.bucket_id=d.bucket_id AND g.attr=d.attr AND g.entity=d.entity AND g.value=d.value)
                   GROUP BY d.bucket_id, d.attr),
            gtn AS (SELECT bucket_id, attr, COUNT(*) AS gt_n FROM gt_pairs GROUP BY bucket_id, attr),
            m AS (
              SELECT gtn.bucket_id, gtn.attr, gtn.gt_n,
                     COALESCE(tp.tp, 0) AS tp, COALESCE(fp.fp, 0) AS fp,
                     COALESCE(tn.tn, 0) AS tn, COALESCE(fn.fn, 0) AS fn
              FROM gtn
              LEFT JOIN tp USING (bucket_id, attr) LEFT JOIN fp USING (bucket_id, attr)
              LEFT JOIN tn USING (bucket_id, attr) LEFT JOIN fn USING (bucket_id, attr)),
            pr AS (
              SELECT *,
                     CASE WHEN fp = 0 THEN 1.0 ELSE tp * 1.0 / (tp + fp) END AS p,
                     CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0.0 END AS r,
                     CASE WHEN tp+fp+tn+fn > 0 THEN (tp+tn) * 1.0 / (tp+fp+tn+fn) ELSE 0.0 END AS acc
              FROM m)
            SELECT bucket_id, attr, gt_n, tp, fp, tn, fn,
                   ROUND(p, 6) AS p, ROUND(r, 6) AS r, ROUND(acc, 6) AS acc,
                   ROUND(CASE WHEN p + r > 0 THEN 2*p*r/(p+r) ELSE 0.0 END, 6) AS f1,
                   ROUND(tp * 1.0 / gt_n, 6) AS c_rate
            FROM pr
        """,
        # Consolidated r5 gate: independent SimHash recomputation (same
        # tokenization, polynomial char hash fold (h*31+code) % (2^31-1)
        # seed 7, per-bit +/-1 vote sums, sign bits reassembled) tag-unioned
        # with the full blocking+hamming near-dup pair gate (pair-exchange;
        # bodies in _SIMHASH_DOCS_SQL / _SIMHASH_FULL_SQL).
        "simhash_suite": f"""
            SELECT 'simhash31' AS gate, CAST(doc_id AS BIGINT) AS id_a,
                   CAST(-1 AS BIGINT) AS id_b, CAST(simhash AS BIGINT) AS v
            FROM ({_SIMHASH_DOCS_SQL})
            UNION ALL
            SELECT 'neardup_pairs' AS gate, CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS v
            FROM ({_SIMHASH_FULL_SQL})
        """,
        # Closed-form re-derivation of gen_docs(100, 10, 4) -> extract ->
        # majority -> triples. The _mix chain is ((h + c + 1) * 2654435761)
        # % (2^31 - 1) folded left over the argument list (datagen.py:34-48);
        # all intermediates stay < 2^63. Value renderings: quantity variants
        # ('N m' / '100N cm' / '+Nmetre') all normalize to N; string variants
        # trim to 'name_V'; time 'H:MM' -> minutes. Numeric truth objects are
        # format_number(x, 6) = thousands-grouped integer + '.000000' (all
        # planted numerics are integral).
        "docs_pipeline_triples": _DOCS_TRIPLES_SQL,
        # Consolidated r5 gate: exact medians + eps-floored stddev denoms
        # tag-unioned (integer n_claims rides as DOUBLE per the cast rule).
        "group_moments": f"""
            SELECT 'median' AS gate, l_returnflag AS key,
                   median_qty AS m1, median_price AS m2
            FROM ({_MEDIAN_EXACT_SQL})
            UNION ALL
            SELECT 'stddev' AS gate, CAST(l_partkey AS VARCHAR) AS key,
                   denom AS m1, CAST(n_claims AS DOUBLE) AS m2
            FROM ({_STDDEV_DENOM_SQL})
            UNION ALL
            SELECT gate, key, m1, m2 FROM (
              WITH s AS (
                SELECT l_returnflag AS key,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(COUNT(*) AS BIGINT) AS nn,
                       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6)))
                                 AS DECIMAL(38,12)) AS DOUBLE) AS sx,
                       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6)))
                                 AS DECIMAL(38,12)) AS DOUBLE) AS sy,
                       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(20,6))
                                     * CAST(l_extendedprice AS DECIMAL(20,6))
                                     AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
                       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(20,6))
                                     * CAST(l_quantity AS DECIMAL(20,6))
                                     AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(20,6))
                                     * CAST(l_extendedprice AS DECIMAL(20,6))
                                     AS DECIMAL(38,12))) AS DOUBLE) AS syy
                FROM lineitem GROUP BY l_returnflag),
              f AS (
                SELECT key, n, nn,
                       n * sxy - sx * sy AS cov_n,
                       n * sxx - sx * sx AS var_x,
                       n * syy - sy * sy AS var_y,
                       sx, sy FROM s)
              SELECT 'ols' AS gate, key,
                     ROUND(CASE WHEN var_x != 0 THEN cov_n / var_x END, 6) AS m1,
                     ROUND(CASE WHEN var_x != 0
                           THEN (sy - (cov_n / var_x) * sx) / n END, 6) AS m2
              FROM f
              UNION ALL
              SELECT 'olsn' AS gate, key,
                     ROUND(CASE WHEN var_x != 0 AND var_y != 0
                           THEN (cov_n * cov_n) / (var_x * var_y) END, 6) AS m1,
                     CAST(nn AS DOUBLE) AS m2
              FROM f)
            UNION ALL
            SELECT 'quant' AS gate,
                   l_returnflag || '|' || CAST(p AS VARCHAR) AS key,
                   ROUND(q, 6) AS m1, p AS m2
            FROM (
              SELECT l_returnflag, 0.1 AS p,
                     quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.1) AS q
              FROM lineitem GROUP BY l_returnflag
              UNION ALL
              SELECT l_returnflag, 0.5,
                     quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
              FROM lineitem GROUP BY l_returnflag
              UNION ALL
              SELECT l_returnflag, 0.9,
                     quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9)
              FROM lineitem GROUP BY l_returnflag)
            UNION ALL
            SELECT 'wins' AS gate, key, m1, m2 FROM (
              WITH wb AS (
                SELECT l_returnflag,
                       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01)
                         AS blo,
                       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99)
                         AS bhi
                FROM lineitem GROUP BY l_returnflag)
              SELECT l.l_returnflag AS key,
                     ROUND(SUM(LEAST(GREATEST(
                       CAST(l.l_extendedprice AS DOUBLE), wb.blo), wb.bhi)),
                       2) AS m1,
                     CAST(CAST(SUM(CASE WHEN
                       LEAST(GREATEST(CAST(l.l_extendedprice AS DOUBLE),
                                      wb.blo), wb.bhi)
                       != CAST(l.l_extendedprice AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS m2
              FROM lineitem l JOIN wb USING (l_returnflag)
              GROUP BY l.l_returnflag)
        """,
        # Consolidated r5 gate: both ANN paths against the SAME exhaustive
        # scan (IVF with all probes is exact by construction).
        "ann_suite": f"""
            SELECT 'brute' AS gate, qid, cid, sim_r, rn FROM ({_ANN_BRUTE_SQL})
            UNION ALL
            SELECT 'ivf' AS gate, qid, cid, sim_r, rn FROM ({_ANN_BRUTE_SQL})
            UNION ALL
            SELECT 'pca' AS gate, qid, cid, sim_r, CAST(-1 AS INT) AS rn
            FROM (
              WITH ex AS (
                SELECT vec_id, u.i - 1 AS i,
                       CAST(embedding[u.i] AS DOUBLE) AS v
                FROM embeddings,
                     UNNEST(generate_series(1, len(embedding))) AS u(i)),
              nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
              mu AS (SELECT i, SUM(v) / (SELECT n FROM nn) AS m
                     FROM ex GROUP BY i),
              cv AS (
                SELECT a.i AS qi, b.i AS cj,
                       SUM(a.v * b.v) / (SELECT n FROM nn) AS exx
                FROM ex a JOIN ex b USING (vec_id)
                GROUP BY a.i, b.i)
              SELECT CAST(-1 AS BIGINT) AS qid, CAST(-1 AS BIGINT) AS cid,
                     ROUND((SELECT n FROM nn), 6) AS sim_r
              UNION ALL
              SELECT CAST(i AS BIGINT), CAST(-1 AS BIGINT), ROUND(m, 6)
              FROM mu
              UNION ALL
              SELECT CAST(cv.qi AS BIGINT), CAST(cv.cj AS BIGINT),
                     ROUND(cv.exx - mi.m * mj.m, 6)
              FROM cv JOIN mu mi ON mi.i = cv.qi
                      JOIN mu mj ON mj.i = cv.cj)
            UNION ALL
            -- product-quantization legs: init codebook = rounded slices of
            -- the 16 lowest ids, one Lloyd round (sequential-fold distances,
            -- argmin ties to the lowest code, means rounded 6 dp, empty
            -- clusters keep init), then the final assignment
            SELECT gate, qid, cid, sim_r, CAST(rn AS INT) AS rn FROM (
              WITH pqs AS (
                SELECT vec_id AS id, s.s AS sub,
                       list_transform(generate_series(1, 16),
                         i -> CAST(embedding[s.s * 16 + i] AS DOUBLE)) AS v
                FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS s) s),
              pqlow AS (
                SELECT id, row_number() OVER (ORDER BY id) - 1 AS j
                FROM (SELECT DISTINCT id FROM pqs)
                QUALIFY row_number() OVER (ORDER BY id) <= 16),
              pqinit AS (
                SELECT p.sub, l.j AS code,
                       list_transform(p.v, x -> round(x, 6)) AS c
                FROM pqs p JOIN pqlow l USING (id)),
              pqd1 AS (
                SELECT p.id, p.sub, c.code,
                       list_reduce(list_prepend(0.0,
                         list_transform(generate_series(1, 16),
                           i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))),
                         (a, b) -> a + b) AS dist
                FROM pqs p JOIN pqinit c USING (sub)),
              pqa1 AS (
                SELECT id, sub, code FROM pqd1
                QUALIFY row_number() OVER (PARTITION BY id, sub
                  ORDER BY dist ASC, code ASC) = 1),
              pqu AS (
                SELECT a.sub, a.code, u.i - 1 AS dim,
                       round(avg(p.v[u.i]), 6) AS val
                FROM pqa1 a JOIN pqs p USING (id, sub),
                     UNNEST(generate_series(1, 16)) u(i)
                GROUP BY a.sub, a.code, u.i),
              pqdim AS (SELECT unnest(generate_series(0, 15)) AS dim),
              pqc2 AS (
                SELECT i.sub, i.code, d.dim,
                       COALESCE(u.val, i.c[d.dim + 1]) AS value
                FROM pqinit i CROSS JOIN pqdim d
                LEFT JOIN pqu u
                  ON u.sub = i.sub AND u.code = i.code AND u.dim = d.dim),
              pqc2a AS (
                SELECT sub, code, list(value ORDER BY dim) AS c
                FROM pqc2 GROUP BY sub, code),
              pqd2 AS (
                SELECT p.id, p.sub, c.code,
                       list_reduce(list_prepend(0.0,
                         list_transform(generate_series(1, 16),
                           i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))),
                         (a, b) -> a + b) AS dist
                FROM pqs p JOIN pqc2a c USING (sub)),
              pqa2 AS (
                SELECT id, sub, code FROM pqd2
                QUALIFY row_number() OVER (PARTITION BY id, sub
                  ORDER BY dist ASC, code ASC) = 1)
              SELECT 'pqcode' AS gate, id AS qid, CAST(sub AS BIGINT) AS cid,
                     CAST(code AS DOUBLE) AS sim_r, -2 AS rn
              FROM pqa2
              UNION ALL
              SELECT 'pqcent', CAST(sub AS BIGINT),
                     CAST(code * 16 + dim AS BIGINT), value, -3
              FROM pqc2
              UNION ALL
              SELECT 'adc', qid, id, adist, rk FROM (
                SELECT t.qid, a.id, ROUND(SUM(t.d), 6) AS adist,
                       CAST(row_number() OVER (
                         PARTITION BY t.qid
                         ORDER BY ROUND(SUM(t.d), 6) ASC, a.id ASC)
                         AS BIGINT) AS rk
                FROM pqa2 a
                JOIN (
                  SELECT q.qid, q.sub, c.code,
                         list_reduce(list_prepend(0.0,
                           list_transform(generate_series(1, 16),
                             i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i]))),
                           (x, y) -> x + y) AS d
                  FROM (
                    SELECT vec_id AS qid, s.s AS sub,
                           list_transform(generate_series(1, 16),
                             i -> CAST(embedding[s.s * 16 + i] AS DOUBLE))
                             AS qv
                    FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS s) s
                    WHERE vec_id % 97 = 0) q
                  JOIN pqc2a c USING (sub)) t
                  ON t.sub = a.sub AND t.code = a.code
                GROUP BY t.qid, a.id)
              WHERE rk <= 10
              UNION ALL
              SELECT 'pqblock', id_a, id_b, cos, CAST(n_shared AS INT)
              FROM (
                SELECT s.id_a, s.id_b, s.n_shared,
                       ROUND(list_dot_product(ea.v64, eb.v64)
                             / (sqrt(list_dot_product(ea.v64, ea.v64))
                                * sqrt(list_dot_product(eb.v64, eb.v64))),
                             4) AS cos
                FROM (
                  SELECT x.id AS id_a, y.id AS id_b,
                         CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM pqa2 x JOIN pqa2 y
                    ON x.sub = y.sub AND x.code = y.code AND x.id < y.id
                  GROUP BY x.id, y.id HAVING COUNT(*) >= 3) s
                JOIN (SELECT vec_id, embedding::DOUBLE[] AS v64
                      FROM embeddings) ea ON ea.vec_id = s.id_a
                JOIN (SELECT vec_id, embedding::DOUBLE[] AS v64
                      FROM embeddings) eb ON eb.vec_id = s.id_b))
        """,
        # Consolidated r5 gate: the one-step CRH weight update and the full
        # 2-iteration engine run, tag-unioned.
        "crh_suite": f"""
            SELECT 'step1' AS gate, source, w FROM ({_CRH_STEP_SQL})
            UNION ALL
            SELECT 'engine2' AS gate, source, w FROM ({_CRH_ENGINE_SQL})
        """,
        # Duplicated-span coverage: re-derive 6-grams, the >=2-distinct-doc
        # gram set, and the interval-union coverage (running-max window)
        # entirely in SQL. dup_tokens is a SUM of ints -> CAST AS BIGINT
        # (the HUGEINT fetch-path rule).
        "substring_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '') AS t
              FROM documents),
            idx AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(len(t) - 5, 0) + 1)) AS i
              FROM toks),
            g AS (
              SELECT doc_id, i AS start,
                     array_to_string(t[i:i+5], ' ') AS gram
              FROM idx),
            dup AS (
              SELECT gram FROM g GROUP BY gram
              HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (SELECT g.doc_id, g.start FROM g JOIN dup USING (gram)),
            cov AS (
              SELECT doc_id, start,
                     GREATEST(0, start + 6 - GREATEST(COALESCE(
                       MAX(start + 6) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       start), start)) AS c
              FROM m),
            per AS (SELECT doc_id, SUM(c) AS dup_tokens FROM cov GROUP BY doc_id)
            SELECT t.doc_id, len(t.t) AS n_tokens,
                   CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   ROUND(CASE WHEN len(t.t) > 0
                              THEN COALESCE(p.dup_tokens, 0) / len(t.t)
                              ELSE 0.0 END, 6) AS dup_frac
            FROM toks t LEFT JOIN per p USING (doc_id)
        """,
        # Corpus LM suite: top-40 vocabulary (rank + cumulative coverage)
        # and per-doc add-0.5 bigram-LM mean log-prob, both rebuilt from
        # scratch (grouped counts, scalar vocab size, re-averaged logs).
        "lm_suite": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '') AS t
              FROM documents),
            alltok AS (SELECT unnest(t) AS token FROM toks),
            vocab AS (SELECT COUNT(DISTINCT token) AS v FROM alltok),
            counts AS (SELECT token, COUNT(*) AS cnt FROM alltok GROUP BY token),
            total AS (SELECT SUM(cnt) AS tot FROM counts),
            top AS (
              SELECT token, cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
              FROM counts QUALIFY rank <= 40),
            vrows AS (
              SELECT 'vocab' AS gate, token AS key, CAST(cnt AS DOUBLE) AS m1,
                     CAST(rank AS DOUBLE) AS m2,
                     ROUND(SUM(cnt) OVER (ORDER BY rank
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           / (SELECT tot FROM total), 6) AS m3
              FROM top),
            bidx AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
              FROM toks),
            bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM bidx),
            c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
            c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
            lm AS (
              SELECT w1, w2,
                     LN((c2 + 0.5) / (c1 + 0.5 * (SELECT v FROM vocab))) AS logp
              FROM c2 JOIN c1 USING (w1)),
            sc AS (
              SELECT doc_id, COUNT(*) AS nb, AVG(logp) AS alp
              FROM bi JOIN lm USING (w1, w2) GROUP BY doc_id),
            -- CCNet perplexity-bucket leg: rank the ROUNDED scores (the
            -- same 6-dp value the 'score' leg hashes, so cross-engine
            -- float noise cannot flip the order), equal-count tiers via
            -- floor(3 * (rank-1) / n)
            prk AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (
                       ORDER BY ROUND(alp, 6) DESC, doc_id ASC) AS prank,
                     COUNT(*) OVER () AS pn
              FROM sc WHERE nb > 0),
            -- DSIR leg: unigram+bigram features, poly31 % 32 buckets,
            -- add-0.5-smoothed target(lang='en')/raw bucket log-ratios,
            -- per-doc weight sums, Gumbel-top-100 on the portable draw
            -- (seed 7+salt=10, two Knuth mix rounds)
            df AS (
              SELECT doc_id, lang,
                     list_concat(t, list_transform(
                       range(1, greatest(len(t) - 1, 0) + 1),
                       i -> t[i] || ' ' || t[i+1])) AS f
              FROM toks JOIN (SELECT doc_id AS did, lang FROM documents)
                ON doc_id = did),
            dfx AS (
              SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
                     CAST(list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(generate_series(1, length(feat)),
                           i -> CAST(ascii(substr(feat, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647)
                     AS BIGINT) % 32 AS b
              FROM (SELECT doc_id, lang, unnest(f) AS feat FROM df)),
            dbc AS (
              SELECT b, COUNT(*) AS cr, SUM(tgt) AS ct FROM dfx GROUP BY b),
            dtot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM dbc),
            dlr AS (
              SELECT b,
                     LN((ct + 0.5) / ((SELECT tt FROM dtot) + 0.5 * 32))
                     - LN((cr + 0.5) / ((SELECT tr FROM dtot) + 0.5 * 32))
                     AS lrv
              FROM dbc),
            dsc AS (
              SELECT doc_id, COUNT(*) AS nf, SUM(lrv) AS logw
              FROM dfx JOIN dlr USING (b) GROUP BY doc_id),
            dh AS (
              SELECT d.doc_id,
                     COALESCE(s.nf, 0) AS nf, COALESCE(s.logw, 0.0) AS logw,
                     list_reduce(
                       list_prepend(CAST(10 AS BIGINT), list_transform(
                         generate_series(1, length(CAST(d.doc_id AS VARCHAR))),
                         i -> CAST(ascii(substring(CAST(d.doc_id AS VARCHAR),
                                                   i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h0
              FROM documents d LEFT JOIN dsc s USING (doc_id)),
            dg AS (
              SELECT doc_id, nf, logw,
                     logw - LN(-LN(greatest(
                       ((((h0 + 1) * 2654435761) % 2147483647 + 1)
                        * 2654435761) % 2147483647 / 2147483647.0,
                       1e-9))) AS g
              FROM dh),
            dr AS (
              SELECT *, ROW_NUMBER() OVER (ORDER BY g DESC, doc_id ASC) AS rk
              FROM dg),
            -- BPE legs: 3 unrolled merge rounds over the (word, cnt) table
            -- (same unroll pattern as the scale_units oracle). Per round:
            -- weighted adjacent-pair counts -> argmax (count desc, pair
            -- asc) -> greedy left-to-right merge. The merge replays the
            -- engine's lookaround regex via plain replace on a DOUBLE-
            -- spaced padding (' a  b ' can never share a separator with
            -- the next match, so runs like 'a a a a' merge at odd offsets
            -- exactly like the sequential Sennrich fold), then doubles
            -- collapse back to single separators.
            bw0 AS (
              SELECT token AS word, cnt,
                     array_to_string(list_transform(
                       generate_series(1, length(token)),
                       i -> substr(token, i, 1)), ' ') AS syms
              FROM counts),
            bx1 AS (SELECT cnt, string_split(syms, ' ') AS s FROM bw0),
            bp1 AS (
              SELECT pair, SUM(cnt) AS n FROM (
                SELECT cnt, unnest(list_transform(
                  generate_series(1, greatest(len(s) - 1, 0)),
                  i -> s[i] || ' ' || s[i+1])) AS pair FROM bx1)
              GROUP BY pair HAVING SUM(cnt) >= 2),
            bb1 AS (SELECT pair, n FROM bp1 ORDER BY n DESC, pair ASC LIMIT 1),
            bw1 AS (
              SELECT word, cnt,
                     CASE WHEN b.pair IS NULL THEN syms
                          ELSE trim(replace(replace(
                            ' ' || replace(syms, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' '),
                            '  ', ' '))
                     END AS syms
              FROM bw0 LEFT JOIN bb1 b ON TRUE),
            bx2 AS (SELECT cnt, string_split(syms, ' ') AS s FROM bw1),
            bp2 AS (
              SELECT pair, SUM(cnt) AS n FROM (
                SELECT cnt, unnest(list_transform(
                  generate_series(1, greatest(len(s) - 1, 0)),
                  i -> s[i] || ' ' || s[i+1])) AS pair FROM bx2)
              GROUP BY pair HAVING SUM(cnt) >= 2),
            bb2 AS (SELECT pair, n FROM bp2 ORDER BY n DESC, pair ASC LIMIT 1),
            bw2 AS (
              SELECT word, cnt,
                     CASE WHEN b.pair IS NULL THEN syms
                          ELSE trim(replace(replace(
                            ' ' || replace(syms, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' '),
                            '  ', ' '))
                     END AS syms
              FROM bw1 LEFT JOIN bb2 b ON TRUE),
            bx3 AS (SELECT cnt, string_split(syms, ' ') AS s FROM bw2),
            bp3 AS (
              SELECT pair, SUM(cnt) AS n FROM (
                SELECT cnt, unnest(list_transform(
                  generate_series(1, greatest(len(s) - 1, 0)),
                  i -> s[i] || ' ' || s[i+1])) AS pair FROM bx3)
              GROUP BY pair HAVING SUM(cnt) >= 2),
            bb3 AS (SELECT pair, n FROM bp3 ORDER BY n DESC, pair ASC LIMIT 1),
            bw3 AS (
              SELECT word, cnt,
                     CASE WHEN b.pair IS NULL THEN syms
                          ELSE trim(replace(replace(
                            ' ' || replace(syms, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '  ') || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' '),
                            '  ', ' '))
                     END AS syms
              FROM bw2 LEFT JOIN bb3 b ON TRUE),
            -- BM25 leg: queries = every 53rd doc's first 4 tokens;
            -- postings pruned to query terms, RSJ idf
            -- ln(1+(N-df+0.5)/(df+0.5)), k1=1.2 b=0.75 saturation,
            -- score rounded to 6dp BEFORE ranking, ties by doc_id asc
            bqt AS (
              SELECT DISTINCT doc_id AS qid, unnest(t[1:4]) AS term
              FROM toks WHERE doc_id % 53 = 0),
            bdl AS (SELECT doc_id, len(t) AS dl FROM toks),
            bst AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM bdl),
            bpost AS (
              SELECT doc_id, term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest(t) AS term FROM toks)
              WHERE term IN (SELECT DISTINCT term FROM bqt)
              GROUP BY doc_id, term),
            bdf AS (SELECT term, COUNT(*) AS dfv FROM bpost GROUP BY term),
            bsc AS (
              SELECT q.qid, p.doc_id,
                     ROUND(SUM(
                       LN(1 + ((SELECT n FROM bst) - dfv + 0.5)
                              / (dfv + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * dl
                                      / (SELECT avgdl FROM bst)))), 6)
                       AS score,
                     COUNT(*) AS nt
              FROM bpost p JOIN bdf USING (term) JOIN bqt q USING (term)
                   JOIN bdl ON p.doc_id = bdl.doc_id
              GROUP BY q.qid, p.doc_id),
            brk AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk
              FROM bsc),
            -- Count-Min sketch legs: rebuild the 3x64 sketch from the
            -- distinct-token counts (poly31 fold, seed 0; row r's bucket =
            -- ((h+r+1)*2654435761 % (2^31-1)) % 64 — Knuth mix, so the
            -- power-of-two width spreads), then estimate the %97 query
            -- tokens as the min over rows of their addressed cells.
            cmsh AS (
              SELECT token, cnt,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(token)),
                         i -> CAST(unicode(substring(token, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h
              FROM counts),
            cmsr AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS r),
            cmscell AS (
              SELECT cmsr.r AS row_i,
                     ((h + cmsr.r + 1) * 2654435761 % 2147483647) % 64
                       AS col,
                     SUM(cnt) AS cellcnt
              FROM cmsh CROSS JOIN cmsr
              GROUP BY 1, 2),
            cmsq AS (
              SELECT DISTINCT unnest(t) AS token FROM toks
              WHERE doc_id % 97 = 0),
            cmse AS (
              SELECT q.token, MIN(c.cellcnt) AS est, MIN(h.cnt) AS exact
              FROM cmsq q
              JOIN cmsh h USING (token)
              CROSS JOIN cmsr
              JOIN cmscell c
                ON c.row_i = cmsr.r
               AND c.col = ((h.h + cmsr.r + 1) * 2654435761
                            % 2147483647) % 64
              GROUP BY q.token),
            -- HyperLogLog legs: registers from the distinct-token hashes
            -- (one Knuth mix over the cmsh poly31 fold, low 6 bits pick the
            -- register, rho = trailing zeros of the rest + 1 via the
            -- lowest-set-bit log2 — exact on powers of two), then the
            -- bias-corrected harmonic estimate with the linear-counting
            -- branch, the exact arithmetic Spark's hll_estimate runs.
            hllh AS (
              SELECT ((h + 1) * 2654435761 % 2147483647) AS hm
              FROM cmsh),
            hllreg AS (
              SELECT hm & 63 AS idx,
                     MAX(CASE WHEN (hm >> 6) = 0 THEN 26
                         ELSE CAST(log2((hm >> 6) & (-(hm >> 6)))
                              AS BIGINT) + 1 END) AS rho
              FROM hllh GROUP BY 1),
            hllagg AS (
              SELECT CAST(64 - COUNT(*) AS DOUBLE) AS zv,
                     SUM(power(2.0, -rho)) AS sp
              FROM hllreg),
            hllgt AS (
              SELECT d.lang, t.token,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(t.token)),
                         i -> CAST(unicode(substring(t.token, i, 1))
                              AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h
              FROM (SELECT DISTINCT doc_id, unnest(t) AS token FROM toks) t
              JOIN documents d USING (doc_id)
              GROUP BY d.lang, t.token,
                       list_reduce(
                         list_prepend(CAST(0 AS BIGINT), list_transform(
                           generate_series(1, length(t.token)),
                           i -> CAST(unicode(substring(t.token, i, 1))
                                AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 2147483647)),
            hllgreg AS (
              SELECT lang,
                     ((h + 1) * 2654435761 % 2147483647) & 31 AS idx,
                     MAX(CASE WHEN (((h + 1) * 2654435761 % 2147483647)
                                    >> 5) = 0 THEN 27
                         ELSE CAST(log2((((h + 1) * 2654435761 % 2147483647)
                                         >> 5)
                                        & (-(((h + 1) * 2654435761
                                              % 2147483647) >> 5)))
                              AS BIGINT) + 1 END) AS rho
              FROM hllgt GROUP BY 1, 2),
            hllgagg AS (
              SELECT lang, CAST(32 - COUNT(*) AS DOUBLE) AS zv,
                     SUM(power(2.0, -rho)) AS sp
              FROM hllgreg GROUP BY lang),
            hllgest AS (
              SELECT lang, zv,
                     CASE WHEN 0.7213 / (1.0 + 1.079 / 32.0) * 32.0 * 32.0
                               / (COALESCE(sp, 0.0) + zv) <= 80.0
                               AND zv > 0
                          THEN 32.0 * LN(32.0 / zv)
                          ELSE 0.7213 / (1.0 + 1.079 / 32.0) * 32.0 * 32.0
                               / (COALESCE(sp, 0.0) + zv) END AS est
              FROM hllgagg),
            hllgexact AS (
              SELECT d.lang, COUNT(DISTINCT t.token) AS nd
              FROM (SELECT doc_id, unnest(t) AS token FROM toks) t
              JOIN documents d USING (doc_id)
              GROUP BY d.lang),
            hllest AS (
              SELECT zv,
                     CASE WHEN 0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0
                               / (COALESCE(sp, 0.0) + zv) <= 160.0
                               AND zv > 0
                          THEN 64.0 * LN(64.0 / zv)
                          ELSE 0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0
                               / (COALESCE(sp, 0.0) + zv) END AS est
              FROM hllagg)
            SELECT *, CAST(NULL AS DOUBLE) AS m4 FROM vrows
            UNION ALL
            SELECT 'score' AS gate, CAST(d.doc_id AS VARCHAR) AS key,
                   CAST(COALESCE(s.nb, 0) AS DOUBLE) AS m1,
                   ROUND(s.alp, 6) AS m2, CAST(NULL AS DOUBLE) AS m3,
                   CAST(NULL AS DOUBLE) AS m4
            FROM documents d LEFT JOIN sc s USING (doc_id)
            UNION ALL
            SELECT 'ppl' AS gate, CAST(d.doc_id AS VARCHAR) AS key,
                   CAST(FLOOR(3.0 * (p.prank - 1) / p.pn) AS DOUBLE) AS m1,
                   CAST(p.prank AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM documents d LEFT JOIN prk p USING (doc_id)
            UNION ALL
            SELECT 'dsir' AS gate, CAST(doc_id AS VARCHAR) AS key,
                   CAST(nf AS DOUBLE) AS m1, ROUND(logw, 6) AS m2,
                   ROUND(g, 6) AS m3,
                   CAST(CAST(rk <= 100 AS INT) AS DOUBLE) AS m4
            FROM dr
            UNION ALL
            SELECT 'bpe_merge' AS gate, '1:' || pair AS key,
                   CAST(n AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM bb1
            UNION ALL
            SELECT 'bpe_merge' AS gate, '2:' || pair AS key,
                   CAST(n AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM bb2
            UNION ALL
            SELECT 'bpe_merge' AS gate, '3:' || pair AS key,
                   CAST(n AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM bb3
            UNION ALL
            SELECT 'bpe_word' AS gate, word || '|' || syms AS key,
                   CAST(cnt AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM bw3
            UNION ALL
            -- encode leg: per-doc token counts from the TRAINING
            -- segmentation (independent of the engine's min-rank loop)
            SELECT 'bpe_enc' AS gate, CAST(d.doc_id AS VARCHAR) AS key,
                   CAST(COALESCE(bc.nw, 0) AS DOUBLE) AS m1,
                   CAST(COALESCE(bc.nt, 0) AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM documents d LEFT JOIN (
              SELECT doc_id, COUNT(*) AS nw, SUM(ns) AS nt
              FROM (SELECT doc_id, unnest(t) AS word FROM toks) e
              JOIN (SELECT word, len(string_split(syms, ' ')) AS ns
                    FROM bw3) s USING (word)
              GROUP BY doc_id) bc USING (doc_id)
            UNION ALL
            SELECT 'bm25' AS gate, qid || '|' || doc_id AS key,
                   score AS m1, CAST(rk AS DOUBLE) AS m2,
                   CAST(nt AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM brk WHERE rk <= 10
            UNION ALL
            SELECT 'cms' AS gate,
                   CAST(row_i AS VARCHAR) || '|' || CAST(col AS VARCHAR)
                     AS key,
                   CAST(cellcnt AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM cmscell
            UNION ALL
            SELECT 'cmse' AS gate, token AS key,
                   CAST(est AS DOUBLE) AS m1, CAST(exact AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM cmse
            UNION ALL
            SELECT 'hll' AS gate, 'r' || CAST(idx AS VARCHAR) AS key,
                   CAST(rho AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM hllreg
            UNION ALL
            SELECT 'hlle' AS gate, 'estimate' AS key,
                   ROUND(est, 6) AS m1,
                   CAST((SELECT v FROM vocab) AS DOUBLE) AS m2,
                   zv AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM hllest
            UNION ALL
            SELECT 'hllg' AS gate, e.lang AS key,
                   ROUND(e.est, 6) AS m1, CAST(x.nd AS DOUBLE) AS m2,
                   e.zv AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM hllgest e JOIN hllgexact x USING (lang)
        """,
        # KG triple quality over the same closed-form pipeline triples:
        # planted defects (ref remap % 150, 'n/a' on id % 13 quantities,
        # '' on id % 29 strings), alias canonicalization, and the three
        # constraint flags re-derived independently.
        "triple_quality": f"""
            WITH t AS ({_DOCS_TRIPLES_SQL}),
            x AS (
              SELECT subj, pred, bucket_id,
                     CASE WHEN pred IN ('P_ent0', 'P_ent1', 'P_ent2')
                          THEN 'Q' || CAST(1000 +
                               (CAST(SUBSTR(obj, 2) AS INT) - 50000) % 150
                               AS VARCHAR)
                          WHEN pred = 'P_qty'
                               AND (CAST(SUBSTR(subj, 2) AS INT) - 1000) % 13 = 0
                          THEN 'n/a'
                          WHEN pred = 'P_str'
                               AND (CAST(SUBSTR(subj, 2) AS INT) - 1000) % 29 = 0
                          THEN ''
                          ELSE obj END AS obj
              FROM t
              UNION ALL
              SELECT subj, pred, bucket_id,
                     'Q' || CAST(1000 +
                          (CAST(SUBSTR(obj, 2) AS INT) - 50000 + 1) % 150
                          AS VARCHAR) AS obj
              FROM t
              WHERE pred = 'P_ent0'
                AND (CAST(SUBSTR(subj, 2) AS INT) - 1000) % 7 = 0),
            c AS (
              SELECT *, CASE pred WHEN 'P_ent0' THEN 'related_to'
                                  WHEN 'P_ent1' THEN 'part_of'
                                  WHEN 'P_qty' THEN 'quantity'
                                  ELSE pred END AS pred_canon
              FROM x),
            subs AS (SELECT DISTINCT subj AS sref FROM c),
            v AS (
              SELECT c.subj, c.pred, c.pred_canon, c.obj, c.bucket_id,
                     CAST(c.obj IS NULL OR TRIM(c.obj) = '' AS INT) AS v_null,
                     CAST(c.pred_canon = 'quantity' AND c.obj IS NOT NULL
                          AND TRY_CAST(REPLACE(c.obj, ',', '') AS DOUBLE) IS NULL
                          AS INT) AS v_numeric,
                     CAST(c.pred_canon IN ('related_to', 'part_of')
                          AND c.obj IS NOT NULL AND s.sref IS NULL
                          AS INT) AS v_dangling
              FROM c LEFT JOIN subs s ON s.sref = c.obj),
            q0 AS (
              SELECT subj, pred, pred_canon, obj, bucket_id,
                     v_null, v_numeric, v_dangling,
                     v_null + v_numeric + v_dangling AS n_violations
              FROM v),
            fg AS (
              SELECT subj, pred_canon,
                     CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_objects
              FROM q0 WHERE pred_canon IN ('related_to', 'quantity')
              GROUP BY subj, pred_canon),
            q AS (
              SELECT q0.*,
                     COALESCE(fg.n_objects, CAST(-1 AS BIGINT)) AS n_objects,
                     CAST(q0.pred_canon IN ('related_to', 'quantity')
                          AND COALESCE(fg.n_objects, 0) > 1 AS INT)
                       AS v_functional
              FROM q0 LEFT JOIN fg ON fg.subj = q0.subj
                                  AND fg.pred_canon = q0.pred_canon),
            ifg AS (
              SELECT pred_canon, obj,
                     CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subjects
              FROM q0 WHERE pred_canon = 'related_to'
              GROUP BY pred_canon, obj),
            q2 AS (
              SELECT q.*,
                     COALESCE(ifg.n_subjects, CAST(-1 AS BIGINT))
                       AS n_subjects,
                     CAST(q.pred_canon = 'related_to'
                          AND COALESCE(ifg.n_subjects, 0) > 1 AS INT)
                       AS v_inv_functional
              FROM q LEFT JOIN ifg ON ifg.pred_canon = q.pred_canon
                                  AND ifg.obj = q.obj)
            SELECT q2.*,
                   '<http://example.org/' || subj || '> <http://example.org/'
                   || pred_canon || '> '
                   || CASE WHEN pred_canon IN ('related_to', 'part_of')
                                AND regexp_matches(obj, '^[A-Za-z0-9_]+$')
                           THEN '<http://example.org/' || obj || '>'
                           ELSE '"' ||
                                replace(replace(replace(replace(replace(
                                  obj, '\\', '\\\\'), '"', '\\"'),
                                  chr(10), '\\n'), chr(13), '\\r'),
                                  chr(9), '\\t')
                                || '"'
                      END || ' .' AS ntriple
            FROM q2
        """,
        # Recompute exact 3-gram Jaccard from raw text for the pairs the LSH
        # emitted (ids read from the query's deterministic pair exchange; the
        # jaccard VALUES come entirely from this independent recomputation).
        "minhash_neardup_docs": """
            WITH pair_ids AS (
              SELECT id_a, id_b
              FROM read_parquet('/root/repo/.oracle_data/minhash_pairs_sf0.01/*.parquet')),
            ids AS (SELECT DISTINCT id_a AS id FROM pair_ids
                    UNION SELECT DISTINCT id_b FROM pair_ids),
            sh AS (
              SELECT DISTINCT d.doc_id AS id, substr(lower(d.text), i, 3) AS shingle
              FROM documents d
              JOIN ids ON ids.id = d.doc_id,
              UNNEST(generate_series(1, GREATEST(length(d.text) - 2, 1))) AS t(i)
              WHERE length(substr(lower(d.text), i, 3)) > 0),
            sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
            inter AS (
              SELECT p.id_a, p.id_b, COUNT(*) AS inter
              FROM pair_ids p
              JOIN sh a ON a.id = p.id_a
              JOIN sh b ON b.id = p.id_b AND b.shingle = a.shingle
              GROUP BY p.id_a, p.id_b)
            SELECT p.id_a, p.id_b,
                   ROUND(i.inter * 1.0 / (sa.n + sb.n - i.inter), 6) AS jaccard
            FROM pair_ids p
            JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            JOIN sizes sa ON sa.id = p.id_a
            JOIN sizes sb ON sb.id = p.id_b
            WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= 0.8
        """,
        # Transitive-closure CC oracle: component = min reachable node over
        # the symmetric edge relation — a wholly different algorithm from
        # the engine's large-star/small-star rounds.
        "graph_components": """
            WITH RECURSIVE ev AS (
              SELECT event_id % 240 AS a,
                     (event_id % 240) - (event_id % 240) % 8 + (event_id // 7) % 8 AS b
              FROM events),
            edges AS (SELECT DISTINCT a AS src, b AS dst FROM ev WHERE a <> b),
            sym AS (SELECT src, dst FROM edges
                    UNION SELECT dst AS src, src AS dst FROM edges),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach(a, b) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
            SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a
        """,
        "specificity_mnad": """
            WITH ev AS (
              SELECT dayofyear(ts) % 5 AS bucket_id,
                     'e' || CAST(user_id % 25 AS VARCHAR) AS entity,
                     event_type AS attr,
                     CAST(ROUND(value, -2) AS BIGINT) AS vnum,
                     event_id
              FROM events),
            truth AS (
              SELECT bucket_id, entity, attr,
                     CAST(vnum AS VARCHAR) AS value, CAST(vnum AS DOUBLE) AS value_num
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket_id, entity, attr
                                                 ORDER BY event_id) AS rn
                    FROM ev) WHERE rn = 1),
            gt_pairs AS (
              SELECT DISTINCT bucket_id, entity, attr, CAST(vnum AS VARCHAR) AS value
              FROM ev WHERE event_id % 2 = 0),
            gt_num AS (
              SELECT bucket_id, entity, attr, MAX(CAST(vnum AS DOUBLE)) AS gt_num
              FROM ev WHERE event_id % 2 = 0 GROUP BY bucket_id, entity, attr),
            it_pairs AS (SELECT DISTINCT bucket_id, entity, attr, value FROM truth),
            correct AS (
              SELECT i.* FROM it_pairs i WHERE EXISTS (
                SELECT 1 FROM gt_pairs g WHERE g.bucket_id = i.bucket_id
                  AND g.entity = i.entity AND g.attr = i.attr AND g.value = i.value)),
            wrong AS (
              SELECT i.* FROM it_pairs i WHERE NOT EXISTS (
                SELECT 1 FROM gt_pairs g WHERE g.bucket_id = i.bucket_id
                  AND g.entity = i.entity AND g.attr = i.attr AND g.value = i.value)),
            po AS (SELECT DISTINCT attr, CAST(vnum AS VARCHAR) AS value,
                          ((abs(vnum) // 100) % 7 + 1) / 7.0 AS coeff
                   FROM ev),
            pos AS (SELECT c.bucket_id, c.attr, SUM(p.coeff) AS coeff_sum,
                           COUNT(*) AS n_ordered
                    FROM correct c JOIN po p ON p.attr = c.attr AND p.value = c.value
                    GROUP BY c.bucket_id, c.attr),
            neg AS (SELECT bucket_id, attr, COUNT(*) AS n_wrong
                    FROM wrong GROUP BY bucket_id, attr),
            spec AS (SELECT p.bucket_id, p.attr,
                            (p.coeff_sum - COALESCE(n.n_wrong, 0)) / p.n_ordered AS specificity,
                            p.n_ordered
                     FROM pos p LEFT JOIN neg n USING (bucket_id, attr)),
            mn AS (SELECT t.bucket_id, t.attr,
                          AVG(ABS(t.value_num - g.gt_num))
                          / GREATEST(stddev_pop(g.gt_num), 1e-12) AS mnad
                   FROM truth t JOIN gt_num g USING (bucket_id, entity, attr)
                   GROUP BY t.bucket_id, t.attr)
            SELECT s.bucket_id, s.attr, ROUND(s.specificity, 6) AS spec,
                   s.n_ordered, ROUND(m.mnad, 6) AS mnad_v
            FROM spec s LEFT JOIN mn m USING (bucket_id, attr)
        """,
        # Consolidated r5 gate: first-seen known set + cumulative seen
        # values tag-unioned as (gate, k1, k2, v) strings.
        "cumulative_sets": f"""
            SELECT 'known_first' AS gate, value AS k1, '' AS k2,
                   CAST(first_bucket AS VARCHAR) AS v
            FROM ({_KNOWN_ENT_SQL})
            UNION ALL
            SELECT 'seen_upto5' AS gate, entity AS k1, attr AS k2,
                   values_seen AS v
            FROM ({_SEEN_VALUES_SQL})
        """,
        "gt_carry_forward": """
            WITH sparse AS (
              SELECT user_id % 20 AS entity, event_type AS attr, dayofyear(ts) AS bucket_id,
                     MAX(CASE WHEN event_id % 3 = 0 THEN ROUND(value, 1) END) AS gt_value
              FROM events GROUP BY user_id % 20, event_type, dayofyear(ts))
            SELECT entity, attr, bucket_id,
                   ROUND(LAST_VALUE(gt_value IGNORE NULLS)
                         OVER (PARTITION BY entity, attr ORDER BY bucket_id
                               ROWS UNBOUNDED PRECEDING), 6) AS carried
            FROM sparse
        """,
        # Closed-form decode oracle: the planted pixel rule (doc_id + 3x +
        # 5y + 11c) % 256 lets DuckDB recompute each image's exact integer
        # channel sums from doc_id alone — no byte parsing oracle-side, so
        # a header/stride/BGR bug in the engine decoder breaks the hash.
        "multimodal_decode": """
            WITH sel AS (
              SELECT doc_id, doc_id % 13 + 5 AS width, doc_id % 7 + 3 AS height
              FROM documents
            )
            SELECT s.doc_id, s.width, s.height,
                   CAST(SUM((s.doc_id + 3*gx.x + 5*gy.y) % 256) AS BIGINT) AS sum_r,
                   CAST(SUM((s.doc_id + 3*gx.x + 5*gy.y + 11) % 256) AS BIGINT) AS sum_g,
                   CAST(SUM((s.doc_id + 3*gx.x + 5*gy.y + 22) % 256) AS BIGINT) AS sum_b
            FROM sel s
            CROSS JOIN generate_series(0, 16) gx(x)
            CROSS JOIN generate_series(0, 8) gy(y)
            WHERE gx.x < s.width AND gy.y < s.height
            GROUP BY 1, 2, 3
        """,
        "scale_units_fixed": _scale_units_oracle(),
        "revision_diff_events": """
            WITH revs AS (
              SELECT user_id % 25 AS entity, event_type AS prop,
                     CAST(dayofyear(ts) % 6 AS INT) AS rev_no,
                     list_sort(list_distinct(
                       list('v' || CAST(event_id % 37 AS VARCHAR)))) AS vals
              FROM events GROUP BY 1, 2, 3
            ), lagged AS (
              SELECT entity, prop, rev_no, vals,
                     coalesce(lag(vals) OVER (PARTITION BY entity, prop
                                              ORDER BY rev_no), []) AS prev
              FROM revs
            )
            SELECT entity, prop, rev_no,
                   unnest(list_filter(vals, x -> NOT list_contains(prev, x)))
                     AS value
            FROM lagged
        """,
        # As-of join oracled by DuckDB's NATIVE ASOF LEFT JOIN (independent
        # implementation of the same backward-inclusive semantics) + the
        # point-in-time snapshot replayed as a ROW_NUMBER pick. Values ride
        # raw (no arithmetic), so the hash compares parquet-exact doubles.
        "asof_suite": """
            WITH l AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type <> 'purchase'),
            r AS (
              SELECT user_id, ts,
                     arg_max(event_id, event_id) AS r_event,
                     arg_max(value, event_id) AS r_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts),
            a AS (
              SELECT l.event_id, l.ts AS ts, r.ts AS ts2,
                     r.r_event AS i1, r.r_value AS d1
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.ts),
            s AS (
              SELECT user_id, event_type, ts, event_id, value FROM (
                SELECT user_id, event_type, ts, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
                WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') WHERE rn = 1)
            SELECT 'asof' AS gate, CAST(event_id AS VARCHAR) AS key,
                   ts, ts2, CAST(i1 AS BIGINT) AS i1, d1
            FROM a
            UNION ALL
            SELECT 'snap', CAST(user_id AS VARCHAR) || '|' || event_type,
                   ts, CAST(NULL AS TIMESTAMP), CAST(event_id AS BIGINT), value
            FROM s
            UNION ALL
            SELECT 'ret', CAST(offset_weeks AS VARCHAR), cohort_week,
                   CAST(NULL AS TIMESTAMP), n_users,
                   ROUND(n_users / CAST(cohort_size AS DOUBLE), 6)
            FROM (
              WITH firsts AS (
                SELECT user_id,
                       date_trunc('week', MIN(ts)) AS cohort_week
                FROM events GROUP BY user_id),
              actives AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS week
                FROM events),
              cells AS (
                SELECT f.cohort_week,
                       date_diff('day', f.cohort_week, a.week) // 7
                         AS offset_weeks,
                       COUNT(DISTINCT a.user_id) AS n_users
                FROM actives a JOIN firsts f USING (user_id)
                GROUP BY 1, 2),
              sizes AS (
                SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
                FROM firsts GROUP BY cohort_week)
              SELECT c.cohort_week, c.offset_weeks, c.n_users, z.cohort_size
              FROM cells c JOIN sizes z USING (cohort_week))
            UNION ALL
            SELECT 'z', CAST(event_id AS VARCHAR), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS TIMESTAMP),
                   -- CAST: list_sum over integers types HUGEINT in DuckDB,
                   -- which the driver's fetch path surfaces as float64 /
                   -- decimal and breaks the hash (the r4 multimodal class)
                   CAST(list_sum(list_transform(generate_series(0, 15),
                     i -> ((((user_id & 65535) >> i) & 1) * (1 << (2*i)))
                        + ((((event_id & 65535) >> i) & 1) * (1 << (2*i+1)))))
                        AS BIGINT),
                   CAST(NULL AS DOUBLE)
            FROM events
        """,
        # PageRank: the 3 power iterations unrolled as chained CTEs, each
        # with its own dangling-mass scalar, per-dst contribution sum, and
        # rank update — a from-scratch replay of the recurrence. Damping
        # terms forced to DOUBLE so DuckDB's DECIMAL literals match Spark's
        # float arithmetic; both sides round to 6 dp at the very end only.
        "pagerank_graph": """
            WITH edges AS (
              SELECT DISTINCT
                     'n' || CAST(event_id % 200 AS VARCHAR) AS src,
                     'n' || CAST((event_id * 7 + user_id % 5 + 1) % 200
                                 AS VARCHAR) AS dst
              FROM events WHERE (event_id % 200) % 17 <> 0),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT src AS node FROM edges
              UNION ALL SELECT dst FROM edges)),
            outd AS (SELECT src AS node, COUNT(*) AS od
                     FROM edges GROUP BY src),
            base AS (SELECT n.node, o.od
                     FROM nodes n LEFT JOIN outd o ON n.node = o.node),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
            r0 AS (SELECT node, od, 1.0 / (SELECT n FROM nn) AS rank
                   FROM base),
            d1 AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r0
                   WHERE od IS NULL),
            c1 AS (SELECT e.dst AS node, SUM(r.rank / r.od) AS ir
                   FROM edges e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
            r1 AS (SELECT b.node, b.od,
                          (1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                          + CAST(0.85 AS DOUBLE)
                            * (COALESCE(c.ir, 0.0)
                               + (SELECT dm FROM d1) / (SELECT n FROM nn))
                            AS rank
                   FROM base b LEFT JOIN c1 c ON b.node = c.node),
            d2 AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r1
                   WHERE od IS NULL),
            c2 AS (SELECT e.dst AS node, SUM(r.rank / r.od) AS ir
                   FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
            r2 AS (SELECT b.node, b.od,
                          (1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                          + CAST(0.85 AS DOUBLE)
                            * (COALESCE(c.ir, 0.0)
                               + (SELECT dm FROM d2) / (SELECT n FROM nn))
                            AS rank
                   FROM base b LEFT JOIN c2 c ON b.node = c.node),
            d3 AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r2
                   WHERE od IS NULL),
            c3 AS (SELECT e.dst AS node, SUM(r.rank / r.od) AS ir
                   FROM edges e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
            r3 AS (SELECT b.node, b.od,
                          (1.0 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                          + CAST(0.85 AS DOUBLE)
                            * (COALESCE(c.ir, 0.0)
                               + (SELECT dm FROM d3) / (SELECT n FROM nn))
                            AS rank
                   FROM base b LEFT JOIN c3 c ON b.node = c.node),
            -- triangle / lcc legs: undirected simple graph, triangles
            -- counted ONCE each via the a<b<c three-way self-join — an
            -- orientation-free replay independent of the engine's
            -- degree-oriented plan.
            und AS (SELECT DISTINCT least(src, dst) AS a,
                           greatest(src, dst) AS b
                    FROM edges WHERE src <> dst),
            udeg AS (SELECT node, COUNT(*) AS deg FROM (
                       SELECT a AS node FROM und
                       UNION ALL SELECT b FROM und) GROUP BY node),
            tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                     FROM und e1
                     JOIN und e2 ON e2.a = e1.b
                     JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            tcnt AS (SELECT node, COUNT(*) AS t FROM (
                       SELECT x AS node FROM tris
                       UNION ALL SELECT y FROM tris
                       UNION ALL SELECT z FROM tris) GROUP BY node),
            tstats AS (SELECT d.node, CAST(COALESCE(t.t, 0) AS BIGINT) AS t,
                              d.deg
                       FROM udeg d LEFT JOIN tcnt t ON d.node = t.node),
            -- lpa leg: 2 synchronous iterations unrolled, argmax by
            -- (count DESC, label DESC) via ROW_NUMBER
            adj AS (SELECT a AS node, b AS nbr FROM und
                    UNION ALL SELECT b, a FROM und),
            l0 AS (SELECT node, node AS label FROM nodes),
            c1l AS (SELECT adj.node, l.label, COUNT(*) AS c
                    FROM adj JOIN l0 l ON adj.nbr = l.node
                    GROUP BY adj.node, l.label),
            w1 AS (SELECT node, label,
                          ROW_NUMBER() OVER (PARTITION BY node
                                             ORDER BY c DESC, label DESC)
                            AS rn
                   FROM c1l),
            l1 AS (SELECT n.node, COALESCE(w.label, n.node) AS label
                   FROM nodes n
                   LEFT JOIN (SELECT node, label FROM w1 WHERE rn = 1) w
                     ON n.node = w.node),
            c2l AS (SELECT adj.node, l.label, COUNT(*) AS c
                    FROM adj JOIN l1 l ON adj.nbr = l.node
                    GROUP BY adj.node, l.label),
            w2 AS (SELECT node, label,
                          ROW_NUMBER() OVER (PARTITION BY node
                                             ORDER BY c DESC, label DESC)
                            AS rn
                   FROM c2l),
            l2 AS (SELECT n.node, COALESCE(w.label, p.label) AS label
                   FROM nodes n
                   JOIN l1 p ON n.node = p.node
                   LEFT JOIN (SELECT node, label FROM w2 WHERE rn = 1) w
                     ON n.node = w.node),
            -- kcore leg: k=7 peel unrolled 3 rounds (fixpoint after the
            -- first real round here; extra rounds are idempotent)
            kd1 AS (SELECT node, COUNT(*) AS deg FROM (
                      SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und) GROUP BY node),
            ke1 AS (SELECT e.a, e.b FROM und e
                    JOIN kd1 x ON e.a = x.node AND x.deg >= 7
                    JOIN kd1 y ON e.b = y.node AND y.deg >= 7),
            kd2 AS (SELECT node, COUNT(*) AS deg FROM (
                      SELECT a AS node FROM ke1
                      UNION ALL SELECT b FROM ke1) GROUP BY node),
            ke2 AS (SELECT e.a, e.b FROM ke1 e
                    JOIN kd2 x ON e.a = x.node AND x.deg >= 7
                    JOIN kd2 y ON e.b = y.node AND y.deg >= 7),
            kd3 AS (SELECT node, COUNT(*) AS deg FROM (
                      SELECT a AS node FROM ke2
                      UNION ALL SELECT b FROM ke2) GROUP BY node),
            ke3 AS (SELECT e.a, e.b FROM ke2 e
                    JOIN kd3 x ON e.a = x.node AND x.deg >= 7
                    JOIN kd3 y ON e.b = y.node AND y.deg >= 7),
            kcore AS (SELECT node, COUNT(*) AS cd FROM (
                        SELECT a AS node FROM ke3
                        UNION ALL SELECT b FROM ke3) GROUP BY node),
            -- aa leg: Adamic-Adar over wedges enumerated at the common
            -- neighbor, existing edges removed by an anti pattern
            aawedge AS (SELECT l.nbr AS a, r.nbr AS b,
                               1.0 / ln(CAST(d.deg AS DOUBLE)) AS w
                        FROM adj l
                        JOIN adj r ON l.node = r.node AND l.nbr < r.nbr
                        JOIN udeg d ON d.node = l.node),
            aag AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn,
                           ROUND(SUM(w), 6) AS aa
                    FROM aawedge GROUP BY a, b),
            aap AS (SELECT g.a, g.b, g.cn, g.aa FROM aag g
                    LEFT JOIN und u ON u.a = g.a AND u.b = g.b
                    WHERE u.a IS NULL),
            -- hits legs: 2 L1-normalized mutual-recursion rounds unrolled
            -- (hub0 = 1 per node, so the first auth contribution sum is a
            -- per-dst COUNT)
            ha1 AS (SELECT dst AS node, CAST(COUNT(*) AS DOUBLE) AS s
                    FROM edges GROUP BY dst),
            hauth1 AS (SELECT n.node,
                              COALESCE(a.s, 0.0) / (SELECT SUM(s) FROM ha1)
                                AS auth
                       FROM nodes n LEFT JOIN ha1 a ON n.node = a.node),
            hh1 AS (SELECT e.src AS node, SUM(a.auth) AS s
                    FROM edges e JOIN hauth1 a ON e.dst = a.node
                    GROUP BY e.src),
            hhub1 AS (SELECT n.node,
                             COALESCE(h.s, 0.0) / (SELECT SUM(s) FROM hh1)
                               AS hub
                      FROM nodes n LEFT JOIN hh1 h ON n.node = h.node),
            ha2 AS (SELECT e.dst AS node, SUM(h.hub) AS s
                    FROM edges e JOIN hhub1 h ON e.src = h.node
                    GROUP BY e.dst),
            hauth2 AS (SELECT n.node,
                              COALESCE(a.s, 0.0) / (SELECT SUM(s) FROM ha2)
                                AS auth
                       FROM nodes n LEFT JOIN ha2 a ON n.node = a.node),
            hh2 AS (SELECT e.src AS node, SUM(a.auth) AS s
                    FROM edges e JOIN hauth2 a ON e.dst = a.node
                    GROUP BY e.src),
            hhub2 AS (SELECT n.node,
                             COALESCE(h.s, 0.0) / (SELECT SUM(s) FROM hh2)
                               AS hub
                      FROM nodes n LEFT JOIN hh2 h ON n.node = h.node)
            SELECT 'pr' AS gate, node, ROUND(rank, 6) AS rank,
                   CAST(NULL AS VARCHAR) AS label
            FROM r3
            UNION ALL
            SELECT 'tri', node, CAST(t AS DOUBLE), CAST(NULL AS VARCHAR)
            FROM tstats
            UNION ALL
            SELECT 'lcc', node,
                   ROUND(CASE WHEN deg >= 2
                              THEN 2.0 * t / (deg * (deg - 1))
                              ELSE 0.0 END, 6),
                   CAST(NULL AS VARCHAR)
            FROM tstats
            UNION ALL
            SELECT 'lpa', node, CAST(NULL AS DOUBLE), label FROM l2
            UNION ALL
            SELECT 'kcore', node, CAST(cd AS DOUBLE), CAST(NULL AS VARCHAR)
            FROM kcore
            UNION ALL
            SELECT 'aa', a || '|' || b, aa, CAST(cn AS VARCHAR) FROM aap
            UNION ALL
            SELECT 'hub', node, ROUND(hub, 6), CAST(NULL AS VARCHAR)
            FROM hhub2
            UNION ALL
            SELECT 'auth', node, ROUND(auth, 6), CAST(NULL AS VARCHAR)
            FROM hauth2
            UNION ALL
            SELECT 'sssp', node, dist, CAST(NULL AS VARCHAR) FROM (
              WITH wedges AS (
                SELECT src, dst,
                       CAST((CAST(substring(src, 2) AS BIGINT) * 3
                             + CAST(substring(dst, 2) AS BIGINT) * 5) % 7 + 1
                            AS DOUBLE) AS w
                FROM edges),
              s0 AS (
                SELECT node, 0.0 AS dist FROM nodes
                WHERE CAST(substring(node, 2) AS BIGINT) % 41 = 0),
              s1 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM s0
                  UNION ALL
                  SELECT e.dst, s.dist + e.w FROM s0 s
                  JOIN wedges e ON e.src = s.node) GROUP BY node),
              s2 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM s1
                  UNION ALL
                  SELECT e.dst, s.dist + e.w FROM s1 s
                  JOIN wedges e ON e.src = s.node) GROUP BY node),
              s3 AS (
                SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM s2
                  UNION ALL
                  SELECT e.dst, s.dist + e.w FROM s2 s
                  JOIN wedges e ON e.src = s.node) GROUP BY node)
              SELECT node, dist FROM s3)
            UNION ALL
            SELECT 'walk', wid, CAST(step AS DOUBLE), visited FROM (
              WITH rwadj AS (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                         AS ni,
                       COUNT(*) OVER (PARTITION BY src) AS dg
                FROM edges),
              rw0 AS (SELECT node AS start, node AS cur FROM nodes),
              rw1 AS (
                SELECT s.start, a.dst AS cur FROM rw0 s
                JOIN rwadj a ON a.src = s.cur
                 AND a.ni = ((list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(s.start || '#0#1')),
                         i -> CAST(unicode(substring(s.start || '#0#1', i, 1))
                              AS BIGINT))),
                       (x, c) -> (x * 31 + c) % 2147483647) + 1)
                      * 2654435761 % 2147483647) % a.dg),
              rw2 AS (
                SELECT s.start, a.dst AS cur FROM rw1 s
                JOIN rwadj a ON a.src = s.cur
                 AND a.ni = ((list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(s.start || '#0#2')),
                         i -> CAST(unicode(substring(s.start || '#0#2', i, 1))
                              AS BIGINT))),
                       (x, c) -> (x * 31 + c) % 2147483647) + 1)
                      * 2654435761 % 2147483647) % a.dg),
              rw3 AS (
                SELECT s.start, a.dst AS cur FROM rw2 s
                JOIN rwadj a ON a.src = s.cur
                 AND a.ni = ((list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(s.start || '#0#3')),
                         i -> CAST(unicode(substring(s.start || '#0#3', i, 1))
                              AS BIGINT))),
                       (x, c) -> (x * 31 + c) % 2147483647) + 1)
                      * 2654435761 % 2147483647) % a.dg)
              SELECT start || '|0' AS wid, 0 AS step, cur AS visited FROM rw0
              UNION ALL
              SELECT start || '|0', 1, cur FROM rw1
              UNION ALL
              SELECT start || '|0', 2, cur FROM rw2
              UNION ALL
              SELECT start || '|0', 3, cur FROM rw3)
            UNION ALL
            SELECT 'neg', src || '|' || dst, CAST(is_col AS DOUBLE), neg_dst
            FROM (
              WITH nb AS (
                SELECT src, dst,
                       ((list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                             generate_series(1, length(src || '|' || dst)),
                             i -> CAST(unicode(substring(src || '|' || dst,
                                                         i, 1)) AS BIGINT))),
                           (x, c) -> (x * 31 + c) % 2147483647) + 1)
                        * 2654435761 % 2147483647) % 16 AS bucket
                FROM edges),
              nn2 AS (
                SELECT src, dst, bucket,
                       COALESCE(
                         lead(dst) OVER (PARTITION BY bucket
                                         ORDER BY src, dst),
                         first_value(dst) OVER (
                           PARTITION BY bucket ORDER BY src, dst
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING)) AS neg_dst
                FROM nb)
              SELECT n.src, n.dst, n.neg_dst,
                     CASE WHEN e.src IS NULL THEN 0 ELSE 1 END AS is_col
              FROM nn2 n LEFT JOIN edges e
                ON e.src = n.src AND e.dst = n.neg_dst)
        """,
        # Benchmark decontamination: re-derive the benchmark 8-gram set
        # (docs with doc_id % 37 == 0, gram at token offset 3) and count
        # matching grams per doc — same tokenization as the Spark side.
        "decontaminate_docs": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '') AS t
              FROM documents),
            bench AS (
              SELECT DISTINCT array_to_string(t[3:10], ' ') AS gram
              FROM toks WHERE doc_id % 37 = 0 AND len(t) >= 10),
            grams AS (
              SELECT doc_id, u.gram
              FROM (SELECT doc_id,
                           list_transform(generate_series(1, len(t) - 7),
                                          i -> array_to_string(t[i:i+7], ' ')) AS gs
                    FROM toks WHERE len(t) >= 8), UNNEST(gs) AS u(gram)),
            hits AS (
              SELECT g.doc_id, COUNT(*) AS n
              FROM grams g JOIN bench b USING (gram) GROUP BY g.doc_id),
            dg AS (SELECT DISTINCT doc_id, gram FROM grams),
            dtot AS (SELECT doc_id, COUNT(*) AS ng FROM dg GROUP BY doc_id),
            dhit AS (
              SELECT dg.doc_id, COUNT(*) AS no
              FROM dg JOIN bench b USING (gram) GROUP BY dg.doc_id),
            fz AS (
              SELECT d.doc_id,
                     CAST(COALESCE(dh.no, 0) AS BIGINT) AS n_overlap,
                     ROUND(CASE WHEN COALESCE(dt.ng, 0) > 0
                                THEN COALESCE(dh.no, 0) / dt.ng
                                ELSE 0.0 END, 6) AS overlap_frac
              FROM documents d
              LEFT JOIN dtot dt USING (doc_id)
              LEFT JOIN dhit dh USING (doc_id)),
            -- Bloom-pruned path: the 4096-bit k=3 filter of the benchmark
            -- grams replayed from scratch — poly31 char fold per gram
            -- (spaces included), bit positions via the Knuth-mix bucket
            -- chain, a corpus gram passes iff ALL THREE of its positions
            -- are in the benchmark's set-bit set (bit-packing into words
            -- is representation, the set of positions is the semantics).
            bgh AS (
              SELECT gram,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(gram)),
                         i -> CAST(unicode(substring(gram, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h
              FROM bench),
            bpos AS (
              SELECT DISTINCT
                     ((h + u.i + 1) * 2654435761 % 2147483647) % 4096 AS pos
              FROM bgh, UNNEST([0, 1, 2]) AS u(i)),
            cgh AS (
              SELECT gram,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                         generate_series(1, length(gram)),
                         i -> CAST(unicode(substring(gram, i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h
              FROM (SELECT DISTINCT gram FROM grams)),
            cgp AS (
              SELECT gram,
                     ((h + u.i + 1) * 2654435761 % 2147483647) % 4096 AS pos
              FROM cgh, UNNEST([0, 1, 2]) AS u(i)),
            okg AS (
              SELECT c.gram FROM cgp c LEFT JOIN bpos b ON b.pos = c.pos
              GROUP BY c.gram HAVING COUNT(b.pos) = 3),
            npass AS (
              SELECT g.doc_id, COUNT(*) AS np
              FROM grams g JOIN okg USING (gram) GROUP BY g.doc_id),
            bhits AS (
              SELECT g.doc_id, COUNT(*) AS bn
              FROM grams g JOIN okg USING (gram) JOIN bench USING (gram)
              GROUP BY g.doc_id)
            SELECT d.doc_id, COALESCE(h.n, 0) AS n_contaminated,
                   CAST(COALESCE(h.n, 0) > 0 AS INT) AS contaminated,
                   fz.n_overlap, fz.overlap_frac,
                   CAST(fz.overlap_frac >= 0.01 AS INT) AS fuzzy_contaminated,
                   CAST(COALESCE(np.np, 0) AS BIGINT) AS n_bloom_pass,
                   CAST(COALESCE(bh.bn, 0) AS BIGINT) AS bloom_n_contaminated
            FROM documents d
            LEFT JOIN hits h USING (doc_id)
            JOIN fz USING (doc_id)
            LEFT JOIN npass np USING (doc_id)
            LEFT JOIN bhits bh USING (doc_id)
        """,
        # PII scan + redaction over deterministically planted spans; the
        # redacted string is compared verbatim, so regex span semantics
        # (RE2 here, java.util.regex on Spark) must agree on every doc.
        "pii_scan_docs": r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' node 10.' || CAST(doc_id % 200 AS VARCHAR)
                               || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                          THEN ' call +1 555 01'
                               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                               || ' 4242' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0
                          THEN ' card 4111 1111 1111 1111' ELSE '' END
                     || CASE WHEN doc_id % 19 = 0
                          THEN ' ref 4111-1111-1111-1112' ELSE '' END AS ptext
              FROM documents),
            base AS (
              SELECT doc_id, ptext,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(ptext,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '<IPV4>', 'g'),
                     '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}',
                     '<PHONE>', 'g') AS red0
              FROM p),
            -- card-shaped candidates from the RAW text (the scan count)
            -- and from the otherwise-redacted text (the redaction fold)
            cand AS (
              SELECT doc_id, 'raw' AS src,
                     unnest(regexp_extract_all(ptext,
                       '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,4}\b')) AS c
              FROM base
              UNION ALL
              SELECT doc_id, 'red' AS src,
                     unnest(regexp_extract_all(red0,
                       '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,4}\b')) AS c
              FROM base),
            -- Luhn mod-10 fold: i counts from the rightmost digit, every
            -- second digit doubles with 9 subtracted on overflow
            lv AS (
              SELECT doc_id, src, c,
                     length(ds) BETWEEN 13 AND 19
                     AND list_reduce(
                           list_prepend(0, generate_series(1, length(ds))),
                           (acc, i) -> acc + CASE WHEN i % 2 = 0 THEN
                               CASE WHEN 2 * (ascii(substr(ds,
                                      CAST(length(ds) - i + 1 AS INT), 1)) - 48) > 9
                                    THEN 2 * (ascii(substr(ds,
                                      CAST(length(ds) - i + 1 AS INT), 1)) - 48) - 9
                                    ELSE 2 * (ascii(substr(ds,
                                      CAST(length(ds) - i + 1 AS INT), 1)) - 48) END
                             ELSE ascii(substr(ds,
                                      CAST(length(ds) - i + 1 AS INT), 1)) - 48 END
                         ) % 10 = 0 AS ok
              FROM (SELECT doc_id, src, c,
                           regexp_replace(c, '[^0-9]', '', 'g') AS ds
                    FROM cand)),
            ncc AS (
              SELECT doc_id, COUNT(*) AS n FROM lv
              WHERE src = 'raw' AND ok GROUP BY doc_id),
            rl AS (
              SELECT doc_id, list(c ORDER BY length(c) DESC, c ASC) AS cs
              FROM lv WHERE src = 'red' AND ok GROUP BY doc_id)
            SELECT b.doc_id,
                   len(regexp_extract_all(ptext,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(ptext,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                   len(regexp_extract_all(ptext,
                       '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}')) AS n_phone,
                   COALESCE(ncc.n, 0) AS n_ccnum,
                   list_reduce(
                     list_prepend(b.red0, COALESCE(rl.cs, CAST([] AS VARCHAR[]))),
                     (acc, c) -> replace(acc, c, '<CCNUM>')) AS redacted
            FROM base b
            LEFT JOIN ncc USING (doc_id) LEFT JOIN rl USING (doc_id)
        """,
        # Consolidated r5 gate: lang-ID + BPE-ish token count joined with
        # within-doc duplicate n-gram ratios (n=3, n=5) on doc_id (bodies in
        # _LANG_ID_SQL / _DOC_REP_SQL).
        "textstats_docs": f"""
            SELECT l.doc_id, l.lang, l.lang_pred, l.n_tokens_bpe,
                   r.dup3, r.dup5,
                   g.n_words, g.mean_word_len, g.r_word_count, g.r_mean_len,
                   g.r_symbol, g.r_alpha, g.r_stop, g.r_dup, g.gopher_keep,
                   c.n_lines, c.n_kept_lines, c.n_sentences,
                   c.c4_has_lorem, c.c4_has_brace, c.c4_keep, c.clean_text,
                   ld.ld_n_lines, ld.ld_n_kept_lines, ld.ld_clean_text,
                   q.q_logit, q.q_keep
            FROM ({_LANG_ID_SQL}) l JOIN ({_DOC_REP_SQL}) r USING (doc_id)
            JOIN ({_GOPHER_SQL}) g USING (doc_id)
            JOIN ({_C4_SQL}) c USING (doc_id)
            JOIN ({_LINE_DEDUP_SQL}) ld USING (doc_id)
            JOIN ({_QSCORE_SQL}) q USING (doc_id)
        """,
        # gate='sample': deterministic stratified sampling — the draw is the
        # 31-bit polynomial char fold over CAST(doc_id AS VARCHAR) (seed
        # 7+salt=12) plus two Knuth mix rounds, divided by 2^31-1; filter on
        # the SAME rounded u the Spark side filters on.
        # gate='cap': exact per-domain cap (domain=lang, cap=100, top by
        # n_chars DESC, doc_id ASC) — re-ranked here with a window over a
        # domain-count join; under-cap domains keep every row at rnk=-1.
        "stratified_sample_docs": r"""
            WITH h AS (
              SELECT doc_id, lang,
                     list_reduce(
                       list_prepend(CAST(12 AS BIGINT), list_transform(
                         generate_series(1, length(CAST(doc_id AS VARCHAR))),
                         i -> CAST(unicode(substring(CAST(doc_id AS VARCHAR),
                                                     i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h0
              FROM documents),
            m AS (
              SELECT doc_id, lang,
                     ((((h0 + 1) * 2654435761) % 2147483647 + 1)
                      * 2654435761) % 2147483647 AS hm
              FROM h),
            u AS (
              SELECT doc_id, lang,
                     ROUND(hm / 2147483647.0, 6) AS u
              FROM m),
            dc AS (
              SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            ranked AS (
              SELECT d.doc_id, d.lang,
                     CAST(d.n_chars AS DOUBLE) AS score,
                     CAST(row_number() OVER (
                       PARTITION BY d.lang
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS BIGINT) AS rn,
                     dc.n
              FROM documents d JOIN dc USING (lang))
            SELECT 'sample' AS gate, doc_id, lang AS k, u AS score,
                   CAST(-1 AS BIGINT) AS rnk
            FROM u
            WHERE u < CASE lang WHEN 'en' THEN 0.6 WHEN 'de' THEN 0.35
                                WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 0.2
                                ELSE 0.15 END
            UNION ALL
            SELECT 'cap' AS gate, doc_id, lang AS k, score,
                   CASE WHEN n > 100 THEN rn ELSE CAST(-1 AS BIGINT) END AS rnk
            FROM ranked
            WHERE n <= 100 OR rn <= 100
            UNION ALL
            -- A-ES reservoir leg: seed 7+11=18 poly31 fold, two Knuth mix
            -- rounds, priority = ln(max(u, 1e-12)) / max(n_chars, 1e-12),
            -- top-40 per lang (under-40 langs pass through, rank -1)
            SELECT 'res' AS gate, doc_id, lang AS k,
                   ROUND(pri, 6) AS score,
                   CASE WHEN n > 40 THEN rn ELSE CAST(-1 AS BIGINT) END AS rnk
            FROM (
              SELECT p.doc_id, p.lang, p.pri, dc.n,
                     CAST(row_number() OVER (
                       PARTITION BY p.lang
                       ORDER BY p.pri DESC, p.doc_id ASC) AS BIGINT) AS rn
              FROM (
                SELECT d.doc_id, d.lang,
                       ln(greatest(
                         ((((rh.h0 + 1) * 2654435761) % 2147483647 + 1)
                          * 2654435761) % 2147483647 / 2147483647.0,
                         1e-12))
                       / greatest(CAST(d.n_chars AS DOUBLE), 1e-12) AS pri
                FROM documents d JOIN (
                  SELECT doc_id,
                         list_reduce(
                           list_prepend(CAST(18 AS BIGINT), list_transform(
                             generate_series(1,
                               length(CAST(doc_id AS VARCHAR))),
                             i -> CAST(unicode(substring(
                                    CAST(doc_id AS VARCHAR), i, 1))
                                  AS BIGINT))),
                           (a, c) -> (a * 31 + c) % 2147483647) AS h0
                  FROM documents) rh USING (doc_id)) p
              JOIN dc USING (lang))
            WHERE n <= 40 OR rn <= 40
            UNION ALL
            SELECT 'tier' AS gate, u.doc_id, d.lang AS k,
                   CASE WHEN u.u < 0.15 THEN 0.15
                        WHEN u.u < 0.35 THEN 0.35
                        WHEN u.u < 0.6 THEN 0.6 END AS score,
                   CAST(-1 AS BIGINT) AS rnk
            FROM u JOIN documents d USING (doc_id)
        """,
        # Greedy first-fit packing replayed as a sequential recursive-CTE
        # fold per source shard (docs in doc_id order, capacity 256).
        "pack_sequences_docs": r"""
            WITH RECURSIVE docs2 AS (
              SELECT source, doc_id,
                     len(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x != '')) AS tok,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS rn
              FROM documents),
            pack AS (
              SELECT source, doc_id, tok, rn,
                     CAST(0 AS BIGINT) AS bin_id, tok AS fill
              FROM docs2 WHERE rn = 1
              UNION ALL
              SELECT d.source, d.doc_id, d.tok, d.rn,
                     CASE WHEN p.fill + d.tok > 256 THEN p.bin_id + 1
                          ELSE p.bin_id END,
                     CASE WHEN p.fill + d.tok > 256 THEN d.tok
                          ELSE p.fill + d.tok END
              FROM pack p JOIN docs2 d
                ON d.source = p.source AND d.rn = p.rn + 1),
            -- chunk leg: sliding windows of <=32 tokens at stride 24,
            -- window count re-derived from the same formula the engine
            -- uses (1 window when n<=32, else ((n-32+23)//24)+1)
            ctoks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '') AS toks
              FROM documents),
            cwin AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 32 THEN 1
                          ELSE ((len(toks) - 32 + 23) // 24) + 1 END AS nw
              FROM ctoks WHERE len(toks) > 0),
            cidx AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, nw - 1)) AS i
              FROM cwin),
            chunks AS (
              SELECT doc_id,
                     CAST(i AS BIGINT) AS chunk_idx,
                     CAST(i * 24 AS BIGINT) AS start_tok,
                     list_slice(toks, i * 24 + 1, i * 24 + 32) AS ck
              FROM cidx)
            SELECT 'pack' AS gate, source, doc_id,
                   CAST(tok AS BIGINT) AS m1, bin_id AS m2,
                   CAST(fill - tok AS BIGINT) AS m3, '' AS txt
            FROM pack
            UNION ALL
            SELECT 'chunk', '', doc_id, chunk_idx, start_tok,
                   CAST(len(ck) AS BIGINT), array_to_string(ck, ' ')
            FROM chunks
        """,
        # Consolidated r5 gate: mixture plan rows + materialized per-doc
        # epochs tag-unioned (bodies in _MIX_PLAN_SQL / _MIX_APPLY_SQL).
        "mixture_docs": f"""
            SELECT 'plan' AS gate, source, '' AS key,
                   CAST(domain_tokens AS DOUBLE) AS m1,
                   CAST(target_tokens AS DOUBLE) AS m2, rate AS m3,
                   CAST(epochs AS DOUBLE) AS m4
            FROM ({_MIX_PLAN_SQL})
            UNION ALL
            SELECT 'apply' AS gate, source, CAST(doc_id AS VARCHAR) AS key,
                   CAST(epoch AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
                   CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
            FROM ({_MIX_APPLY_SQL})
            UNION ALL
            SELECT 'temp' AS gate, source, '' AS key,
                   ROUND(share, 6) AS m1, CAST(tgt AS DOUBLE) AS m2,
                   ROUND(tgt * 1.0 / domain_tokens, 6) AS m3,
                   CAST(CEIL(tgt * 1.0 / domain_tokens) AS DOUBLE) AS m4
            FROM (
              SELECT source, domain_tokens, share,
                     CAST(ROUND(share * 50000) AS BIGINT) AS tgt
              FROM (
                WITH t AS (
                  SELECT source,
                         SUM(len(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x != ''))) AS domain_tokens
                  FROM documents GROUP BY source),
                p AS (
                  SELECT source, domain_tokens,
                         sqrt(domain_tokens * 1.0
                              / (SELECT SUM(domain_tokens) FROM t)) AS pt
                  FROM t)
                SELECT source, domain_tokens,
                       pt / (SELECT SUM(pt) FROM p) AS share
                FROM p))
        """,
        # Full curation-chain replay: dedup (min doc_id per text) -> the
        # complete quality_features score -> decontamination -> portable
        # stratified draw -> recursive-CTE greedy packing. Every stage's
        # SQL piece mirrors its standalone gate.
        "curate_corpus_docs": r"""
            WITH RECURSIVE toksr AS (
              SELECT doc_id, lang, source, text,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> x != '') AS tr,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x != '') AS tl
              FROM documents),
            dedup AS (
              SELECT * FROM toksr
              QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)),
            q AS (
              SELECT *,
                     length(text) AS n_chars,
                     len(tr) AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(list_filter(tr, x -> list_contains(
                       ['a','and','das','der','des','die','ein','el','es',
                        'est','et','is','ist','la','le','les','los','of',
                        'que','the','to','una','und'], lower(x)))) AS n_stop,
                     len(list_distinct(tr)) AS n_distinct
              FROM dedup),
            q2 AS (
              SELECT *,
                     CASE WHEN n_chars > 0 THEN n_punct / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop / n_tokens
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN n_tokens > 0 THEN 1.0 - n_distinct / n_tokens
                          ELSE 0.0 END AS rep_ratio
              FROM q),
            keepq AS (
              SELECT * FROM q2
              WHERE ROUND(
                      LEAST(n_tokens / 64.0, 1.0) * 0.3
                    + LEAST(stop_ratio * 4.0, 1.0) * 0.3
                    + (1.0 - LEAST(punct_ratio * 5.0, 1.0)) * 0.2
                    + (1.0 - rep_ratio) * 0.2, 6) >= 0.25),
            bench AS (
              SELECT DISTINCT array_to_string(tl[3:10], ' ') AS gram
              FROM toksr WHERE doc_id % 37 = 0 AND len(tl) >= 10),
            grams AS (
              SELECT doc_id, u.gram
              FROM (SELECT doc_id,
                           list_transform(generate_series(1, len(tl) - 7),
                                          i -> array_to_string(tl[i:i+7], ' ')) AS gs
                    FROM keepq WHERE len(tl) >= 8), UNNEST(gs) AS u(gram)),
            contam AS (
              SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)),
            decon AS (
              SELECT k.* FROM keepq k LEFT JOIN contam c USING (doc_id)
              WHERE c.doc_id IS NULL),
            h AS (
              SELECT *, list_reduce(
                       list_prepend(CAST(12 AS BIGINT), list_transform(
                         generate_series(1, length(CAST(doc_id AS VARCHAR))),
                         i -> CAST(unicode(substring(CAST(doc_id AS VARCHAR),
                                                     i, 1)) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 2147483647) AS h0
              FROM decon),
            kept AS (
              SELECT source, doc_id, len(tl) AS tok
              FROM (SELECT *, ROUND(((((h0 + 1) * 2654435761) % 2147483647
                                      + 1) * 2654435761) % 2147483647
                                    / 2147483647.0, 6) AS u FROM h)
              WHERE u < CASE lang WHEN 'en' THEN 0.6 WHEN 'de' THEN 0.35
                                  WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 0.2
                                  ELSE 0.15 END),
            docs2 AS (
              SELECT source, doc_id, tok,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS rn
              FROM kept),
            pack AS (
              SELECT source, doc_id, tok, rn,
                     CAST(0 AS BIGINT) AS bin_id, tok AS fill
              FROM docs2 WHERE rn = 1
              UNION ALL
              SELECT d.source, d.doc_id, d.tok, d.rn,
                     CASE WHEN p.fill + d.tok > 256 THEN p.bin_id + 1
                          ELSE p.bin_id END,
                     CASE WHEN p.fill + d.tok > 256 THEN d.tok
                          ELSE p.fill + d.tok END
              FROM pack p JOIN docs2 d
                ON d.source = p.source AND d.rn = p.rn + 1)
            SELECT source, doc_id, tok AS n_tokens, bin_id,
                   fill - tok AS bin_offset
            FROM pack
        """,
    }
