"""Temporal bucketization — the reference's session-window semantics as
window expressions, batch over a table (the reference buckets a finished
revision history, SURVEY §2.9).

Reference rules (generate_buckets.py:171-270, SURVEY §2.9):
  * a claim opens/extends its entity's current bucket;
  * the bucket closes when the same source re-claims a property it already
    claimed in the open bucket AND the gap since its previous claim > alpha
    (10 days), or the entity was inactive > delta (2 years);
  * a source re-modifying its own value within alpha replaces (upserts) it;
  * leftovers flush as the entity's final bucket.

Expression mapping: per-claim close flags from lag() windows, then a running
sum per entity = bucket index. The flush-leftovers rule needs no separate
path. (The reference's exact closure also consults "already claimed in the
open bucket", which is self-referential state; the gap-based flag is the
standard sessionization equivalent — a claim stream where each source claims
a property at most once per alpha-window produces identical buckets.)

Also here: in-bucket upsert, cumulative bucket views, GT carry-forward,
reverse mapping, presence-interval auto-labeling (automatic_labeling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ALPHA_S = 864_000  # 10 days   (generate_buckets.py:71-74)
DELTA_S = 63_072_000  # 2 years
GAMMA_S = 2_592_000  # 30 days  (automatic_labeling.py:467-497)
BETA_S = 2_592_000


def sessionize(
    claims: DataFrame,
    alpha_s: int = ALPHA_S,
    delta_s: int = DELTA_S,
    ts_col: str = "ts",
    presplit: bool = False,
) -> DataFrame:
    """Assign bucket_id per entity from claim timestamps.

    Input: long claims with (source, entity, attr, ts). Output adds
    bucket_id (0-based, per entity, chronological).

    Skew: the running-sum windows are per-entity and order-dependent, so a
    hot entity serializes into one task (salting would break the claim
    order). presplit=True applies the delta-boundary range pre-split —
    EXACT by the session-close rule, since a gap > delta always closes a
    bucket: entities are cut into independent time segments at those gaps
    (detected at delta-chunk granularity with one small per-entity chunk
    window, never a per-claim entity-wide sort), sessionized per
    (entity, segment) in parallel, and the per-segment bucket counts are
    offset back to the entity-wide numbering. A hot entity with NO
    delta-gaps still serializes — that residue is inherent to the
    semantics.
    """
    if presplit:
        if alpha_s > delta_s:
            # the presplit equivalence argument treats any cross-segment gap
            # (guaranteed only > delta) as an alpha close, which diverges
            # from the unsplit rule when alpha > delta (ADVICE r3)
            raise ValueError(
                f"presplit=True requires alpha_s <= delta_s (got alpha_s="
                f"{alpha_s} > delta_s={delta_s}); use presplit=False"
            )
        return _sessionize_presplit(claims, alpha_s, delta_s, ts_col)
    ts = F.unix_timestamp(F.col(ts_col))
    w_ent = Window.partitionBy("entity").orderBy(ts_col, "source", "attr")
    w_spa = Window.partitionBy("entity", "source", "attr").orderBy(ts_col)
    ent_gap = ts - F.lag(ts).over(w_ent)
    spa_gap = ts - F.lag(ts).over(w_spa)
    close = (
        F.when(ent_gap > delta_s, 1)
        .when(spa_gap > alpha_s, 1)
        .otherwise(0)
    )
    flagged = claims.withColumn("__close", close)
    bucket = (
        F.sum("__close")
        .over(
            Window.partitionBy("entity")
            .orderBy(ts_col, "source", "attr")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("int")
    )
    return flagged.withColumn("bucket_id", bucket).drop("__close")


def _sessionize_presplit(
    claims: DataFrame, alpha_s: int, delta_s: int, ts_col: str
) -> DataFrame:
    """Delta-boundary pre-split sessionization — provably identical bucket
    assignment to the single-window path (pytest-gated on a planted hot
    entity):

    * two consecutive claims > delta apart land in different delta-width
      time chunks whose inter-chunk gap equals the claim gap, so segment
      boundaries detected on the per-(entity, chunk) min/max table (tiny:
      <= time-range/delta rows per entity) are EXACTLY the delta-gap
      closes;
    * within a segment no delta gap exists, so only alpha closes remain:
      the (entity, source, attr) lag window is re-partitioned by segment,
      and a pair's first claim in a LATER segment closes by construction
      (its gap to the pair's previous claim spans a delta boundary,
      delta >> alpha) — recovered via the pair's first segment;
    * per-segment running sums are offset by the cumulative bucket count of
      the entity's earlier segments (a window over the per-segment count
      table, again tiny).
    """
    ts = F.unix_timestamp(F.col(ts_col))
    c = claims.withColumn("__ts", ts).withColumn(
        "__chunk", F.floor(F.col("__ts") / delta_s)
    )
    chunk_stats = c.groupBy("entity", "__chunk").agg(
        F.min("__ts").alias("__cmin"), F.max("__ts").alias("__cmax")
    )
    w_chunks = Window.partitionBy("entity").orderBy("__chunk")
    seg_break = F.when(
        F.col("__cmin") - F.lag("__cmax").over(w_chunks) > delta_s, 1
    ).otherwise(0)
    segments = chunk_stats.select(
        "entity",
        "__chunk",
        F.sum(seg_break)
        .over(w_chunks.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__segment"),
    )
    c = c.join(segments, ["entity", "__chunk"])
    pair_first_seg = c.groupBy("entity", "source", "attr").agg(
        F.min("__segment").alias("__pair_min_seg")
    )
    c = c.join(pair_first_seg, ["entity", "source", "attr"])

    w_ent = Window.partitionBy("entity", "__segment").orderBy(ts_col, "source", "attr")
    w_spa = Window.partitionBy("entity", "__segment", "source", "attr").orderBy(ts_col)
    ent_gap = F.col("__ts") - F.lag("__ts").over(w_ent)
    spa_gap = F.col("__ts") - F.lag("__ts").over(w_spa)
    close = (
        # segment-first claim: its delta-close is absorbed entirely by the
        # segment offset (offset = cumulative bucket COUNT of earlier
        # segments already includes the +1 the transition contributes)
        F.when(ent_gap.isNull(), 0)
        .when(ent_gap > delta_s, 1)  # cannot fire within a segment; kept for parity
        .when(spa_gap > alpha_s, 1)
        # pair seen in an earlier segment: its gap spans a delta boundary
        .when(spa_gap.isNull() & (F.col("__segment") > F.col("__pair_min_seg")), 1)
        .otherwise(0)
    )
    flagged = c.withColumn("__close", close)
    local = (
        F.sum("__close")
        .over(w_ent.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int")
    )
    flagged = flagged.withColumn("__local", local)
    seg_counts = flagged.groupBy("entity", "__segment").agg(
        (F.max("__local") + 1).alias("__n_buckets")
    )
    w_segs = Window.partitionBy("entity").orderBy("__segment")
    offsets = seg_counts.select(
        "entity",
        "__segment",
        F.coalesce(
            F.sum("__n_buckets").over(
                w_segs.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__offset"),
    )
    out = flagged.join(offsets, ["entity", "__segment"]).withColumn(
        "bucket_id", (F.col("__offset") + F.col("__local")).cast("int")
    )
    return out.drop(
        "__ts", "__chunk", "__segment", "__pair_min_seg", "__close", "__local", "__offset"
    )


def upsert_in_bucket(claims: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Same source re-modifying its value within a bucket keeps only the
    latest claim (generate_buckets.py:198-203)."""
    w = Window.partitionBy("bucket_id", "entity", "attr", "source").orderBy(
        F.col(ts_col).desc()
    )
    return (
        claims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cumulative_bucket(claims: DataFrame, upto: int) -> DataFrame:
    """Dynamic-dataset semantics: bucket i = union of buckets <= i
    (dataset.py:362-379) — a filter, never a physical copy."""
    return claims.filter(F.col("bucket_id") <= upto)


def gt_carry_forward(gt: DataFrame) -> DataFrame:
    """Missing GT cells inherit the previous bucket's value per (entity,
    attr) (complete_gt, dataset.py:36-51) — last non-null over the bucket
    order."""
    w = (
        Window.partitionBy("entity", "attr")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gt.withColumn(
        "gt_values", F.last("gt_values", ignorenulls=True).over(w)
    )


def reverse_map(
    truth: DataFrame, seed_claims: DataFrame, order_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Map fused (preprocessed) values back to their original seed rendering
    (reverse_mapping, dataset.py:191-256): find a claim row whose
    preprocessed value equals the fused value, take its seed value — first
    match wins, pinned by order_cols (the reference pins by positional index,
    .iloc[0], dataset.py:239/247).

    seed_claims must carry (bucket_id, entity, attr, value_str [preprocessed
    key], seed_value [original rendering]) plus order_cols.
    """
    w = Window.partitionBy("bucket_id", "entity", "attr", "value_str").orderBy(
        *[F.col(c) for c in order_cols]
    )
    first_seed = (
        seed_claims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("bucket_id", "entity", "attr", "value_str", "seed_value")
    )
    return truth.join(
        first_seed, ["bucket_id", "entity", "attr", "value_str"], "left"
    ).withColumn("formatted_value", F.coalesce("seed_value", "value_str"))


def revision_diff(revisions: DataFrame) -> DataFrame:
    """Pairwise revision diff -> claim events (SURVEY §2.1 S7; reference
    compare_revisions, generate_conflicting_dataset.py:290-441).

    Input: one row per (entity, rev_no, user, ts, prop, values:array).
    Output: added-value events (entity, prop, value, user, ts) where a value
    appears in a revision but not the previous one — lag() window +
    array_except, fully distributed.
    """
    w = Window.partitionBy("entity", "prop").orderBy("rev_no")
    prev_vals = F.lag("values").over(w)
    added = F.array_except(
        F.col("values"), F.coalesce(prev_vals, F.array().cast("array<string>"))
    )
    return (
        revisions.withColumn("added", added)
        .select(
            "entity", "prop", "user", "ts", "rev_no",
            F.explode("added").alias("value"),
        )
    )


def first_seen_values(
    claims: DataFrame, cols: tuple[str, ...] = ("entity", "value_str")
) -> DataFrame:
    """(value, first_bucket) — the scalable form of the reference's
    cumulative known-entity set (compute_known_entities, dataset.py:84-95:
    is_known[b] = union of every cell value of buckets < b, all columns but
    Source raveled together).

    Membership test: value is known AT bucket b  ⟺  first_bucket < b.
    The reference materializes a growing python set per bucket; min-per-value
    carries identical information in one aggregation and never re-stores a
    value per bucket — the representation that survives 10^12 rows.
    """
    # one scan: explode the raveled columns instead of a per-column union
    raveled = claims.select(
        F.explode(F.array(*[F.col(c).cast("string") for c in cols])).alias("value"),
        "bucket_id",
    )
    return (
        raveled.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.min("bucket_id").alias("first_bucket"))
    )


def mark_known_entities(claims: DataFrame) -> DataFrame:
    """claims + is_known: entity (or any prior cell value, per the
    reference's ravel) appeared in a bucket strictly before this one."""
    fs = first_seen_values(claims).withColumnRenamed("value", "entity")
    return claims.join(fs, "entity", "left").select(
        *claims.columns,
        (F.col("bucket_id") > F.coalesce(F.col("first_bucket"), F.lit(2**31))).alias(
            "is_known"
        ),
    )


def seen_values_first_bucket(claims: DataFrame) -> DataFrame:
    """(entity, attr, value_str, first_bucket) — cumulative seen-values per
    property (automatic_labeling.py:356-370: seen_values[qid][i] carries
    every (value, value_id) of buckets <= i). Membership: value in
    seen_values at bucket b  ⟺  first_bucket <= b."""
    return claims.groupBy("entity", "attr", "value_str").agg(
        F.min("bucket_id").alias("first_bucket")
    )


def cumulative_seen_values(claims: DataFrame, upto: int) -> DataFrame:
    """Array-form parity view for bounded scales: per (entity, attr) the
    sorted set of values seen in buckets <= upto. The first_bucket form
    above is the scale path — this materializes the arrays."""
    return (
        seen_values_first_bucket(claims)
        .filter(F.col("first_bucket") <= upto)
        .groupBy("entity", "attr")
        .agg(F.sort_array(F.collect_set("value_str")).alias("values_seen"))
    )


def presence_intervals(
    events: DataFrame,
    gamma_s: int = GAMMA_S,
    beta_s: int = BETA_S,
    accept_ratio: float = 0.75,
    ts_col: str = "ts",
    ip_veto: bool = True,
) -> DataFrame:
    """Auto-labeling presence intervals (automatic_labeling.py:80-165,
    486-510): per (entity, attr, value) merge observation timestamps into
    intervals closing on gaps > gamma, drop intervals spanning < beta, then
    accept values whose total presence / max presence over the attr >
    accept_ratio AND that are not IP-majority-sourced. The veto counts
    OBSERVATIONS, not distinct sources: the reference appends the source
    once per claim observation (automatic_labeling.py:419-421 builds
    sources[qid][prop][val] as a per-claim list) and compares counter_ip to
    that list's length (automatic_labeling.py:486-497, counter_ip >
    len(sources)/2) — so one IP source claiming a value many times IS an
    IP majority there, and here. The veto applies when the input carries a
    ``source`` column and ip_veto is True; inputs without source lineage
    fall back to the pure ratio rule.

    Pure gaps-and-islands windows — no UDF.
    """
    ts = F.unix_timestamp(F.col(ts_col))
    keys = ["entity", "attr", "value_str"]
    w = Window.partitionBy(*keys).orderBy(ts_col)
    gap_break = (
        (ts - F.lag(ts).over(w) > gamma_s).cast("int")
    )
    island = F.sum(F.coalesce(gap_break, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    intervals = (
        events.withColumn("__island", island)
        .groupBy(*keys, "__island")
        .agg(
            F.min(ts).alias("start_s"),
            F.max(ts).alias("end_s"),
        )
        .filter(F.col("end_s") - F.col("start_s") >= beta_s)
    )
    presence = intervals.groupBy(*keys).agg(
        F.sum(F.col("end_s") - F.col("start_s")).alias("presence_s")
    )
    w_attr = Window.partitionBy("entity", "attr")
    accepted = F.col("presence_s") / F.max("presence_s").over(w_attr) > accept_ratio
    if ip_veto and "source" in events.columns:
        from trustfuse_spark.functions.preprocess import is_ip_or_mac

        src_stats = events.groupBy(*keys).agg(
            F.count("source").alias("__n_src"),
            F.sum(is_ip_or_mac(F.col("source")).cast("int")).alias("__n_ip"),
        )
        presence = presence.join(src_stats, keys)
        accepted = accepted & ~(F.col("__n_ip") * 2 > F.col("__n_src"))
        return presence.withColumn("accepted", accepted).drop("__n_src", "__n_ip")
    return presence.withColumn("accepted", accepted)
