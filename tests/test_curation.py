"""Tests for the training-data curation operators (operators/curation.py)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from trustfuse_spark.operators.curation import (
    decontaminate,
    dup_ngram_ratio,
    mixture_plan,
    pack_sequences,
    pii_redact,
    pii_scan,
    portable_uniform,
    stratified_sample,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en", "web"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "web"),
        (2, "one two three one two three one two three one", "en", "books"),
        (3, "short doc", "en", "books"),
        (4, "der schnelle braune fuchs springt heute wieder sehr hoch", "de", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    out = df.select(word_ngrams(F.col("text"), 3).alias("g")).collect()
    assert out[0]["g"] == ["a b c", "b c d"]
    assert out[1]["g"] == []


def test_decontaminate_finds_planted_gram(spark, docs):
    bench = spark.createDataFrame(
        [("gamma delta epsilon",), ("not in any doc",)], "gram string"
    )
    out = decontaminate(docs, bench, n=3).select("doc_id", "n_contaminated").collect()
    got = {r["doc_id"]: r["n_contaminated"] for r in out}
    assert got[1] == 1
    assert got[0] == got[2] == got[3] == got[4] == 0


def test_decontaminate_counts_repeats(spark):
    d = spark.createDataFrame([(0, "a b a b a b")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b",)], "gram string")
    row = decontaminate(d, bench, n=2).first()
    assert row["n_contaminated"] == 3 and row["contaminated"]


def test_pii_scan_and_redact(spark):
    text = (
        "mail bob.smith+x@corp.example.org or root@10.1.2.3 node 192.168.0.1 "
        "call +44 123 4567 8901 end"
    )
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = pii_scan(d).withColumn("red", pii_redact(F.col("text"))).first()
    assert row["n_email"] == 1  # root@10.1.2.3 is NOT an email: TLD must be alpha
    assert row["n_ipv4"] == 2
    assert row["n_phone"] == 1
    red = row["red"]
    assert "<EMAIL>" in red and "<IPV4>" in red and "<PHONE>" in red
    assert "bob.smith" not in red and "192.168.0.1" not in red and "4567" not in red


def test_ccnum_luhn_scan_and_redact(spark):
    from trustfuse_spark.operators.curation import ccnum_redact

    text = (
        "pay 4111 1111 1111 1111 now, ref 4111-1111-1111-1112 kept, "
        "also 5500-0000-0000-0004 and plain 1234 5678 9012 3456 stays"
    )
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = (
        pii_scan(d)
        .withColumn("red", ccnum_redact(F.col("text")))
        .first()
    )
    # Luhn-valid: 4111111111111111 and 5500000000000004; the -1112 variant
    # and 1234... fail the mod-10 check and must survive verbatim.
    assert row["n_ccnum"] == 2
    red = row["red"]
    assert red.count("<CCNUM>") == 2
    assert "4111-1111-1111-1112" in red and "1234 5678 9012 3456" in red
    assert "4111 1111 1111 1111" not in red and "5500-0000-0000-0004" not in red


def test_ccnum_luhn_amex_length(spark):
    # 15-digit Amex test number 378282246310005 (Luhn-valid) in 4-4-4-3 groups.
    from trustfuse_spark.operators.curation import ccnum_redact

    d = spark.createDataFrame(
        [(0, "amex 3782 8224 6310 005 end"), (1, "bad 3782 8224 6310 006 end")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ccnum"], r["red"])
        for r in pii_scan(d).withColumn("red", ccnum_redact(F.col("text"))).collect()
    }
    assert got[0][0] == 1 and "<CCNUM>" in got[0][1]
    assert got[1][0] == 0 and "6310 006" in got[1][1]


def test_dup_ngram_ratio(spark):
    d = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b c d e f"), (2, "x")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["r"]
        for r in d.select("doc_id", dup_ngram_ratio(F.col("text"), 2).alias("r")).collect()
    }
    # grams of doc 0: [a b, b a, a b, b a, a b] -> 2 distinct / 5
    assert got[0] == pytest.approx(0.6)
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_portable_uniform_matches_manual(spark):
    df = spark.createDataFrame([("k1",), ("k2",)], "k string")
    out = {
        r["k"]: r["u"]
        for r in df.select("k", portable_uniform(F.col("k"), salt=3).alias("u")).collect()
    }

    def manual(s, salt):
        m = (1 << 31) - 1
        h = 7 + salt
        for ch in s:
            h = (h * 31 + ord(ch)) % m
        for _ in range(2):
            h = ((h + 1) * 2654435761) % m
        return h / float(m)

    assert out["k1"] == pytest.approx(manual("k1", 3), abs=1e-12)
    assert out["k2"] == pytest.approx(manual("k2", 3), abs=1e-12)


def test_stratified_sample_deterministic_and_rated(spark):
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    rates = {"en": 0.5, "de": 0.1}
    a = stratified_sample(df, "lang", rates, salt=1)
    b = stratified_sample(df, "lang", rates, salt=1)
    ra = sorted(r["doc_id"] for r in a.collect())
    assert ra == sorted(r["doc_id"] for r in b.collect())  # retry-stable
    counts = {r["lang"]: r["c"] for r in a.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert abs(counts["en"] / (n / 2) - 0.5) < 0.05
    assert abs(counts.get("de", 0) / (n / 2) - 0.1) < 0.05
    # unlisted stratum drops entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert stratified_sample(df2, "lang", rates, salt=1).count() == 0


def _greedy(toks, cap):
    out, bin_id, fill, first = [], 0, 0, True
    for t in toks:
        if not first and fill + t > cap:
            bin_id, fill = bin_id + 1, 0
        out.append((bin_id, fill))
        fill += t
        first = False
    return out


def test_pack_sequences_matches_reference_greedy(spark):
    rows = [(f"s{i % 3}", i, 10 + (i * 37) % 90) for i in range(60)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    got = {
        (r["source"], r["doc_id"]): (r["bin_id"], r["bin_offset"])
        for r in pack_sequences(df, capacity=128).collect()
    }
    assert len(got) == 60
    for g in ("s0", "s1", "s2"):
        toks = [(i, t) for (s, i, t) in rows if s == g]
        toks.sort()
        expect = _greedy([t for _, t in toks], 128)
        for (i, _), e in zip(toks, expect):
            assert got[(g, i)] == e
    # invariant: no bin exceeds capacity (all docs here are < capacity)
    fills = {}
    for (g, i), (b, o) in got.items():
        t = dict((x[1], x[2]) for x in rows if x[0] == g)[i]
        fills[(g, b)] = max(fills.get((g, b), 0), o + t)
    assert all(v <= 128 for v in fills.values())


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    df = spark.createDataFrame(
        [("s", 0, 50), ("s", 1, 300), ("s", 2, 50)],
        "source string, doc_id long, n_tokens long",
    )
    got = {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in pack_sequences(df, 128).collect()}
    assert got[0] == (0, 0)
    assert got[1] == (1, 0)  # overflows alone
    assert got[2] == (2, 0)


def test_mixture_plan(spark):
    df = spark.createDataFrame(
        [("web", 0, 800), ("web", 1, 200), ("books", 2, 100), ("code", 3, 400)],
        "source string, doc_id long, n_tokens long",
    )
    plan = {
        r["source"]: r
        for r in mixture_plan(df, {"web": 0.5, "books": 0.5}, token_budget=2000).collect()
    }
    assert plan["web"]["domain_tokens"] == 1000
    assert plan["web"]["target_tokens"] == 1000
    assert plan["web"]["rate"] == pytest.approx(1.0)
    assert plan["web"]["epochs"] == 1
    assert plan["books"]["target_tokens"] == 1000
    assert plan["books"]["rate"] == pytest.approx(10.0)
    assert plan["books"]["epochs"] == 10
    assert plan["code"]["target_tokens"] == 0 and plan["code"]["epochs"] == 0


def test_curate_corpus_end_to_end(spark):
    from trustfuse_spark.plans.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and then the dog sleeps"
    rows = [
        (0, good + " one", "web"),
        (1, good + " one", "web"),       # exact dup of 0 -> dropped
        (2, good + " two", "web"),
        (3, "??!! ,,,, ;;;; !!!! ????", "web"),  # punct junk -> quality drop
        (4, good + " three with secret eval gram here today", "books"),
        (5, good + " four", "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([("secret eval gram",)], "gram string")
    out = curate_corpus(
        docs, benchmark=bench, bench_ngram=3, stratum_col="source",
        shard_col="source", min_quality=0.25, capacity=32, default_rate=1.0,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {0, 2, 5}  # 1 dup, 3 junk, 4 contaminated
    # packing invariant within each shard
    for r in got.values():
        assert r["bin_offset"] + r["n_tokens"] <= 32 or r["bin_offset"] == 0


def test_curate_corpus_drop_ids_and_sampling(spark):
    from trustfuse_spark.plans.curate import curate_corpus

    base = "the quick brown fox jumps over the lazy dog and then it sleeps v"
    docs = spark.createDataFrame(
        [(i, f"{base}{i}", "web") for i in range(400)],
        "doc_id long, text string, source string",
    )
    drop = spark.createDataFrame([(7,), (9,)], "doc_id long")
    out = curate_corpus(
        docs, drop_ids=drop, rates={"web": 0.5}, salt=2, capacity=64,
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert 7 not in ids and 9 not in ids
    assert 100 < len(ids) < 300  # ~50% kept
    # string ids work too (schema is inferred)
    sdocs = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text", "source",
    )
    sout = curate_corpus(sdocs, capacity=64)
    assert sout.count() == 400
    assert dict(sout.dtypes)["doc_id"] == "string"


def test_neardup_drop_ids_transitive(spark):
    from trustfuse_spark.operators.dedup import neardup_drop_ids

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = sorted(r["drop_id"] for r in neardup_drop_ids(pairs).collect())
    assert got == [2, 3, 11]  # keep 1 and 10 (cluster minima)


def test_neardup_drop_ids_end_to_end_with_curate(spark):
    from trustfuse_spark.operators.dedup import near_duplicates_minhash, neardup_drop_ids
    from trustfuse_spark.plans.curate import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "on the warm mat and the bird sings a long morning song today"
    )
    rows = [(i, f"{base} variant {i}", "web") for i in range(6)]
    # 3 near-clones of doc 0 (one token differs) + distinct docs
    rows += [(10 + j, base + f" variant 0 extra{j}", "web") for j in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = near_duplicates_minhash(docs, "doc_id", "text", threshold=0.7)
    drop = neardup_drop_ids(pairs)
    dropped = {r["drop_id"] for r in drop.collect()}
    assert dropped and min({0, 10, 11} - dropped) == 0  # representative kept
    out_ids = {r["doc_id"] for r in curate_corpus(docs, drop_ids=drop, capacity=256).collect()}
    assert dropped.isdisjoint(out_ids)
    assert 0 in out_ids


def test_apply_mixture_epochs(spark):
    from trustfuse_spark.operators.curation import apply_mixture

    docs = spark.createDataFrame(
        [(i, "web" if i < 100 else "books", "t") for i in range(120)],
        "doc_id long, source string, text string",
    )
    plan = spark.createDataFrame(
        [("web", 2.4), ("books", 1.0), ("code", 5.0)], "source string, rate double"
    )
    out = apply_mixture(docs, plan, salt=3)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(per_doc) == 120  # every doc kept at least once (rates >= 1)
    web_counts = [per_doc[i] for i in range(100)]
    assert set(web_counts) <= {2, 3}
    frac3 = sum(1 for c in web_counts if c == 3) / 100
    assert 0.2 < frac3 < 0.6  # ~40% get the extra epoch
    assert all(per_doc[i] == 1 for i in range(100, 120))
    # epochs are 1..n per doc
    eps = sorted(
        r["epoch"] for r in out.filter(F.col("doc_id") == 0).collect()
    )
    assert eps == list(range(1, per_doc[0] + 1))
    # deterministic
    again = {
        r["doc_id"]: r["n"]
        for r in apply_mixture(docs, plan, salt=3)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert again == per_doc


def test_apply_mixture_sub_one_rate_drops(spark):
    from trustfuse_spark.operators.curation import apply_mixture

    docs = spark.createDataFrame(
        [(i, "web", "t") for i in range(1000)], "doc_id long, source string, text string"
    )
    plan = spark.createDataFrame([("web", 0.3)], "source string, rate double")
    n = apply_mixture(docs, plan, salt=1).count()
    assert 200 < n < 400  # ~30% keep, zero epochs for the rest


def test_pack_sequences_property_fold_matches_naive(spark):
    """Property: the distributed packing equals the naive sequential replay
    for random token sizes, including oversized docs and capacity ties."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    runs = []

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=90), min_size=1, max_size=30),
        st.integers(min_value=20, max_value=80),
    )
    def check(toks, cap):
        runs.append((toks, cap))

    check()
    # one Spark job over all hypothesis-drawn cases (one group per case)
    rows = [
        (f"c{ci}", i, t) for ci, (toks, _) in enumerate(runs) for i, t in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    by_cap = {}
    for ci, (toks, cap) in enumerate(runs):
        by_cap.setdefault(cap, []).append(ci)
    for cap, cis in by_cap.items():
        sub = df.filter(F.col("source").isin([f"c{ci}" for ci in cis]))
        got = {
            (r["source"], r["doc_id"]): (r["bin_id"], r["bin_offset"])
            for r in pack_sequences(sub, capacity=cap).collect()
        }
        for ci in cis:
            toks = runs[ci][0]
            for i, e in enumerate(_greedy(toks, cap)):
                assert got[(f"c{ci}", i)] == e, (ci, cap, toks)


def test_portable_uniform_empty_key_matches_seed(spark):
    """'' must fold to the bare seed + mix rounds (sequence(1,0) would
    otherwise descend and consume two phantom ascii('')=0 codes)."""
    df = spark.createDataFrame([("",), ("x",)], "k string")
    out = {r["k"]: r["u"] for r in df.select(
        "k", portable_uniform(F.col("k"), salt=5).alias("u")).collect()}
    m = (1 << 31) - 1
    h = 12
    for _ in range(2):
        h = ((h + 1) * 2654435761) % m
    assert out[""] == pytest.approx(h / m, abs=1e-12)


def test_pack_sequences_deterministic_under_order_ties(spark):
    """Duplicate order keys must not make packing shuffle-order-dependent:
    (ord, tok) is the effective sort key."""
    rows = [("s", 5, 30), ("s", 5, 90), ("s", 5, 60), ("s", 9, 10)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    # capacity 128, tok order (30, 60, 90, 10): 30+60 fit bin 0, 90 opens
    # bin 1 (fill 90), 10 joins it at offset 90
    expect = {(5, 30): (0, 0), (5, 60): (0, 30), (5, 90): (1, 0),
              (9, 10): (1, 90)}
    for _ in range(3):
        got = {
            (r["doc_id"], r["n_tokens"]): (r["bin_id"], r["bin_offset"])
            for r in pack_sequences(df.repartition(4), capacity=128).collect()
        }
        assert got == expect


def test_curate_corpus_null_text_dropped(spark):
    from trustfuse_spark.plans.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and then the dog sleeps"
    docs = spark.createDataFrame(
        [(0, good, "web"), (1, None, "web")],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(docs, capacity=64).collect()
    assert {r["doc_id"] for r in out} == {0}
    assert all(r["n_tokens"] > 0 for r in out)


def test_pack_sequences_chunk_size_invariance(spark):
    """The chunked transfer-function path (VERDICT r4 #3: no executor holds
    a whole shard) must be bit-identical to the single-pass greedy for ANY
    max_chunk — including max_chunk=1 (every doc its own chunk), ties on
    (order, tokens), zero-token docs, and oversized docs."""
    import random

    random.seed(11)
    rows = []
    for grp, n in (("a", 400), ("b", 37), ("c", 1)):
        for i in range(n):
            tok = random.choice([0, 1, 3, 17, 40, 63, 64, 65, 100, 200])
            rows.append((grp, i // 3, tok))  # i//3 -> duplicate order keys
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")

    def run(mc):
        return sorted(
            tuple(r) for r in pack_sequences(df, capacity=64, max_chunk=mc).collect()
        )

    base = run(10**9)  # single-pass path
    assert len(base) == len(rows)
    for mc in (1, 7, 64, 400):
        assert run(mc) == base, f"chunked output diverged at max_chunk={mc}"


def test_pack_sequences_chunked_carry_cases(spark):
    """Targeted carries across chunk boundaries: a bin straddling the
    boundary, an oversized doc AS the carry (fill > capacity sentinel), and
    a chunk with no break at all (carry passes straight through)."""
    cases = {
        # straddle: 60+60 fills bin0 to 120; carry 120 into next chunk
        "straddle": [60, 60, 7, 100],
        # oversized carry: doc 300 overflows; next chunk must break at once
        "oversized": [50, 300, 5, 5],
        # pass-through: all zeros then tiny — no break anywhere
        "zeros": [0, 0, 0, 1, 0],
    }
    rows = [(g, i, t) for g, toks in cases.items() for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    for mc in (1, 2, 3):
        got = {
            (r["source"], r["doc_id"]): (r["bin_id"], r["bin_offset"])
            for r in pack_sequences(df, capacity=128, max_chunk=mc).collect()
        }
        for g, toks in cases.items():
            for i, e in enumerate(_greedy(toks, 128)):
                assert got[(g, i)] == e, (g, mc)


def test_mixture_plan_zero_token_domain(spark):
    """A domain whose docs carry 0 tokens gets rate 0 / epochs 0 (never
    NULL/inf), and apply_mixture emits nothing for it instead of silently
    dropping via a NULL rate (ADVICE r4)."""
    from trustfuse_spark.operators.curation import apply_mixture, mixture_plan

    df = spark.createDataFrame(
        [("empty", "d0", 0), ("empty", "d1", 0), ("full", "d2", 100)],
        "source string, doc_id string, n_tokens long",
    )
    plan = mixture_plan(df, {"empty": 0.5, "full": 0.5}, token_budget=1000)
    got = {r["source"]: (r["rate"], r["epochs"]) for r in plan.collect()}
    assert got["empty"] == (0.0, 0)
    assert got["full"] == (5.0, 5)
    out = apply_mixture(df, plan.select("source", "rate"))
    assert sorted(r["doc_id"] for r in out.collect()) == ["d2"] * 5


def test_line_dedup_keep_first(spark):
    """CCNet cross-doc line dedup: the corpus-wide first occurrence of each
    normalized line survives, every later occurrence is dropped, and lines
    whose normalized form is empty are never deduplicated."""
    from trustfuse_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha line\nSubscribe to our newsletter!\nbody one"),
            # same boilerplate, different case/punct -> same normalized key
            (2, "subscribe to our NEWSLETTER\nbody two\n1234"),
            # within-doc duplicate collapses too; '1234' normalizes to ''
            (3, "body three\nbody three\n1234"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(docs).collect()}

    assert rows[1]["n_lines"] == 3 and rows[1]["n_kept_lines"] == 3
    assert rows[1]["clean_text"] == (
        "unique alpha line\nSubscribe to our newsletter!\nbody one"
    )
    # doc 2 loses the boilerplate (doc 1 owns the key) but keeps '1234'
    assert rows[2]["n_kept_lines"] == 2
    assert rows[2]["clean_text"] == "body two\n1234"
    # doc 3 keeps the FIRST 'body three' (idx order within the doc) + '1234'
    assert rows[3]["n_kept_lines"] == 2
    assert rows[3]["clean_text"] == "body three\n1234"


def test_line_dedup_all_duplicates(spark):
    from trustfuse_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [(1, "same line\nsame line"), (2, "same line")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert rows[1]["n_kept_lines"] == 1 and rows[1]["clean_text"] == "same line"
    assert rows[2]["n_kept_lines"] == 0 and rows[2]["clean_text"] == ""


def test_normalize_line(spark):
    from trustfuse_spark.operators.curation import normalize_line

    df = spark.createDataFrame(
        [("  All   Rights,  Reserved!! 2024 ",), ("1234!?",)], "s string"
    )
    got = [r[0] for r in df.select(normalize_line(F.col("s"))).collect()]
    assert got == ["all rights reserved", ""]


def _poly31_py(s: str) -> int:
    h, m = 0, (1 << 31) - 1
    for c in s:
        h = (h * 31 + ord(c)) % m
    return h


def test_hashed_linear_score_portable(spark):
    """fastText-style hashed linear scorer: logit == bias + mean of
    w[poly31(token) % D] (hand-replicated fold), NULL logit / keep=0 on
    empty docs."""
    import math

    from trustfuse_spark.operators.curation import hashed_linear_score

    w = [0.5, -1.0, 2.0, -0.25]
    docs = spark.createDataFrame(
        [(1, "Alpha beta beta gamma"), (2, ""), (3, "zz top")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in hashed_linear_score(
            docs, w, bias=0.1, portable_hash=True
        ).collect()
    }

    def expected(text):
        toks = [t for t in text.lower().split() if t]
        return 0.1 + sum(w[_poly31_py(t) % 4] for t in toks) / len(toks)

    for doc_id, text in [(1, "Alpha beta beta gamma"), (3, "zz top")]:
        e = expected(text)
        assert math.isclose(rows[doc_id]["q_logit"], e, rel_tol=1e-12)
        assert rows[doc_id]["q_keep"] == (1 if e >= 0 else 0)
    assert rows[2]["q_logit"] is None and rows[2]["q_keep"] == 0


def test_hashed_linear_score_xxhash_deterministic(spark):
    from trustfuse_spark.operators.curation import hashed_linear_score

    docs = spark.createDataFrame(
        [(i, f"token{i} shared words here") for i in range(20)],
        "doc_id long, text string",
    )
    w = [((j * 37) % 11 - 5) / 10.0 for j in range(64)]
    a = sorted(hashed_linear_score(docs, w).collect())
    b = sorted(hashed_linear_score(docs, w).collect())
    assert a == b
    assert all(r["q_keep"] in (0, 1) for r in a)


def _uniform_py(s: str, salt: int) -> float:
    m = (1 << 31) - 1
    h = 7 + salt
    for ch in s:
        h = (h * 31 + ord(ch)) % m
    for _ in range(2):
        h = ((h + 1) * 2654435761) % m
    return h / float(m)


def test_dsir_select_portable_exact(spark):
    """DSIR importance weights + Gumbel-top-k replicated end-to-end in
    Python: bucket models (unigram+bigram poly31 hashing, add-lam
    smoothing), per-doc log weights, the deterministic Gumbel key, and the
    exact selected set."""
    import math

    from trustfuse_spark.operators.curation import dsir_select

    texts = {
        1: ("en", "the quick brown fox jumps over the lazy dog"),
        2: ("en", "the cat sat on the mat with the hat"),
        3: ("de", "der hund lief schnell durch den park heute"),
        4: ("de", "die katze schlief auf dem warmen dach"),
        5: ("en", "a dog and a fox ran through the field"),
        6: ("zh", "spark rows shuffle join filter group agg window"),
        7: ("en", ""),
    }
    docs = spark.createDataFrame(
        [(i, lang, t) for i, (lang, t) in texts.items()],
        "doc_id long, lang string, text string",
    )
    B, LAM, K, SALT = 16, 0.5, 3, 5

    def feats(t):
        toks = [x for x in t.lower().split() if x]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    cr, ct = [0] * B, [0] * B
    for i, (lang, t) in texts.items():
        for f in feats(t):
            b = _poly31_py(f) % B
            cr[b] += 1
            ct[b] += 1 if lang == "en" else 0
    tr, tt = sum(cr), sum(ct)
    lr = [
        math.log((ct[b] + LAM) / (tt + LAM * B))
        - math.log((cr[b] + LAM) / (tr + LAM * B))
        for b in range(B)
    ]
    exp = {}
    for i, (lang, t) in texts.items():
        fs = feats(t)
        logw = sum(lr[_poly31_py(f) % B] for f in fs)
        u = max(_uniform_py(str(i), SALT), 1e-9)
        g = logw - math.log(-math.log(u))
        exp[i] = (len(fs), logw, g)
    order = sorted(exp, key=lambda i: (-exp[i][2], i))
    sel = set(order[:K])

    out = {
        r["doc_id"]: r
        for r in dsir_select(
            docs,
            F.col("lang") == "en",
            k=K,
            n_buckets=B,
            lam=LAM,
            salt=SALT,
            portable_hash=True,
        ).collect()
    }
    assert set(out) == set(texts)
    for i, (nf, logw, g) in exp.items():
        assert out[i]["n_feats"] == nf
        assert out[i]["log_weight"] == pytest.approx(round(logw, 6), abs=1e-6)
        assert out[i]["gumbel_key"] == pytest.approx(round(g, 6), abs=1e-6)
        assert out[i]["selected"] == (1 if i in sel else 0)
    assert out[7]["n_feats"] == 0 and out[7]["log_weight"] == 0.0
    assert sum(r["selected"] for r in out.values()) == K


def test_dsir_select_xxhash_deterministic_and_k(spark):
    """Corpus path (xxhash64 buckets + draw): reproducible across runs and
    repartitionings, exactly k selected, target slice enriched."""
    from trustfuse_spark.operators.curation import dsir_select

    rows = [
        (i, "tgt" if i % 3 == 0 else "raw",
         ("alpha beta gamma " if i % 3 == 0 else "delta epsilon zeta ") * 4
         + f"tail{i}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    kw = dict(k=15, n_buckets=32, salt=1)
    a = sorted(dsir_select(docs, F.col("dom") == "tgt", **kw).collect())
    b = sorted(
        dsir_select(docs.repartition(7), F.col("dom") == "tgt", **kw).collect()
    )
    assert a == b
    assert sum(r["selected"] for r in a) == 15
    picked = {r["doc_id"] for r in a if r["selected"] == 1}
    # softmax-weighted sampling should enrich the target-like docs
    assert sum(1 for i in picked if i % 3 == 0) >= 10


def test_domain_cap_exact_vs_naive(spark):
    """domain_cap == the naive global window rank for every (domain, row),
    regardless of n_salts or input partitioning; under-cap domains pass
    through complete with cap_rank=-1."""
    from pyspark.sql import Window

    from trustfuse_spark.operators.curation import domain_cap

    rows = []
    # hot domain: 40 rows with heavy score ties; cold domains: under cap
    for i in range(40):
        rows.append((i, "hot", i % 5))
    for i in range(40, 48):
        rows.append((i, "cold1", i))
    for i in range(48, 51):
        rows.append((i, "cold2", 7))
    docs = spark.createDataFrame(rows, "doc_id long, dom string, score long")

    w = Window.partitionBy("dom").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    naive = {
        (r["dom"], r["doc_id"]): r["rn"]
        for r in docs.withColumn("rn", F.row_number().over(w)).collect()
        if r["rn"] <= 10
    }
    for n_salts in (1, 4, 64):
        out = domain_cap(
            docs.repartition(5), "dom", cap=10, order_col="score", n_salts=n_salts
        ).collect()
        got = {(r["dom"], r["doc_id"]): r["cap_rank"] for r in out}
        hot = {k: v for k, v in got.items() if k[0] == "hot"}
        assert hot == {k: v for k, v in naive.items() if k[0] == "hot"}
        # cold domains: every row kept, sentinel rank
        assert sorted(k[1] for k in got if k[0] == "cold1") == list(range(40, 48))
        assert sorted(k[1] for k in got if k[0] == "cold2") == [48, 49, 50]
        assert all(v == -1 for k, v in got.items() if k[0] != "hot")


def test_domain_cap_ascending_and_boundary(spark):
    """descending=False ranks smallest-first; a domain with exactly cap rows
    is NOT capped (strict > cap) and passes through."""
    from trustfuse_spark.operators.curation import domain_cap

    rows = [(i, "a", i) for i in range(6)] + [(10 + i, "b", i) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, dom string, score long")
    out = domain_cap(
        docs, "dom", cap=3, order_col="score", descending=False, n_salts=2
    ).collect()
    a = sorted((r["doc_id"], r["cap_rank"]) for r in out if r["dom"] == "a")
    assert a == [(0, 1), (1, 2), (2, 3)]  # smallest scores win
    b = sorted((r["doc_id"], r["cap_rank"]) for r in out if r["dom"] == "b")
    assert b == [(10, -1), (11, -1), (12, -1)]  # exactly cap -> untouched


def test_temperature_shares_closed_form(spark):
    """Shares match the Python p^(1/T) replay; T=1 reproduces natural
    proportions; larger T flattens toward uniform; budget columns mirror
    mixture_plan's arithmetic; zero-token domains get share 0."""
    import math

    from trustfuse_spark.operators.curation import temperature_shares

    rows = [("a", 800), ("a", 0), ("b", 150), ("c", 50), ("z", 0)]
    docs = spark.createDataFrame(rows, "source string, n_tokens long")
    toks = {"a": 800, "b": 150, "c": 50, "z": 0}
    total = sum(toks.values())

    for T in (1.0, 2.0, 8.0):
        got = {
            r["source"]: r
            for r in temperature_shares(docs, T, token_budget=1000).collect()
        }
        pt = {d: (n / total) ** (1.0 / T) for d, n in toks.items()}
        z = sum(pt.values())
        for d, n in toks.items():
            want = pt[d] / z
            assert got[d]["domain_tokens"] == n
            assert got[d]["share"] == pytest.approx(round(want, 6), abs=2e-6)
            tgt = round(want * 1000)
            assert got[d]["target_tokens"] == tgt
            if n > 0:
                assert got[d]["rate"] == pytest.approx(round(tgt / n, 6), abs=2e-6)
                assert got[d]["epochs"] == math.ceil(tgt / n)
            else:
                assert got[d]["rate"] == 0.0 and got[d]["epochs"] == 0
    # monotone flattening: the dominant domain's share shrinks as T grows
    s1 = {r["source"]: r["share"]
          for r in temperature_shares(docs, 1.0).collect()}
    s8 = {r["source"]: r["share"]
          for r in temperature_shares(docs, 8.0).collect()}
    assert s8["a"] < s1["a"] and s8["c"] > s1["c"]
    with pytest.raises(ValueError):
        temperature_shares(docs, 0.0)
