"""Tests for round-5 corpus operators: duplicated-span dedup, corpus LM
scoring, vocabulary building, fuzzy decontamination, and KG triple quality
(predicate canonicalization + constraint validation)."""

import math

import pytest
from pyspark.sql import functions as F

from trustfuse_spark.operators.curation import contamination_overlap
from trustfuse_spark.operators.dedup import duplicated_spans
from trustfuse_spark.operators.kg import canonicalize_predicates, validate_triples
from trustfuse_spark.operators.lm import bigram_lm_score, vocab_topk


def _brute_dup_coverage(texts: dict[int, str], k: int, min_docs: int):
    """Reference implementation: per-doc union of duplicated k-gram spans."""
    toks = {i: t.lower().split() for i, t in texts.items()}
    gram_docs: dict[tuple, set] = {}
    for i, ts in toks.items():
        for s in range(len(ts) - k + 1):
            gram_docs.setdefault(tuple(ts[s : s + k]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    out = {}
    for i, ts in toks.items():
        covered = set()
        for s in range(len(ts) - k + 1):
            if tuple(ts[s : s + k]) in dup:
                covered.update(range(s, s + k))
        out[i] = (len(ts), len(covered))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "once upon a time the quick brown fox ran far away",
        2: "completely unrelated words with zero duplication here today",
        3: "the quick brown fox jumps over the moon tonight friends",
        # overlapping duplicated windows inside one doc
        4: "a b c d e a b c d e a b c d e",
        5: "x y a b c d e z w a b c d e q",
        6: "tiny",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    return texts, df


def test_duplicated_spans_matches_bruteforce(spark, corpus):
    texts, df = corpus
    for k in (3, 5):
        ref = _brute_dup_coverage(texts, k, 2)
        got = {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
            for r in duplicated_spans(df, k=k, hash_grams=False).collect()
        }
        assert got == ref, f"k={k}"


def test_duplicated_spans_hash_matches_string_keys(spark, corpus):
    _, df = corpus
    a = sorted(duplicated_spans(df, k=4, hash_grams=True).collect())
    b = sorted(duplicated_spans(df, k=4, hash_grams=False).collect())
    assert a == b


def test_duplicated_spans_min_docs(spark, corpus):
    texts, df = corpus
    ref = _brute_dup_coverage(texts, 3, 3)
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicated_spans(df, k=3, min_docs=3, hash_grams=False).collect()
    }
    assert got == ref


def test_bigram_lm_score_matches_manual(spark):
    texts = {
        0: "a b a b c",
        1: "a b c a",
        2: "c c a b",
        3: "solo",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    alpha = 0.5
    # manual reference
    c2: dict[tuple, int] = {}
    c1: dict[str, int] = {}
    vocab = set()
    for t in texts.values():
        ts = t.split()
        vocab.update(ts)
        for i in range(len(ts) - 1):
            c2[(ts[i], ts[i + 1])] = c2.get((ts[i], ts[i + 1]), 0) + 1
            c1[ts[i]] = c1.get(ts[i], 0) + 1
    V = len(vocab)
    expected = {}
    for did, t in texts.items():
        ts = t.split()
        lps = [
            math.log((c2[(ts[i], ts[i + 1])] + alpha) / (c1[ts[i]] + alpha * V))
            for i in range(len(ts) - 1)
        ]
        expected[did] = (len(lps), sum(lps) / len(lps) if lps else None)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_lm_score(df, alpha=alpha).collect()
    }
    assert set(got) == set(expected)
    for did in expected:
        assert got[did][0] == expected[did][0]
        if expected[did][1] is None:
            assert got[did][1] is None
        else:
            assert got[did][1] == pytest.approx(expected[did][1], abs=1e-6)


def test_vocab_topk_rank_and_coverage(spark):
    df = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a d b")], "doc_id long, text string"
    )
    rows = vocab_topk(df, top_n=3).orderBy("rank").collect()
    # counts: b=4, a=3, c=1, d=1 -> top3 = b, a, c (tie c<d alphabetical)
    assert [(r["token"], r["cnt"], r["rank"]) for r in rows] == [
        ("b", 4, 1),
        ("a", 3, 2),
        ("c", 1, 3),
    ]
    assert rows[0]["coverage"] == pytest.approx(4 / 9, abs=1e-6)
    assert rows[2]["coverage"] == pytest.approx(8 / 9, abs=1e-6)


def test_perplexity_buckets_rank_and_threshold_paths(spark):
    from trustfuse_spark.operators.lm import perplexity_buckets

    # 9 scorable docs (>=2 tokens) + 1 unscorable
    rows = [(i, " ".join(f"w{(i * j) % 7}" for j in range(2 + i % 5))) for i in range(9)]
    rows.append((9, "solo"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = perplexity_buckets(df, n_buckets=3).orderBy("doc_id").collect()
    scored = [r for r in exact if r["n_bigrams"] > 0]
    unscored = [r for r in exact if r["n_bigrams"] == 0]
    assert len(scored) == 9 and len(unscored) == 1
    assert unscored[0]["rank"] is None and unscored[0]["bucket"] is None
    # equal-count tiers: 3 docs per bucket, ranks are a permutation of 1..9
    from collections import Counter

    assert Counter(r["bucket"] for r in scored) == {0: 3, 1: 3, 2: 3}
    assert sorted(r["rank"] for r in scored) == list(range(1, 10))
    # rank order follows (avg_logprob desc, doc_id asc)
    by_rank = sorted(scored, key=lambda r: r["rank"])
    keys = [(-r["avg_logprob"], r["doc_id"]) for r in by_rank]
    assert keys == sorted(keys)
    # bucket = floor(3*(rank-1)/9)
    for r in scored:
        assert r["bucket"] == (3 * (r["rank"] - 1)) // 9

    # threshold path reproduces the exact tiers when cut at the rank
    # boundaries (midpoints between bucket-edge scores)
    s = sorted((r["avg_logprob"] for r in by_rank), reverse=True)
    ts = [(s[2] + s[3]) / 2, (s[5] + s[6]) / 2]
    thr = perplexity_buckets(df, thresholds=ts).orderBy("doc_id").collect()
    assert [r["bucket"] for r in thr] == [r["bucket"] for r in exact]
    assert all(r["rank"] is None for r in thr)  # map-side path has no rank


def test_contamination_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),   # grams(3): abc bcd cde def -> 2 hits / 4
            (1, "a b c"),          # 1 gram, 1 hit -> 1.0
            (2, "z z z z"),        # 1 DISTINCT gram, no hits
            (3, "xy"),             # no grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c",), ("c d e",)], "gram string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_overlap"], r["overlap_frac"], r["fuzzy_contaminated"])
        for r in contamination_overlap(docs, bench, n=3, threshold=0.5).collect()
    }
    assert got[0] == (4, 2, 0.5, True)
    assert got[1] == (1, 1, 1.0, True)
    assert got[2] == (1, 0, 0.0, False)
    assert got[3] == (0, 0, 0.0, False)


def test_contamination_overlap_counts_distinct_grams_once(spark):
    d = spark.createDataFrame([(0, "a b a b a b")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b",), ("b a",)], "gram string")
    row = contamination_overlap(d, bench, n=2).first()
    # distinct grams = {a b, b a}; both hit -> 2/2, not occurrence-weighted
    assert (row["n_grams"], row["n_overlap"], row["overlap_frac"]) == (2, 2, 1.0)


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("Q1", "P_qty", "1,234.000000", 0),
        ("Q1", "P_ent0", "Q2", 0),
        ("Q2", "P_ent0", "Q999", 0),   # dangling: Q999 never a subject
        ("Q2", "P_qty", "not-a-number", 1),
        ("Q3", "P_str", "hello", 1),
        ("Q3", "P_str", "", 1),        # null-ish object
        ("Q3", "P_ent1", None, 0),     # NULL object: v_null, not dangling
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string, bucket_id int")


def test_canonicalize_predicates(spark, triples):
    aliases = spark.createDataFrame(
        [("P_ent0", "related_to"), ("P_qty", "quantity")], "alias string, canonical string"
    )
    out = canonicalize_predicates(triples, aliases)
    got = {(r["subj"], r["pred"], r["obj"]): r["pred_canon"] for r in out.collect()}
    assert got[("Q1", "P_ent0", "Q2")] == "related_to"
    assert got[("Q1", "P_qty", "1,234.000000")] == "quantity"
    assert got[("Q3", "P_str", "hello")] == "P_str"  # unmapped keeps surface


def test_validate_triples_flags(spark, triples):
    aliases = spark.createDataFrame(
        [("P_ent0", "related_to"), ("P_ent1", "related_to"), ("P_qty", "quantity")],
        "alias string, canonical string",
    )
    canon = canonicalize_predicates(triples, aliases)
    out = validate_triples(
        canon, numeric_preds=["quantity"], ref_preds=["related_to"]
    )
    got = {
        (r["subj"], r["pred"], str(r["obj"])): (
            r["v_null"], r["v_numeric"], r["v_dangling"], r["n_violations"]
        )
        for r in out.collect()
    }
    assert got[("Q1", "P_qty", "1,234.000000")] == (0, 0, 0, 0)  # comma-number parses
    assert got[("Q1", "P_ent0", "Q2")] == (0, 0, 0, 0)           # Q2 is a subject
    assert got[("Q2", "P_ent0", "Q999")] == (0, 0, 1, 1)         # dangling
    assert got[("Q2", "P_qty", "not-a-number")] == (0, 1, 0, 1)  # typing
    assert got[("Q3", "P_str", "")] == (1, 0, 0, 1)              # empty obj
    assert got[("Q3", "P_ent1", "None")] == (1, 0, 0, 1)         # NULL: null-flag only
    assert out.count() == 7


def test_functional_violations(spark, triples):
    """related_to declared functional: Q9's two distinct objects flag both
    rows; single-object groups pass; duplicate (not distinct) objects do
    NOT flag; non-functional predicates carry the -1 sentinel."""
    from trustfuse_spark.operators.kg import functional_violations

    extra = spark.createDataFrame(
        [("Q1", "P_ent0", "Q3", 0),     # Q1 now has objs {Q2, Q3} -> violation
         ("Q2", "P_ent0", "Q999", 1)],  # duplicate object: still 1 distinct
        "subj string, pred string, obj string, bucket_id int",
    )
    aliases = spark.createDataFrame(
        [("P_ent0", "related_to"), ("P_qty", "quantity")],
        "alias string, canonical string",
    )
    canon = canonicalize_predicates(triples.unionByName(extra), aliases)
    out = functional_violations(canon, ["related_to"])
    got = {
        (r["subj"], r["pred"], str(r["obj"])): (r["n_objects"], r["v_functional"])
        for r in out.collect()
    }
    assert got[("Q1", "P_ent0", "Q2")] == (2, 1)
    assert got[("Q1", "P_ent0", "Q3")] == (2, 1)
    assert got[("Q2", "P_ent0", "Q999")] == (1, 0)   # 2 rows, 1 distinct obj
    assert got[("Q1", "P_qty", "1,234.000000")] == (-1, 0)  # non-functional
    assert got[("Q3", "P_str", "hello")] == (-1, 0)


def _bpe_py(word_counts, n_merges):
    """Reference greedy BPE (Sennrich et al. 2016, alg. 1): sequential
    left-to-right merge fold per word, ties by (count desc, pair asc)."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + word_counts[w]
        counts = {p: n for p, n in counts.items() if n >= 2}
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], counts[best]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, {w: " ".join(s) for w, s in vocab.items()}


def test_train_bpe_matches_reference_fold(spark):
    """Distributed BPE == the sequential reference fold: merge rules (order,
    pairs, counts) and every word's final segmentation — including runs of
    the same symbol (greedy odd-offset pairing) and count ties (lexicographic
    pair pinning)."""
    from trustfuse_spark.operators.lm import train_bpe

    rows = [
        (1, "low lower lowest low low"),
        (2, "aaaa aaaa aa newer new"),
        (3, "low newer wider aaaa"),
        (4, "zz zz yy yy"),  # count tie between 'z z' and 'y y'
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wc = {}
    for _, t in rows:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    exp_merges, exp_vocab = _bpe_py(wc, 6)

    merges, vocab = train_bpe(docs, 6)
    assert merges == exp_merges
    got = {r["word"]: (r["cnt"], r["syms"]) for r in vocab.collect()}
    assert {w: s for w, (_, s) in got.items()} == exp_vocab
    assert {w: c for w, (c, _) in got.items()} == wc


def _encode_rank_order_py(word, merges):
    """Reference BPE encode: apply merges IN RANK ORDER, each greedily
    left-to-right — a different algorithm than the engine's GPT-2-style
    lowest-rank-present loop (they are equivalent for trained merge
    lists; the test exploits that as a cross-check)."""
    syms = list(word)
    for m in merges:
        a, b = m[0], m[1]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_rank_order_reference(spark):
    """Engine encode (min-rank loop, vocab-dim pandas UDF) == rank-order
    reference on words NOT seen in training — chained merges, same-symbol
    runs, and words with no applicable merge."""
    from trustfuse_spark.operators.lm import bpe_encode

    merges = [("l", "o"), ("lo", "w"), ("e", "r"), ("n", "er"), ("a", "a")]
    rows = [
        (1, "lowlow lower low"),
        (2, "ner nerer xyz"),
        (3, "aaaa aaa lowner"),
        (4, "q"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exp = {}
    for did, t in rows:
        ws = t.split()
        exp[did] = (
            len(ws),
            sum(len(_encode_rank_order_py(w, merges)) for w in ws),
        )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert got == exp


def test_bpe_encode_consistent_with_training_and_empty_docs(spark):
    """Encoding the training corpus with its own merges reproduces the
    training segmentation lengths (two independent code paths: Python
    min-rank loop vs the distributed regex merge fold); token-less docs
    get (0, 0)."""
    from trustfuse_spark.operators.lm import bpe_encode, train_bpe

    rows = [
        (1, "low lower lowest low low"),
        (2, "aaaa aaaa aa newer new"),
        (3, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = train_bpe(docs, 4)
    seg = {r["word"]: len(r["syms"].split(" ")) for r in vocab.collect()}
    exp = {}
    for did, t in rows:
        ws = t.split()
        exp[did] = (len(ws), sum(seg[w] for w in ws))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert got == exp
    assert got[3] == (0, 0)


def test_train_bpe_early_stop_and_single_chars(spark):
    from trustfuse_spark.operators.lm import train_bpe

    docs = spark.createDataFrame(
        [(1, "ab cd ef"), (2, "g h")], "doc_id long, text string"
    )
    # every pair occurs once -> no pair reaches count 2 -> zero merges
    merges, vocab = train_bpe(docs, 5)
    assert merges == []
    got = {r["word"]: r["syms"] for r in vocab.collect()}
    assert got == {"ab": "a b", "cd": "c d", "ef": "e f", "g": "g", "h": "h"}


def _bm25_py(docs, queries, k=10, k1=1.2, b=0.75):
    """Independent reference BM25: dict-based inverted index, full-corpus
    scoring loop — a different algorithm shape than the engine's pruned
    postings dataflow."""
    import math

    toks = {d: t.lower().split() for d, t in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    out = {}
    for qid, qt in queries:
        qterms = set(qt.lower().split())
        scores = {}
        nt = {}
        for d, t in toks.items():
            s, c = 0.0, 0
            for term in qterms:
                tf = t.count(term)
                if tf == 0:
                    continue
                idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
                dl = len(t)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
                c += 1
            if c:
                scores[d] = round(s, 6)
                nt[d] = c
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        out[qid] = [(d, s, r + 1, nt[d]) for r, (d, s) in enumerate(ranked)]
    return out


def test_bm25_topk_matches_reference(spark):
    """Engine BM25 (broadcast-pruned postings + window top-k) == a
    dict-based Python reference: scores, ranks, overlap counts, tie
    order on duplicate documents, and no-match queries emitting nothing."""
    from trustfuse_spark.operators.retrieval import bm25_topk

    docs = [
        (1, "spark shuffles data across the cluster"),
        (2, "the broadcast join avoids the shuffle"),
        (3, "data data data everywhere in the lake"),
        (4, "spark shuffles data across the cluster"),  # exact dup of 1
        (5, "window functions rank rows per partition"),
        (6, "short"),
    ]
    queries = [
        (10, "spark shuffle data"),
        (11, "broadcast join"),
        (12, "zebra quux"),  # matches nothing
    ]
    exp = _bm25_py(docs, queries, k=3)
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "qid long, qtext string")
    got = {}
    for r in bm25_topk(ddf, qdf, k=3).collect():
        got.setdefault(r["qid"], []).append(
            (r["doc_id"], r["score"], r["rank"], r["n_terms"])
        )
    for qid in got:
        got[qid].sort(key=lambda x: x[2])
    assert got.get(12, []) == []
    for qid in (10, 11):
        assert [x[0] for x in got[qid]] == [x[0] for x in exp[qid]]
        assert [x[2] for x in got[qid]] == [x[2] for x in exp[qid]]
        assert [x[3] for x in got[qid]] == [x[3] for x in exp[qid]]
        for g, e in zip(got[qid], exp[qid]):
            assert abs(g[1] - e[1]) < 1e-9


# ------------------------------------------------------------ count-min


def _cms_py(token_counts, width, depth):
    M = (1 << 31) - 1

    def poly31(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % M
        return h

    cells = {}
    for t, c in token_counts.items():
        h = poly31(t)
        for r in range(depth):
            col = ((h + r + 1) * 2654435761 % M) % width
            cells[(r, col)] = cells.get((r, col), 0) + c
    return cells


def test_count_min_sketch_matches_python_replay(spark):
    """Portable-path sketch cells == the Python replay; estimates obey
    est >= exact for every token and equal exact when the addressed cells
    are collision-free."""
    from trustfuse_spark.operators.sketch import cms_estimate, count_min_sketch

    docs = spark.createDataFrame(
        [(1, "apple banana apple cherry"),
         (2, "banana cherry cherry date"),
         (3, "apple elderberry fig date date")],
        "doc_id long, text string",
    )
    counts = {"apple": 3, "banana": 2, "cherry": 3, "date": 3,
              "elderberry": 1, "fig": 1}
    W, D = 16, 3
    sk = count_min_sketch(docs, width=W, depth=D, portable_hash=True)
    got = {(r["row"], r["col"]): r["cnt"] for r in sk.collect()}
    assert got == _cms_py(counts, W, D)

    q = spark.createDataFrame([(t,) for t in counts], "token string")
    est = {
        r["token"]: r["estimate"]
        for r in cms_estimate(sk, q, width=W, depth=D, portable_hash=True).collect()
    }
    cells = _cms_py(counts, W, D)
    M = (1 << 31) - 1
    for t, c in counts.items():
        assert est[t] >= c, t
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % M
        want = min(
            cells[(r, ((h + r + 1) * 2654435761 % M) % W)] for r in range(D)
        )
        assert est[t] == want, t


def test_count_min_sketch_mergeable_and_xxhash(spark):
    """Cell-wise sum of two shard sketches == the sketch of the union
    (the mergeability contract); the xxhash64 corpus path is deterministic
    across repartitionings."""
    from pyspark.sql import functions as F

    from trustfuse_spark.operators.sketch import count_min_sketch

    a = spark.createDataFrame([(1, "x y z x")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "y z w")], "doc_id long, text string")
    both = a.unionByName(b)
    W, D = 32, 4
    merged = (
        count_min_sketch(a, width=W, depth=D)
        .unionByName(count_min_sketch(b, width=W, depth=D))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, count_min_sketch(both, width=W, depth=D).collect())
    )
    r1 = sorted(map(tuple, count_min_sketch(both, width=W, depth=D).collect()))
    r2 = sorted(
        map(tuple, count_min_sketch(both.repartition(5), width=W, depth=D).collect())
    )
    assert r1 == r2


# ------------------------------------------------------------ embedding moments


def test_embedding_moments_match_numpy(spark):
    """Long-form moments == numpy mean / population covariance (float64
    widening before any product), independent of partitioning."""
    import numpy as np

    from trustfuse_spark.operators.embeddings import embedding_moments

    rng = np.random.RandomState(3)
    V = rng.randn(40, 5).astype(np.float32)
    rows = [(i, [float(x) for x in V[i]]) for i in range(40)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(7)
    got = {(r["i"], r["j"]): r["value"] for r in embedding_moments(embs).collect()}
    V64 = V.astype(np.float64)
    mu = V64.mean(axis=0)
    C = (V64.T @ V64) / 40 - np.outer(mu, mu)
    assert got[(-1, -1)] == 40.0
    for i in range(5):
        assert got[(i, -1)] == pytest.approx(mu[i], abs=1e-12)
        for j in range(5):
            assert got[(i, j)] == pytest.approx(C[i, j], abs=1e-12)
    assert len(got) == 1 + 5 + 25
