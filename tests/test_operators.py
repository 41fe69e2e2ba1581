"""Tests for bucketize / dedup / cc / linking / textstats / ann / multimodal."""

import random

import pyspark.sql.functions as F
import pytest

from trustfuse_spark.datagen import gen_docs
from trustfuse_spark.functions.similarity import jaro_py
from trustfuse_spark.operators.ann import brute_force_topk, ivf_topk
from trustfuse_spark.operators.bucketize import (
    cumulative_bucket,
    gt_carry_forward,
    presence_intervals,
    sessionize,
    upsert_in_bucket,
)
from trustfuse_spark.operators import cc, linking
from trustfuse_spark.operators.cc import connected_components
from trustfuse_spark.operators.dedup import (
    exact_duplicates,
    near_duplicates_minhash,
    simhash_near_dups,
)
from trustfuse_spark.operators.linking import candidate_links, canonicalize
from trustfuse_spark.operators.multimodal import extract_features
from trustfuse_spark.operators.textstats import lang_id, quality_features, token_count_bpe
from trustfuse_spark.plans.pipeline import docs_to_claims


def test_sessionize_gap_rule(spark):
    rows = [
        # entity A: src1 re-claims attr p after > alpha -> new bucket
        ("s1", "A", "p", "2020-01-01 00:00:00"),
        ("s1", "A", "p", "2020-01-20 00:00:00"),  # gap 19d > 10d alpha
        ("s2", "A", "q", "2020-01-20 01:00:00"),
        # entity B: single burst -> one bucket
        ("s1", "B", "p", "2020-01-01 00:00:00"),
        ("s2", "B", "p", "2020-01-02 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["source", "entity", "attr", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r["entity"], r["source"], str(r["ts"])): r["bucket_id"]
        for r in sessionize(df).collect()
    }
    assert out[("A", "s1", "2020-01-01 00:00:00")] == 0
    assert out[("A", "s1", "2020-01-20 00:00:00")] == 1
    assert out[("A", "s2", "2020-01-20 01:00:00")] == 1
    assert out[("B", "s1", "2020-01-01 00:00:00")] == 0
    assert out[("B", "s2", "2020-01-02 00:00:00")] == 0


def test_sessionize_presplit_matches_single_window(spark):
    """The delta-boundary pre-split (hot-entity skew relief) must assign
    byte-identical bucket ids to the single-window path — planted hot entity
    with 3 delta-gapped eras, alpha re-claims inside eras, a (source, attr)
    pair that spans eras (exercising the pair-first-segment close rule),
    equal-timestamp claims, plus normal entities."""
    from datetime import datetime, timedelta

    t0 = datetime(2005, 1, 1)
    rows = []
    # hot entity: 3 eras separated by > delta (2y); inside each era, claims
    # every 3 days for 60 days from 4 sources, with s0 re-claiming attr p at
    # day 0 and day 20 (> alpha) and day 25 (< alpha from day 20)
    for era in range(3):
        era0 = t0 + timedelta(days=era * 900)  # 900d > 2y delta
        for d in range(0, 60, 3):
            src = f"s{d % 4}"
            rows.append((src, "hot", f"a{d % 5}", era0 + timedelta(days=d)))
        rows.append(("s0", "hot", "p", era0))
        rows.append(("s0", "hot", "p", era0 + timedelta(days=20)))
        rows.append(("s0", "hot", "p", era0 + timedelta(days=25)))
        # pair (sx, cross) appears once per era -> its era-2/3 claims must
        # close via the pair-first-segment rule, not a within-segment lag
        rows.append(("sx", "hot", "cross", era0 + timedelta(days=1)))
    # equal timestamps from two sources
    rows.append(("s1", "hot", "tie", t0 + timedelta(days=2)))
    rows.append(("s2", "hot", "tie", t0 + timedelta(days=2)))
    # normal entities, no delta gaps
    for e in range(5):
        for d in range(0, 30, 7):
            rows.append((f"s{d % 3}", f"e{e}", "q", t0 + timedelta(days=d)))
    df = spark.createDataFrame(rows, ["source", "entity", "attr", "ts"])

    def key(r):
        return (r["entity"], r["source"], r["attr"], str(r["ts"]))

    plain = {key(r): r["bucket_id"] for r in sessionize(df).collect()}
    split = {key(r): r["bucket_id"] for r in sessionize(df, presplit=True).collect()}
    assert split == plain
    # sanity: the hot entity really produced multiple delta-era buckets
    assert max(b for (e, _, _, _), b in plain.items() if e == "hot") >= 2


def test_upsert_and_cumulative(spark):
    rows = [
        (0, "s1", "A", "p", "v1", "2020-01-01 00:00:00"),
        (0, "s1", "A", "p", "v2", "2020-01-02 00:00:00"),  # upsert wins
        (1, "s1", "A", "p", "v3", "2020-02-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, ["bucket_id", "source", "entity", "attr", "value_str", "ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    up = upsert_in_bucket(df)
    assert up.count() == 2
    assert {r["value_str"] for r in up.filter("bucket_id = 0").collect()} == {"v2"}
    assert cumulative_bucket(df, 0).count() == 2
    assert cumulative_bucket(df, 1).count() == 3


def test_gt_carry_forward(spark):
    rows = [
        (0, "A", "p", ["x"]),
        (1, "A", "p", None),
        (2, "A", "p", ["y"]),
    ]
    df = spark.createDataFrame(rows, "bucket_id int, entity string, attr string, gt_values array<string>")
    out = {r["bucket_id"]: r["gt_values"] for r in gt_carry_forward(df).collect()}
    assert out[0] == ["x"] and out[1] == ["x"] and out[2] == ["y"]


def test_presence_intervals(spark):
    day = 86400
    rows = []
    # value v1 present days 0..120 (observations every 10 days)
    for d in range(0, 121, 10):
        rows.append(("A", "p", "v1", d * day))
    # value v2 present days 0..20 only (short -> low presence)
    for d in range(0, 21, 10):
        rows.append(("A", "p", "v2", d * day))
    df = spark.createDataFrame(rows, ["entity", "attr", "value_str", "sec"]).withColumn(
        "ts", F.to_timestamp(F.from_unixtime(F.col("sec") + 1577836800))
    )
    out = {r["value_str"]: r["accepted"] for r in presence_intervals(df).collect()}
    assert out["v1"] is True
    assert out.get("v2", False) is False or "v2" not in out


# LOCAL_MAX_EDGES / LOCAL_MAX_SURFACES that force each path
PATHS = {"local": 10**9, "distributed": -1}


def _components(monkeypatch, path, edges):
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", PATHS[path])
    return {r["node"]: r["component"] for r in connected_components(edges).collect()}


@pytest.mark.parametrize("path", PATHS)
def test_connected_components(spark, monkeypatch, path):
    # duplicate and reversed edges, and 8 with only a self-loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8), (7, 6), (1, 2), (2, 1), (9, 9), (9, 10)],
        ["src", "dst"],
    )
    comp = _components(monkeypatch, path, edges)
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 9: 9, 10: 9}
    assert _components(monkeypatch, path, edges.limit(0)) == {}


@pytest.mark.parametrize("path", PATHS)
def test_connected_components_string_order(spark, monkeypatch, path):
    """Component = min node in Spark's UTF-8 byte order, which is code-point
    order: 'f' < 'é' and 'Z' < 'a' (a locale would say the opposite), and
    U+FF61 < U+10000 (UTF-16 code units would say the opposite)."""
    edges = spark.createDataFrame(
        [("é", "f"), ("a", "Z"), ("\U00010000", "\uff61"), ("ä", "b"), ("b", "é")],
        "src string, dst string",
    )
    assert _components(monkeypatch, path, edges) == {
        "é": "b", "f": "b", "ä": "b", "b": "b",
        "a": "Z", "Z": "Z",
        "\U00010000": "\uff61", "\uff61": "\uff61",
    }


def test_connected_components_paths_agree(spark, monkeypatch):
    """A random sparse graph (chains, trees and cycles) and a long path fed
    in reverse give the same components on both paths."""
    rng = random.Random(5)
    rows = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    rows += [(i + 1, i) for i in range(500, 560)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    local = _components(monkeypatch, "local", edges)
    assert local == _components(monkeypatch, "distributed", edges)
    assert {local[i] for i in range(500, 561)} == {500}


def test_dedup_exact_and_near(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different content about spark engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ex = exact_duplicates(df, "doc_id", "text")
    reps = {r["rep_id"]: r["n_copies"] for r in ex.collect()}
    assert reps[1] == 2
    near = near_duplicates_minhash(df, "doc_id", "text", threshold=0.7)
    got_pairs = {(r["id_a"], r["id_b"]) for r in near.collect()}
    assert (1, 2) in got_pairs and (1, 3) in got_pairs
    assert not any(4 in p for p in got_pairs)
    sh = simhash_near_dups(df, "doc_id", "text", max_hamming=6)
    sh_pairs = {(r["id_a"], r["id_b"]) for r in sh.collect()}
    assert (1, 2) in sh_pairs
    assert not any(4 in p for p in sh_pairs)


def test_simhash_near_dups_portable_31bit(spark):
    """The 31-bit polynomial-hash variant (the driver gate's path) must
    agree with a brute-force hamming filter over the same simhashes —
    exercising the ceil(bits/4)=8-bit chunk blocking, which must lose no
    pair within the pigeonhole guarantee (hamming <= 3 of 4 chunks)."""
    from trustfuse_spark.operators.dedup import polynomial_token_hash, simhash

    rows = [(i, f"tok{i % 3} alpha beta gamma delta common tail {i % 2}") for i in range(24)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(
            df, "doc_id", "text", max_hamming=3, bits=31,
            token_hash=polynomial_token_hash,
        ).collect()
    }
    sh = {
        r["id"]: r["simhash"]
        for r in simhash(
            df, "doc_id", "text", bits=31, token_hash=polynomial_token_hash
        ).collect()
    }
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sh[a] ^ sh[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want and want  # non-trivial: planted templates collide


def test_sessionize_presplit_rejects_alpha_above_delta(spark):
    import pytest as _pytest

    from datetime import datetime

    df = spark.createDataFrame(
        [("s0", "e0", "a", datetime(2005, 1, 1))], ["source", "entity", "attr", "ts"]
    )
    with _pytest.raises(ValueError, match="alpha_s"):
        sessionize(df, alpha_s=100, delta_s=10, presplit=True)


def test_minhash_prefilters_lossless(spark):
    """The verify-stage prefilters (signature-agreement 3-sigma cut +
    size-ratio bound + candidates-only shingling) must not drop any pair
    the unfiltered LSH-then-exact-Jaccard path would emit: compare against
    lsh_candidate_pairs -> exact_jaccard with no prefilter on a seeded
    corpus of template near-dups + random chaff."""
    import random

    from trustfuse_spark.operators.dedup import (
        exact_jaccard,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "spark", "fusion", "claim",
             "entity", "truth", "graph", "bucket", "window", "shuffle"]
    rows = []
    doc_id = 0
    for t in range(20):  # 20 templates x 4 variants with small edits
        base = [rng.choice(words) for _ in range(30)]
        for v in range(4):
            text = list(base)
            for _ in range(v):  # v in-place word substitutions
                text[rng.randrange(len(text))] = rng.choice(words)
            rows.append((doc_id, " ".join(text)))
            doc_id += 1
    for _ in range(40):  # random chaff
        rows.append((doc_id, " ".join(rng.choice(words) for _ in range(30))))
        doc_id += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in near_duplicates_minhash(df, "doc_id", "text", threshold=0.8).collect()
    }
    sh_all = shingles(df, "doc_id", "text", 3)
    cand = lsh_candidate_pairs(minhash_signatures(sh_all, 32), 4, 8)
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in exact_jaccard(cand, sh_all)
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert got == want
    assert len(want) > 0  # the corpus must actually exercise the path


def _links_and_canon(monkeypatch, path, mentions, min_jaro):
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", PATHS[path])
    monkeypatch.setattr(linking, "LOCAL_MAX_SURFACES", PATHS[path])
    links = candidate_links(mentions, min_jaro=min_jaro)
    canon = canonicalize(mentions, links)
    return (
        sorted(tuple(r) for r in links.collect()),
        {r["surface"]: r["canonical_id"] for r in canon.collect()},
    )


@pytest.mark.parametrize("path", PATHS)
def test_linking_canonicalize(spark, monkeypatch, path):
    mentions = spark.createDataFrame(
        [("Barack Obama",), ("Barack Obamaa",), ("B. Obama",), ("Angela Merkel",)],
        ["surface"],
    )
    links, out = _links_and_canon(monkeypatch, path, mentions, 0.85)
    assert links == [("Barack Obama", "Barack Obamaa", jaro_py("Barack Obama", "Barack Obamaa"))]
    assert out["Barack Obama"] == out["Barack Obamaa"] == "Barack Obama"
    assert out["Angela Merkel"] == "Angela Merkel"
    assert out["B. Obama"] == "B. Obama"
    none = mentions.limit(0)
    assert _links_and_canon(monkeypatch, path, none, 0.85) == ([], {})


def test_linking_paths_agree_on_noisy_surfaces(spark, monkeypatch):
    """datagen's typo'd mention surfaces: the driver pass and the distributed
    LSH + Jaro UDF give the same links with the same scores, and the same
    surface -> canonical map."""
    docs = gen_docs(spark, n_entities=40, n_sources=5, n_revs=2, entity_noise=True)
    mentions = docs_to_claims(docs).select(F.col("entity").alias("surface")).distinct()
    mentions = mentions.localCheckpoint(eager=True)
    local = _links_and_canon(monkeypatch, "local", mentions, 0.9)
    assert local == _links_and_canon(monkeypatch, "distributed", mentions, 0.9)
    links, canon = local
    assert len(links) > 20  # the typo'd surfaces do link
    assert len(set(canon.values())) < len(canon)


def test_textstats(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house of cards"),
            (2, "der Hund und die Katze ist ein Tier"),
            (3, "!!! ??? ###"),
        ],
        ["doc_id", "text"],
    )
    scored = quality_features(df).select(
        "doc_id",
        "n_tokens",
        "quality_score",
        lang_id(F.col("text")).alias("lang_pred"),
        token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )
    out = {r["doc_id"]: r for r in scored.collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "und"
    assert out[1]["quality_score"] > out[3]["quality_score"]
    assert out[1]["n_tokens"] == 11
    # "!!! ??? ###" is 9 single-symbol BPE-ish tokens, 3 whitespace ones
    assert out[3]["n_tokens_bpe"] == 9 and out[3]["n_tokens"] == 3


def test_ann_brute_vs_ivf(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 8).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 3")
    c = df.filter("vec_id >= 3")
    bf = brute_force_topk(q, c, k=5)
    assert bf.groupBy("qid").count().collect()[0]["count"] == 5
    ivf = ivf_topk(q, c, k=5, ncells=4, nprobe=4)  # nprobe=ncells -> exact
    bf_set = {(r["qid"], r["cid"]) for r in bf.collect()}
    ivf_set = {(r["qid"], r["cid"]) for r in ivf.collect()}
    assert bf_set == ivf_set


def test_multimodal_plumbing(spark):
    """extract_features keeps one row per media ref, carries media_ref and
    media_type through, emits fixed-dim features deterministically, and
    refuses payloads it has no decoder for."""
    ppm = b"P6\n1 1\n255\n"
    rows = [
        (f"mref://{i}", "image", bytearray(ppm + bytes([10 * i, 20 * i, 30 * i])))
        for i in (1, 2, 3)
    ]
    media = spark.createDataFrame(rows, "media_ref string, media_type string, payload binary")
    feats = extract_features(media, dim=8)
    got = feats.collect()
    assert len(got) == 3 and all(len(r["feature"]) == 8 for r in got)
    assert {r["media_ref"] for r in got} == {f"mref://{i}" for i in (1, 2, 3)}
    assert all(r["media_type"] == "image" for r in got)
    # features zero-pad past the 7 decoded stats; a wider dim only adds padding
    assert all(r["feature"][7] == 0.0 for r in got)
    wide = {r["media_ref"]: r["feature"] for r in extract_features(media, dim=10).collect()}
    # deterministic across runs
    again = {r["media_ref"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    for r in got:
        assert again[r["media_ref"]] == r["feature"]
        assert wide[r["media_ref"]][:8] == r["feature"]

    # synthetic payloads carry no decodable magic -> the decoder refuses
    unknown = spark.createDataFrame(
        [("u1", "image", bytearray(b"payload:u1")), ("v1", "video", bytearray(ppm))],
        "media_ref string, media_type string, payload binary",
    )
    for ref in ("u1", "v1"):
        with pytest.raises(Exception, match="no dependency-free decoder"):
            extract_features(unknown.filter(F.col("media_ref") == ref)).collect()


def test_multimodal_real_decode_ppm_bmp(spark):
    """extract_features really decodes planted PPM (P6) and 24-bit BMP
    bytes: width/height/channel means come from the pixels, not a stub."""
    import struct

    # 2x2 PPM: red, green / blue, white -> each channel mean = 0.5
    ppm = b"P6\n# cmt\n2 2\n255\n" + bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )
    # 2x1 bottom-up BMP, 24bpp: left red, right blue (stored BGR + row pad)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 2835, 2835, 0, 0)
    bmp = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 8, 0, 0, 54)
        + dib
        + bytes([0, 0, 255, 255, 0, 0, 0, 0])
    )
    rows = [
        ("p1", "image", bytearray(ppm), 2, 2, 0),
        ("b1", "image", bytearray(bmp), 2, 1, 0),
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, payload binary, "
              "width int, height int, duration_ms int"
    )
    out = {r["media_ref"]: r for r in extract_features(media, dim=8).collect()}
    p = out["p1"]["feature"]
    assert p[0] == 2.0 and p[1] == 2.0 and p[2] == 3.0
    assert abs(p[3] - 0.5) < 1e-6 and abs(p[4] - 0.5) < 1e-6 and abs(p[5] - 0.5) < 1e-6
    b = out["b1"]["feature"]
    assert b[0] == 2.0 and b[1] == 1.0
    assert abs(b[3] - 0.5) < 1e-6 and abs(b[4] - 0.0) < 1e-6 and abs(b[5] - 0.5) < 1e-6
    assert out["p1"]["n_frames"] == 1 and out["b1"]["n_frames"] == 1


def test_graph_edges_degrees_ego(spark):
    """S10 graph surface: triples -> edges -> degrees; k-hop ego subgraph
    matches a hand-computed BFS (reference generate_subgraph.py:25-86)."""
    from trustfuse_spark.operators.graph import (
        ego_subgraph,
        node_degrees,
        triples_to_edges,
    )

    triples = spark.createDataFrame(
        [
            ("A", "p", "B"), ("A", "q", "C"), ("B", "p", "C"),
            ("C", "p", "D"), ("D", "p", "A"), ("X", "p", "Y"),
        ],
        ["subj", "pred", "obj"],
    )
    edges = triples_to_edges(triples)
    deg = {r["node"]: (r["out_deg"], r["in_deg"], r["degree"])
           for r in node_degrees(edges).collect()}
    assert deg["A"] == (2, 1, 3)
    assert deg["C"] == (1, 2, 3)
    assert deg["Y"] == (0, 1, 1)

    ego1 = {(r["src"], r["dst"]) for r in ego_subgraph(edges, "A", hops=1).collect()}
    assert ego1 == {("A", "B"), ("A", "C")}
    ego2 = ego_subgraph(edges, "A", hops=2).collect()
    assert {(r["src"], r["dst"]) for r in ego2} == {
        ("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")
    }
    hops = {(r["src"], r["dst"]): r["hop"] for r in ego2}
    assert hops[("B", "C")] == 2 and hops[("A", "C")] == 1
    # X->Y is disconnected from A's ego net at any hop count
    assert not any(r["src"] == "X" for r in ego_subgraph(edges, "A", hops=4).collect())


def test_checkpoint_rotator_precise_attribution(spark):
    """rotate() frees ONLY its own old checkpoint generations: an unrelated
    cache materialized between rotations must survive (the r2 global
    before/after diff would mis-attribute and free it), and a df derived
    from the newest checkpoint must stay evaluable after keep-window
    eviction."""
    from pyspark.sql import functions as F

    from trustfuse_spark.operators.fusion.base import (
        CheckpointRotator,
        persistent_rdd_ids,
    )

    rot = CheckpointRotator(keep=1)
    bystander = spark.range(500).withColumn("x", F.col("id") * 2).cache()
    g1 = rot.rotate(spark.range(100).withColumn("w", F.lit(1.0)))
    # bystander materializes BETWEEN rotations — a global diff would lump
    # its blocks into g2's generation and free them when g2 is evicted
    assert bystander.count() == 500
    n_persisted_with_cache = len(persistent_rdd_ids(spark))
    g2 = rot.rotate(g1.withColumn("w", F.col("w") + 1))  # evicts g1 (keep=1)
    g3 = rot.rotate(g2.withColumn("w", F.col("w") + 1))  # evicts g2
    assert g3.agg(F.sum("w")).collect()[0][0] == 300.0
    # the bystander cache is still live and still evaluable
    assert bystander.count() == 500
    assert len(persistent_rdd_ids(spark)) <= n_persisted_with_cache + 2
    bystander.unpersist()


def test_presence_ip_majority_veto(spark):
    """automatic_labeling.py:486-497: a value whose distinct sources are
    IP-majority is rejected even above the presence ratio."""
    day = 86400
    rows = []
    # v1: long presence, 3 sources of which 2 are IPs -> vetoed
    for i, d in enumerate(range(0, 121, 10)):
        src = ["10.0.0.1", "192.168.1.7", "alice"][i % 3]
        rows.append(("A", "p", "v1", src, d * day))
    # v2: long presence, named-majority -> accepted
    for i, d in enumerate(range(0, 121, 10)):
        src = ["bob", "carol", "10.0.0.9"][i % 3]
        rows.append(("A", "q", "v2", src, d * day))
    df = spark.createDataFrame(
        rows, ["entity", "attr", "value_str", "source", "sec"]
    ).withColumn("ts", F.to_timestamp(F.from_unixtime(F.col("sec") + 1577836800)))
    out = {r["value_str"]: r["accepted"] for r in presence_intervals(df).collect()}
    assert out["v1"] is False  # ratio 1.0 but IP-majority
    assert out["v2"] is True
    # veto off (or no source column) -> pure ratio accepts both
    out2 = {
        r["value_str"]: r["accepted"]
        for r in presence_intervals(df, ip_veto=False).collect()
    }
    assert out2["v1"] is True and out2["v2"] is True


def test_presence_ip_veto_counts_observations(spark):
    """The veto is per-OBSERVATION (reference builds sources[qid][prop][val]
    as a per-claim list, automatic_labeling.py:419-421, and compares
    counter_ip to its length, :486-497): ONE IP source claiming a value many
    times outvotes several named sources claiming it once each — a
    distinct-source count would get this wrong (ADVICE r2)."""
    day = 86400
    rows = []
    # v1 observations: 10.0.0.1 claims at most days, alice+bob once each ->
    # ip observations 11 of 13 (majority) but distinct sources 1 of 3.
    for i, d in enumerate(range(0, 121, 10)):
        src = {0: "alice", 10: "bob"}.get(d, "10.0.0.1")
        rows.append(("A", "p", "v1", src, d * day))
    df = spark.createDataFrame(
        rows, ["entity", "attr", "value_str", "source", "sec"]
    ).withColumn("ts", F.to_timestamp(F.from_unixtime(F.col("sec") + 1577836800)))
    out = {r["value_str"]: r["accepted"] for r in presence_intervals(df).collect()}
    assert out["v1"] is False  # per-observation IP majority -> vetoed


def test_known_entities_and_seen_values(spark):
    """P6 (compute_known_entities, dataset.py:84-95) and W5 (cumulative
    seen-values, automatic_labeling.py:356-370) in first-seen form."""
    from trustfuse_spark.operators.bucketize import (
        cumulative_seen_values,
        first_seen_values,
        mark_known_entities,
        seen_values_first_bucket,
    )

    rows = [
        (0, "s1", "e1", "p", "v1"),
        (1, "s1", "e2", "p", "e1"),   # e1 appears as a VALUE here
        (2, "s2", "e1", "p", "v2"),
        (2, "s2", "e3", "p", "v1"),
    ]
    claims = spark.createDataFrame(
        rows, "bucket_id int, source string, entity string, attr string, value_str string"
    )
    fs = {r["value"]: r["first_bucket"] for r in first_seen_values(claims).collect()}
    # entities AND claim values ravel into one set, like the reference
    assert fs == {"e1": 0, "v1": 0, "e2": 1, "e3": 2, "v2": 2}

    known = {
        (r["entity"], r["bucket_id"]): r["is_known"]
        for r in mark_known_entities(claims).collect()
    }
    assert known[("e1", 0)] is False       # first sighting
    assert known[("e1", 2)] is True        # seen in bucket 0 < 2
    assert known[("e2", 1)] is False       # e2 never appeared before 1
    assert known[("e3", 2)] is False

    sv = {
        (r["entity"], r["attr"]): r["first_bucket"]
        for r in seen_values_first_bucket(claims).filter(F.col("value_str") == "v1").collect()
    }
    assert sv == {("e1", "p"): 0, ("e3", "p"): 2}
    cum1 = {
        (r["entity"], r["attr"]): r["values_seen"]
        for r in cumulative_seen_values(claims, upto=1).collect()
    }
    assert cum1 == {("e1", "p"): ["v1"], ("e2", "p"): ["e1"]}
