"""Graph materialization over fused triples (SURVEY §2.1 S10).

The reference renders an entity -> attribute -> value graph for display
(visualization.py:1-154) and extracts per-entity neighborhood triple sets
(generate_subgraph.py:25-86). The UI is out of scope; the DATA surfaces are
not — this module materializes them as DataFrames:

* :func:`triples_to_edges` — the typed edge list (src=subject, dst=object,
  labeled by predicate), the KG's adjacency surface;
* :func:`node_degrees` — per-node out/in/total degree, the size/centrality
  metadata the reference's viz sizes nodes by;
* :func:`ego_subgraph` — the k-hop neighborhood triple set around a root
  entity (reference generate_subgraph builds exactly the 1-hop set), as
  iterated semi-joins: hop frontiers stay DataFrames, no driver-side
  traversal, so a 10^12-edge graph pages through the joins instead of a
  collect.

Scale shape: edges are one shuffle off the triples table; degrees are a
single groupBy each side; ego expansion joins frontier (small, broadcast by
AQE) against the edge table per hop — never materializing anything bigger
than the neighborhood itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import checkpoint, iterate, settled


def _undirected(edges: DataFrame) -> DataFrame:
    """The undirected simple graph under ``edges``: (a, b) with a < b, no
    self-loops, no duplicates."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame, name: str) -> DataFrame:
    """(node, ``name``): each node's degree in an undirected (a, b) list."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias(name))
    )


def _nodes(edges: DataFrame) -> DataFrame:
    """(node): every endpoint of the edge list, once."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def triples_to_edges(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj[, bucket_id]) -> edge list (src, dst, pred, ...).

    Object values become destination nodes verbatim (the reference's graph
    does the same — value nodes are labels, visualization.py edge build).
    """
    cols = [
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("pred").alias("pred"),
    ]
    if "bucket_id" in triples.columns:
        cols.append(F.col("bucket_id"))
    return triples.select(*cols)


def node_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree table: out_deg (as src), in_deg (as dst), degree.

    Two grouped counts + one outer join — each side a single shuffle on the
    node key; AQE handles celebrity-node skew on the join.
    """
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full")
        .fillna(0, subset=["out_deg", "in_deg"])
        .withColumn("degree", F.col("out_deg") + F.col("in_deg"))
    )


def ego_subgraph(edges: DataFrame, root: str, hops: int = 1) -> DataFrame:
    """Edges within ``hops`` of ``root`` following edge direction
    (reference generate_subgraph.py:25-86 collects the root entity's triple
    set; hops=1 reproduces it, higher hops generalize).

    Frontier expansion is a per-hop semi-join: the frontier node set stays
    a DataFrame (AQE broadcasts it while small); emitted edges carry the
    hop index at which they were first reached.
    """
    frontier = edges.sparkSession.createDataFrame([(root,)], "node string")
    out: DataFrame | None = None
    for hop in range(1, hops + 1):
        hop_edges = edges.join(
            frontier.select(F.col("node").alias("src")), "src", "left_semi"
        ).withColumn("hop", F.lit(hop))
        out = hop_edges if out is None else out.unionByName(hop_edges)
        frontier = hop_edges.select(F.col("dst").alias("node")).distinct()
    assert out is not None, "hops must be >= 1"
    # an edge reachable at several hops keeps its smallest hop index
    return out.groupBy("src", "dst", "pred").agg(F.min("hop").alias("hop"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected simple graph underlying ``edges`` (src/dst; direction,
    predicates and multi-edges collapse; self-loops drop).

    KG-topology quality signal: high-LCC entity neighborhoods are densely
    cross-referenced (reliable hubs), zero-LCC stars are extraction noise.

    Scale shape — the standard degree-orientation node-iterator: each
    undirected edge is oriented from its lower (degree, node) endpoint to
    the higher, so every wedge is enumerated at its LOWEST-degree apex and
    the self-join fan-out per node is bounded by O(sqrt(m)) on any graph
    (arboricity bound), celebrity hubs included — the orientation is what
    makes this survive a power-law KG at 10^12 edges. Three shuffles total
    (degree agg, wedge self-join, closing-edge join); the per-triangle
    explode is map-side.

    Returns (node, triangles, lcc) with lcc = 2*T / (deg*(deg-1)), 0.0
    when deg < 2.
    """
    und = _undirected(edges)
    deg = _degrees(und, "deg")
    # attach both endpoint degrees, orient low-(deg,node) -> high
    w = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    ra = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    rb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    o = checkpoint(
        w.select(
            F.when(ra < rb, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(ra < rb, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(ra < rb, rb).otherwise(ra).alias("rhi"),
        )
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo")) & (F.col("e1.rhi") < F.col("e2.rhi")),
    ).select(
        F.col("e1.lo").alias("apex"),
        F.col("e1.hi").alias("lo"),
        F.col("e2.hi").alias("hi"),
    )
    # wedge (apex; b, c) closes iff oriented edge (b, c) exists — b precedes
    # c in the same (deg, node) order the orientation used, so the closing
    # edge can only be stored as (lo=b, hi=c).
    tris = wedges.join(o.select("lo", "hi"), ["lo", "hi"], "inner")
    tri_n = (
        tris.select(
            F.explode(F.array("apex", "lo", "hi")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(tri_n, "node", "left")
        .fillna(0, subset=["triangles"])
        .select(
            "node",
            "triangles",
            F.when(
                F.col("deg") >= 2,
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def label_propagation(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over the undirected simple graph underlying ``edges``.

    Every node starts labeled with itself; each iteration relabels every
    node with the most frequent label among its neighbors' PREVIOUS labels,
    ties broken to the lexicographically LARGEST label (a fixed rule makes
    the whole run deterministic and oracle-replayable — classic async LPA
    with random tie-breaks is not). Isolated nodes keep their own label.

    Scale shape per iteration: one join of the adjacency list against the
    (|V|-row, 2-col) label table — key-partitioned, AQE-skew-splittable —
    and ONE hash aggregate producing the argmax via max(struct(count,
    label)) — no window, no sort, map-side partials. The label table is
    materialized every iteration by ``fusion.base.iterate``, so lineage
    stays bounded and only the newest two tables hold blocks.

    Returns (node, label).
    """
    und = _undirected(edges)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    nodes = checkpoint(_nodes(edges))

    def step(labels: DataFrame) -> DataFrame:
        nl = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c").alias("c"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("new_label"))
        )
        return labels.join(nl, "node", "left").select(
            "node",
            F.coalesce("new_label", "label").alias("label"),
        )

    labels, _ = iterate(
        nodes.select("node", F.col("node").alias("label")), step, iterations
    )
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Entity importance over the KG edge list: power-iteration PageRank
    with exact dangling-mass redistribution (nodes without out-edges give
    their rank back to the whole graph uniformly, the standard correction —
    without it rank leaks and scores drift low on KGs, where leaf value
    nodes dominate).

    Per iteration, the only corpus-scale work is ONE shuffled agg keyed by
    dst (contributions) plus a key-partitioned join against the static
    out-degree table; the dangling-mass term and the node count are scalar
    aggregates riding as broadcast 1-row cross joins, never driver
    collects. The rank vector (|V| rows, 2 columns) is materialized every
    ``checkpoint_every`` iterations, as one ``fusion.base.iterate`` step,
    so the lineage (and the replay cost of a lost executor) stays bounded
    and only the newest two cuts hold blocks.

    Returns (node, rank); ranks sum to 1 exactly up to float error.
    """
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    e = edges.select("src", "dst")
    nodes = _nodes(e)
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    # static per-node table: out_deg NULL => dangling
    base = checkpoint(nodes.join(out_deg, "node", "left"))
    n_nodes = base.select(F.count("*").alias("n"))

    ranks = base.select("node", "out_deg").crossJoin(
        F.broadcast(n_nodes)
    ).select("node", "out_deg", (F.lit(1.0) / F.col("n")).alias("rank"))

    def step(ranks: DataFrame) -> DataFrame:
        dangling = ranks.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            e.join(
                ranks.select(F.col("node").alias("src"), "rank", "out_deg"),
                "src",
            )
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_rank"))
        )
        return (
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("in_rank"), F.lit(0.0))
                        + F.col("dmass") / F.col("n")
                    )
                ).alias("rank"),
            )
        )

    def advance(ranks: DataFrame, n: int) -> DataFrame:
        for _ in range(n):
            ranks = step(ranks)
        return ranks

    # the lineage cut falls after every checkpoint_every-th iteration but
    # the last, which stays lazy
    cuts = max(iterations - 1, 0) // checkpoint_every
    ranks, _ = iterate(ranks, lambda r: advance(r, checkpoint_every), cuts)
    return advance(ranks, iterations - cuts * checkpoint_every).select("node", "rank")


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 30) -> DataFrame:
    """The k-core of the undirected simple graph underlying ``edges``: the
    maximal subgraph in which every node has degree >= k, computed by the
    standard peel — repeatedly drop nodes whose current degree is < k until
    none remain (Seidman 1983; the dense-hub filter a KG uses to separate
    cross-referenced entity clusters from extraction-noise fringe).

    Scale shape per round: ONE hash aggregate (degrees over the surviving
    edge set) and TWO broadcast-or-shuffle left_semi joins filtering the
    edge list on survivor endpoints — no windows, no per-row Python. The
    surviving edge set is materialized every round by
    ``fusion.base.iterate`` so lineage stays bounded across rounds.
    Convergence is a scalar count per round (the same
    driver-side convergence-scalar pattern the fusion loops use); rounds
    are bounded by ``max_rounds`` — peel depth on real power-law graphs is
    tens of rounds, and each round strictly shrinks the graph, so late
    rounds are near-free.

    Returns (node, core_deg): the nodes of the k-core with their degree
    inside the core (>= k by construction). Empty when no k-core exists.
    """
    und = checkpoint(_undirected(edges))

    def peel(und: DataFrame) -> DataFrame:
        deg = _degrees(und, "deg")
        keep = deg.filter(F.col("deg") >= k).select("node")
        return (
            und.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
        )

    # convergence scalar: the peel reached fixpoint when no edge dropped
    und, _ = iterate(
        und, peel, max_rounds, settled(lambda u: u.count(), first=und.count())
    )
    return _degrees(und, "core_deg")


def link_prediction(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction over the undirected
    simple graph underlying ``edges`` — the classic missing-edge scorer a
    KG-construction pipeline runs after canonicalization to propose links
    extraction missed (Adamic & Adar 2003; Liben-Nowell & Kleinberg 2003):
    for every non-adjacent pair (a, b) with at least one common neighbor,

        cn(a, b) = |N(a) ∩ N(b)|
        aa(a, b) = sum over w in N(a) ∩ N(b) of 1 / ln(deg(w))

    (a wedge apex always has deg >= 2, so ln(deg) > 0).

    Scale shape: wedges enumerate at the COMMON NEIGHBOR — one self-join of
    the adjacency on the apex with ``x < y`` dedup, then a (pair)-keyed hash
    agg (map-side combined) and a left_anti join against the edge set to
    keep non-edges only. Apex fan-out is deg(w)^2, so a celebrity hub would
    explode quadratically; ``max_degree`` sheds apexes above the cap BEFORE
    the self-join (one broadcast-able high-degree list) — the standard
    guard, and principled here: 1/ln(deg) sends a mega-hub's evidence to ~0,
    so the shed removes cost, not signal. Same cap-and-document contract as
    the LSH bucket shedders (dedup.py).

    Returns (node_a, node_b, common_neighbors, adamic_adar) with
    node_a < node_b; adamic_adar rounded to 6 dp (sum-order float noise).
    """
    und = _undirected(edges)
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("w").agg(F.count("*").alias("deg"))
    apex = deg.filter(F.col("deg") >= 2)
    if max_degree is not None:
        apex = apex.filter(F.col("deg") <= max_degree)
    adj_w = adj.join(apex, "w").select("w", "x", "deg")
    l, r = adj_w.alias("l"), adj_w.alias("r")
    pairs = l.join(
        r, (F.col("l.w") == F.col("r.w")) & (F.col("l.x") < F.col("r.x"))
    ).select(
        F.col("l.x").alias("a"),
        F.col("r.x").alias("b"),
        (F.lit(1.0) / F.log(F.col("l.deg").cast("double"))).alias("aaw"),
    )
    scored = pairs.groupBy("a", "b").agg(
        F.count("*").alias("common_neighbors"),
        F.round(F.sum("aaw"), 6).alias("adamic_adar"),
    )
    return scored.join(und, ["a", "b"], "left_anti").select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        "common_neighbors",
        "adamic_adar",
    )


def hits(
    edges: DataFrame, iterations: int = 5, checkpoint_every: int = 4
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the directed KG edge
    list — the complement to `pagerank` for KG quality triage: a good
    AUTHORITY is an entity many well-connected subjects assert facts about;
    a good HUB is a subject whose assertions point at strong authorities
    (e.g. a well-sourced document node). Mutual recursion:

        auth(v) = sum over u->v of hub(u),   then L1-normalize
        hub(u)  = sum over u->v of auth(v),  then L1-normalize

    L1 (sum) normalization is used instead of Kleinberg's L2 so the
    normalizer is a plain SUM — exactly replayable in any SQL engine (no
    sqrt of a float sum feeding a division chain); the ranking and the
    fixpoint direction are invariant to the norm choice.

    Per iteration: TWO key-partitioned join+agg pairs (contributions keyed
    by dst then by src — the same shape as one pagerank step each) and two
    1-row normalizer aggregates riding as broadcast cross joins. The hub
    vector is materialized every ``checkpoint_every`` iterations, as one
    ``fusion.base.iterate`` step, so lineage stays bounded.

    Returns (node, hub, auth) for EVERY node in the edge universe — sinks
    carry hub 0, sources auth 0.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    e = edges.select("src", "dst")
    nodes = checkpoint(_nodes(e))

    def advance(hub: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
        for _ in range(n):
            a = (
                e.join(hub.select(F.col("node").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("s"))
            )
            za = a.agg(F.sum("s").alias("z"))
            auth = (
                nodes.join(a, "node", "left")
                .crossJoin(F.broadcast(za))
                .select(
                    "node",
                    (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("z")).alias("auth"),
                )
            )
            h = (
                e.join(auth.select(F.col("node").alias("dst"), "auth"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").alias("s"))
            )
            zh = h.agg(F.sum("s").alias("z"))
            hub = (
                nodes.join(h, "node", "left")
                .crossJoin(F.broadcast(zh))
                .select(
                    "node",
                    (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("z")).alias("hub"),
                )
            )
        return auth, hub

    # the lineage cut falls after every checkpoint_every-th iteration but
    # the last; only hub is materialized there, since every iteration
    # recomputes auth from it
    k = checkpoint_every
    cuts = (iterations - 1) // k
    hub0 = nodes.select("node", F.lit(1.0).alias("hub"))
    hub, _ = iterate(hub0, lambda h: advance(h, k)[1], cuts)
    auth, hub = advance(hub, iterations - cuts * k)
    return nodes.join(hub, "node").join(auth, "node").select("node", "hub", "auth")


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    weight_col: str = "weight",
) -> DataFrame:
    """Multi-source weighted shortest paths by ``rounds`` Bellman-Ford
    relaxations over the directed edge list (src, dst, weight): the exact
    min-cost distance from ANY source to each reachable node over paths of
    <= ``rounds`` edges (with non-negative weights, rounds >= graph
    diameter gives the true distances — the KG's "how far is this entity
    from the trusted seed set" signal).

    Scale shape per round: ONE join of the current distance table against
    the edge list on the source endpoint (AQE broadcasts the frontier while
    it is small) and ONE map-side-combined min agg — the dataflow min-plus
    recurrence, no windows, no per-row Python. Distance tables are
    materialized every round by ``fusion.base.iterate`` so lineage stays
    bounded, matching `k_core` / `pagerank`. Early-exits when a round
    relaxes nothing (convergence scalar, the fusion-loop convention).

    ``sources`` is a (node) DataFrame. Returns (node, dist) for reached
    nodes. Integer-valued weights keep every path sum exact in double, so
    the result is engine-portable without rounding.
    """
    dist = checkpoint(sources.select(F.col("node"), F.lit(0.0).alias("dist")))

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col(weight_col)).alias("dist"))
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    def none_relaxed(old: DataFrame, new: DataFrame) -> bool:
        # convergence scalar: count of (node, dist) pairs that changed
        changed = (
            new.join(old.withColumnRenamed("dist", "old"), "node", "left")
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .count()
        )
        return changed == 0

    dist, _ = iterate(dist, relax, rounds, none_relaxed)
    return dist


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    salt: int = 0,
    portable_hash: bool = False,
) -> DataFrame:
    """DeepWalk-style walk corpus (Perozzi et al. 2014) over the directed
    edge list: ``walks_per_node`` walks from every node, each up to
    ``walk_len`` steps, the training sequences a skip-gram graph embedding
    consumes. The next-hop "draw" is deterministic — neighbor index =
    hash(start, walk_no, step) % out-degree over the dst-sorted adjacency —
    so the corpus is a pure function of the graph (retry/speculation-stable,
    and the driver gate can replay every hop in SQL). Walks stop early at
    sink nodes.

    Scale shape: the adjacency is ranked ONCE (window per src — hot hubs
    sort once each; cap degrees upstream if a hub's neighbor list exceeds a
    task); each step is one equi-join of the frontier on
    (current node, picked index) against the ranked adjacency — no
    per-row Python, no driver-side traversal. Output is the long form
    (start, walk, step, node); step 0 is the start node itself.

    Portable hash = poly31('start#walk#step', seed 0) + one Knuth mix
    (SQL-replayable, gate/test scale; ``salt`` is ignored there);
    production path = xxhash64(key, salt).
    """
    from pyspark.sql import Window

    from trustfuse_spark.operators.curation import _POLY_M31, _poly31

    und = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = und.withColumn("nbr_idx", F.row_number().over(w) - 1)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj = adj.join(deg, "src")

    starts = und.select(F.col("src").alias("node")).unionByName(
        und.select(F.col("dst").alias("node"))
    ).distinct()
    state = starts.select(
        F.col("node").alias("start"),
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("walk"),
        F.col("node").alias("cur"),
    ).withColumn("step", F.lit(0))
    out = state.select("start", "walk", "step", F.col("cur").alias("node"))

    for step in range(1, walk_len + 1):
        key = F.concat_ws(
            "#", "start", F.col("walk").cast("string"), F.lit(str(step))
        )
        if portable_hash:
            h = _poly31(key)
            hm = ((h + 1) * F.lit(2654435761)) % F.lit(_POLY_M31)
        else:
            hm = F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(1 << 62))
        picked = (
            state.join(adj, state.cur == adj.src)
            .filter((hm % F.col("deg")) == F.col("nbr_idx"))
            .select("start", "walk", F.col("dst").alias("cur"))
            .withColumn("step", F.lit(step))
        )
        out = out.unionByName(
            picked.select("start", "walk", "step", F.col("cur").alias("node"))
        )
        state = picked
    return out
