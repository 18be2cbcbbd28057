"""Iterative graph algorithms over the canonical entity graph.

PageRank is the canonical "iterative joins on Spark" workload: each
power-iteration round is contributions = ranks ⋈ edges (equi-join on the
source id) → groupBy destination → new ranks.  The per-round state is one
(node, rank) table — O(V), tiny next to the edge table — and each round is
checkpointed (``cache.checkpoint``) with the superseded round freed
eagerly (``cache.free_checkpoint``), the same O(1)-working-set discipline
as the connected-components loop in ``operators/canonicalize.py``: without
it, 15 rounds of lazy lineage re-execute the whole chain per action and
the plan grows exponentially.

Dangling mass (nodes with no out-edges) is redistributed uniformly — the
standard formulation — via one scalar aggregate per round; at any scale
that is an O(1)-row driver transfer, not a collect of data.

Scale notes: every shuffle keys on node ids; a hot node (high in-degree)
concentrates its SUM but partial aggregation (map-side combine) bounds
the skew — contributions are combined per partition before the exchange.
The edge table is re-read per round; a caller looping many rounds over a
100 TB graph should persist the (src, dst, out_deg)-joined edge table
once (done here via ``cache.track``).

No reference analog (the reference stops at triple emission,
de_pipeline/pipeline.py:69-77); beyond-reference KG-analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import cache


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 15,
    round_to: int = 6,
    seeds: DataFrame = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT directed (src, dst)
    edges (self-loops dropped): returns (node, rank) with ranks summing
    to 1, rounded to ``round_to`` decimals.

    With ``seeds`` (one column ``node``), this is PERSONALIZED PageRank:
    teleport mass (the (1-d) reset and the dangling redistribution) goes
    uniformly to the seed set instead of all nodes — the standard
    relatedness-to-these-entities measure; init is also uniform over the
    seeds.  ``seeds=None`` keeps the classic uniform recurrence
    bit-identically.

    Deterministic up to float summation order; the sequential oracle
    (sources/oracle_mat.pagerank_table) runs the identical recurrence in
    numpy and the two agree far below the rounding grain."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    # one persisted (src, dst, out_deg) table serves every round
    ed = cache.track(
        e.join(outdeg, e["_s"] == outdeg["node"]).select("_s", "_d", "out_deg")
    )
    nodes = cache.track(nodes)
    dangling_nodes = cache.track(nodes.join(outdeg, "node", "left_anti"))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    if seeds is not None:
        # personalized: reset vector = uniform over the seed set.  A
        # separate arithmetic path on purpose — the uniform branch below
        # keeps its original float association, which the pinned oracle
        # hash (round-6) was validated against.
        seed_set = cache.track(
            seeds.select("node").distinct().join(nodes, "node", "left_semi")
        )
        n_seeds = seed_set.count()
        if n_seeds == 0:
            return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
        nodes = cache.track(
            nodes.join(
                seed_set.withColumn("_is_seed", F.lit(True)), "node", "left"
            ).select(
                "node",
                F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds))
                .otherwise(F.lit(0.0))
                .alias("reset"),
            )
        )
        ranks = cache.checkpoint(
            nodes.select("node", F.col("reset").alias("rank"))
        )
        for _ in range(n_iter):
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )
            contribs = (
                ed.join(ranks, ed["_s"] == ranks["node"])
                .groupBy(F.col("_d").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
            )
            new_ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("reset")
                    + F.lit(damping * dangling) * F.col("reset")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            prev = ranks
            ranks = cache.checkpoint(new_ranks)
            cache.free_checkpoint(prev)
        return ranks.select("node", F.round("rank", round_to).alias("rank"))

    ranks = cache.checkpoint(
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    )
    for _ in range(n_iter):
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contribs = (
            ed.join(ranks, ed["_s"] == ranks["node"])
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        base = (1.0 - damping) / n_nodes + damping * dangling / n_nodes
        new_ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
        prev = ranks
        ranks = cache.checkpoint(new_ranks)
        cache.free_checkpoint(prev)
    return ranks.select("node", F.round("rank", round_to).alias("rank"))


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where
    every node has degree ≥ k — the standard noise/periphery filter
    before community or centrality analysis (degree-1 tendrils dominate
    raw KGs and drown both).  Returns (node, core_degree) for surviving
    nodes, degree measured INSIDE the core.

    Iterative peel: drop nodes under degree k, recompute, repeat to
    fixpoint — each round is one count aggregate + two semi-joins on the
    shrinking edge set, checkpointed with the superseded round freed
    eagerly.  Round count is bounded by the peel depth (longest chain of
    cascading removals), typically small; ``max_iter`` is a backstop.
    The result is a unique fixpoint, so it is partitioning-independent
    with no tie-break subtleties."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    alive = cache.checkpoint(und)
    n_edges = alive.count()
    for _ in range(max_iter):
        keep = (
            alive.groupBy("a")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= k)
            .select(F.col("a").alias("node"))
        )
        keep_b = keep.select(F.col("node").alias("node_b"))
        nxt = cache.checkpoint(
            alive.join(keep, alive["a"] == keep["node"], "left_semi").join(
                keep_b, F.col("b") == F.col("node_b"), "left_semi"
            )
        )
        n_next = nxt.count()
        cache.free_checkpoint(alive)
        alive = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return alive.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities over the undirected view
    of the edges: every node starts labeled with itself; each round every
    node adopts the most frequent label among its neighbors, ties broken
    by the MINIMUM label — fully deterministic, unlike classic async LPA
    whose result depends on visit order.  Fixed ``n_iter`` rounds (LPA
    oscillates on bipartite structures; a fixed horizon is the standard
    determinism trade).  Returns (node, community).

    Each round is one join (neighbor labels) + one count aggregate + one
    per-node argmax window — all keyed on node ids, state is a single
    O(V) label table checkpointed with the superseded round freed eagerly
    (same O(1)-working-set discipline as pagerank/BFS/CC here)."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = cache.track(und)
    nodes = cache.track(
        und.select(F.col("a").alias("node")).distinct()
    )
    labels = cache.checkpoint(
        nodes.select("node", F.col("node").alias("community"))
    )
    w = Window.partitionBy("a").orderBy(
        F.col("c").desc(), F.col("community").asc()
    )
    for _ in range(n_iter):
        best = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy("a", "community")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("a").alias("node"), F.col("community").alias("_new"))
        )
        prev = labels
        labels = cache.checkpoint(
            labels.join(best, "node", "left").select(
                "node",
                F.coalesce("_new", "community").alias("community"),
            )
        )
        cache.free_checkpoint(prev)
    return labels


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 20,
) -> DataFrame:
    """Unweighted shortest-path distances (BFS levels) from ``seeds``
    (one column ``node``) over the UNDIRECTED view of the edges: returns
    (node, dist) for every reachable node, dist 0 at the seeds.

    Frontier expansion: each round joins the frontier to the edge table,
    anti-joins already-visited nodes, and dedups — per-round cost is
    O(frontier boundary), total O(E) across rounds, every shuffle keyed
    on node ids.  Rounds are checkpointed with the superseded state
    freed eagerly (O(1) working set, same discipline as pagerank/CC).
    The number of rounds is the graph diameter — small for the
    clustered KGs this serves; ``max_depth`` bounds pathological
    chains.  Distances are unique minima, so the result is
    partitioning-independent with no float concerns."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = cache.track(und)
    dist = cache.checkpoint(
        seeds.select("node").distinct().withColumn("dist", F.lit(0))
    )
    frontier = dist
    for _ in range(max_depth):
        nxt = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
            .join(dist.select("node"), "node", "left_anti")
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        nxt = cache.checkpoint(nxt)
        if nxt.count() == 0:
            cache.free_checkpoint(nxt)
            break
        prev_dist, prev_frontier = dist, frontier
        dist = cache.checkpoint(dist.unionByName(nxt))
        cache.free_checkpoint(prev_dist)
        if prev_frontier is not prev_dist:
            cache.free_checkpoint(prev_frontier)
        frontier = nxt
    return dist


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping: float = 0.85,
    n_iter: int = 15,
    round_to: int = 6,
) -> DataFrame:
    """Evidence-weighted PageRank: identical recurrence to ``pagerank``
    but each edge carries a weight (duplicate (src, dst) rows SUM — pass
    per-triple evidence rows directly) and a node distributes its rank
    proportionally to outgoing weight:

        contrib(v) = Σ_{u→v} rank(u) · w(u,v) / out_w(u)

    A separate function on purpose: the unweighted path's float
    association is pinned by the kg_pagerank oracle hash and stays
    byte-for-byte untouched.  Dangling mass (nodes with zero outgoing
    weight) redistributes uniformly, same as the unweighted form.  Same
    O(1)-working-set checkpoint discipline; the weighted edge table is
    one extra groupBy over the raw evidence rows (map-side combined, so
    a hot edge shuffles one row per partition, not per occurrence)."""
    e = (
        edges.select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            F.col(weight).cast("double").alias("_w"),
        )
        .where(F.col("_s") != F.col("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .where(F.col("_w").isNotNull() & (F.col("_w") > 0))
        .groupBy("_s", "_d")
        .agg(F.sum("_w").alias("_w"))
    )
    nodes = cache.track(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    outw = e.groupBy(F.col("_s").alias("node")).agg(
        F.sum("_w").alias("out_w")
    )
    ed = cache.track(
        e.join(outw, e["_s"] == outw["node"]).select("_s", "_d", "_w", "out_w")
    )
    dangling_nodes = cache.track(nodes.join(outw, "node", "left_anti"))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    ranks = cache.checkpoint(
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    )
    for _ in range(n_iter):
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contribs = (
            ed.join(ranks, ed["_s"] == ranks["node"])
            .groupBy(F.col("_d").alias("node"))
            .agg(
                F.sum(
                    F.col("rank") * F.col("_w") / F.col("out_w")
                ).alias("contrib")
            )
        )
        base = (1.0 - damping) / n_nodes + damping * dangling / n_nodes
        new_ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
        prev = ranks
        ranks = cache.checkpoint(new_ranks)
        cache.free_checkpoint(prev)
    return ranks.select("node", F.round("rank", round_to).alias("rank"))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 15,
    round_to: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the DISTINCT
    directed self-loop-free edges: authorities are entities many hubs
    point at, hubs are entities pointing at many authorities — on a KG
    the (subject → object) direction makes strong subjects hubs and
    strong objects authorities, a complementary centrality to PageRank's
    single score.  Returns (node, hub, authority), each vector
    L1-normalized per round (sum = 1; L1 instead of L2 keeps the
    normalizer a plain SUM — one scalar aggregate per half-round, no
    sqrt of a sum whose association matters more), rounded to
    ``round_to``.

    Per round: authority(v) = Σ_{u→v} hub(u), normalize; then hub(u) =
    Σ_{u→v} authority_NEW(v), normalize (the standard mutual recursion —
    hubs update against the already-updated authorities).  Each
    half-round is one equi-join + one keyed agg (map-side combined, hot
    nodes bounded) + one O(1) scalar transfer; state is one O(V) table
    checkpointed with the superseded round freed eagerly, the same
    discipline as ``pagerank``.  The sequential oracle
    (oracle_mat.hits_table) replays the identical recurrence in numpy."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    ed = cache.track(e)
    nodes = cache.track(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    state = cache.checkpoint(
        nodes.select(
            "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
        )
    )
    for _ in range(n_iter):
        # each raw half-round feeds its scalar sum AND the next join:
        # persisted, it runs once a round instead of two or three times
        a_raw = (
            ed.join(state.select("node", "hub"), ed["_s"] == F.col("node"))
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("hub").alias("a_raw"))
            .persist()
        )
        sa = a_raw.agg(F.coalesce(F.sum("a_raw"), F.lit(0.0))).collect()[0][0]
        auth = nodes.join(a_raw, "node", "left").select(
            "node",
            (
                F.coalesce("a_raw", F.lit(0.0))
                / F.lit(sa if sa > 0 else 1.0)
            ).alias("authority"),
        )
        h_raw = (
            ed.join(auth, ed["_d"] == auth["node"])
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum("authority").alias("h_raw"))
            .persist()
        )
        sh = h_raw.agg(F.coalesce(F.sum("h_raw"), F.lit(0.0))).collect()[0][0]
        hub = nodes.join(h_raw, "node", "left").select(
            "node",
            (
                F.coalesce("h_raw", F.lit(0.0))
                / F.lit(sh if sh > 0 else 1.0)
            ).alias("hub"),
        )
        prev = state
        state = cache.checkpoint(
            hub.join(auth, "node").select("node", "hub", "authority")
        )
        a_raw.unpersist()
        h_raw.unpersist()
        cache.free_checkpoint(prev)
    return state.select(
        "node",
        F.round("hub", round_to).alias("hub"),
        F.round("authority", round_to).alias("authority"),
    )


def metapath_census(
    facts: DataFrame,
    src: str = "s",
    pred: str = "pred",
    dst: str = "o",
) -> DataFrame:
    """2-hop typed metapath census: for every ordered predicate pair
    (pred1, pred2) the number of length-2 paths x -pred1-> mid -pred2-> y
    over the given fact set, plus the count of distinct bridging ``mid``
    entities.

    Computed WITHOUT enumerating paths, via the degree-product identity

        paths(p1, p2) = Σ_mid  in_deg(mid, p1) · out_deg(mid, p2)

    so a degree-d hub contributes d aggregate rows instead of d² path
    rows — the census stays EXACT where a self-join enumeration (see the
    degree-capped two-hop operator in __spark_entry__) must cap or
    sample.  Two keyed groupBys + one equi-join on ``mid``; the join's
    per-key fan-out is bounded by the predicate vocabulary of one
    entity, never by its degree.  Callers wanting distinct-path
    semantics should pass a DISTINCT fact set (paths reusing one fact as
    both hops — self-loops — are counted, the standard census
    convention).

    No reference analog (the reference stops at triple emission);
    beyond-reference KG-analytics surface.
    """
    f = facts.select(
        F.col(src).alias("_s"), F.col(pred).alias("_p"), F.col(dst).alias("_d")
    ).where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    indeg = f.groupBy(
        F.col("_d").alias("mid"), F.col("_p").alias("pred1")
    ).agg(F.count("*").alias("n_in"))
    outdeg = f.groupBy(
        F.col("_s").alias("mid"), F.col("_p").alias("pred2")
    ).agg(F.count("*").alias("n_out"))
    return (
        indeg.join(outdeg, "mid")
        .groupBy("pred1", "pred2")
        .agg(
            F.sum(F.col("n_in") * F.col("n_out")).alias("n_paths"),
            F.countDistinct("mid").alias("n_mids"),
        )
    )


def local_clustering(und: DataFrame) -> DataFrame:
    """Per-entity local clustering coefficient over an undirected graph:
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), the ego-density signal
    that separates clique-like entity neighborhoods (tight co-mention
    clusters) from star-like hubs at the same degree.

    ``und`` is the symmetric, self-loop-free, distinct edge view with
    columns (a, b) — the same input contract as the triangle counter in
    ``__spark_entry__.kg_triangles``, whose degree-ordered orientation
    this reuses: each undirected edge kept once pointing low→high
    (degree, id), so wedge-join work is O(m^1.5) TOTAL regardless of hub
    skew (a hub's wedges are built from its O(sqrt(m)) out-edges, never
    its full degree).  Three id-keyed hash joins + two aggregates; no
    caps, no sampling — exact at any scale.

    Every node with degree ≥ 1 gets a row (triangle count coalesced to
    0).  The coefficient divides two exactly-representable integers, so
    the double is bit-identical on any engine (no rounding step needed —
    see NOTES.md float-determinism lessons for why we avoid F.round).

    No reference analog (the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77); beyond-reference KG-analytics
    surface.
    """
    deg = und.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    oriented = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.v") < F.col("y.v"))
        .select(
            F.col("x.u").alias("u"),
            F.col("x.v").alias("v"),
            F.col("y.v").alias("w"),
        )
    )
    tri = wedges.join(
        und.select(F.col("a").alias("v2"), F.col("b").alias("w2")),
        (F.col("v") == F.col("v2")) & (F.col("w") == F.col("w2")),
        "left_semi",
    )
    tri_per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tri_per_node, "n", "left")
        .select(
            F.col("n").alias("canonical_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                (F.coalesce(F.col("t"), F.lit(0)) * 2).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def random_walks(und: DataFrame, length: int = 3, salt: str = "walk") -> DataFrame:
    """Deterministic uniform random-walk corpus (DeepWalk, Perozzi et al.
    2014) over an undirected graph: one walk of ``length`` steps from
    EVERY node, the skip-gram training corpus for graph embeddings — the
    KG-side analog of the text pipeline's training-sequence exports.

    Randomness is a pure function of (seed, current node, step) via the
    shared md5 primitive (``sampling.hash_bucket``), so the corpus is
    reproducible under any partitioning AND replayable in SQL: next hop
    = neighbor at index md5(seed|cur|step:salt) mod degree(cur), over
    the adjacency list rank-indexed by neighbor id.

    Dataflow: the adjacency table is rank-indexed once (one window keyed
    on the source node), then each step is ONE equi-join on (node,
    index) — a walk row matches exactly one adjacency row, so per-step
    cost is O(walks) rows independent of hub degree (a degree-d hub
    costs d adjacency rows total, never d² path work).  ``und`` must be
    the symmetric distinct edge view (a, b), self-loop-free — every node
    drawn from it has degree ≥ 1, so walks never dead-end.

    Returns (seed, step, node): step 0 is the seed itself; one row per
    visited position.  Beyond-reference surface (no reference analog).
    """
    from . import sampling

    adj = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    w = Window.partitionBy("src").orderBy("dst")
    adj = cache.track(adj.withColumn("idx", F.row_number().over(w) - 1))
    degs = cache.track(adj.groupBy("src").agg(F.count("*").alias("deg")))

    walk = und.select(F.col("a").alias("seed")).distinct().select(
        "seed", F.lit(0).alias("step"), F.col("seed").alias("node")
    )
    out = [walk]
    cur = walk
    for t in range(1, length + 1):
        probe = cur.select("seed", F.col("node").alias("src"))
        pick = sampling.hash_bucket(
            F.concat(
                F.col("seed"), F.lit("|"), F.col("src"), F.lit("|"), F.lit(str(t))
            ),
            salt,
        )
        # degree first (1:1 id-keyed join), THEN the (node, index) equi-join
        # — a walk row matches exactly one adjacency row, so hub degree
        # never multiplies walk rows (the post-join-filter alternative
        # would fan each walk out by deg(cur) before filtering)
        probe = probe.join(degs, "src").withColumn("pick", pick % F.col("deg"))
        nxt = (
            probe.join(adj, (probe["src"] == adj["src"]) & (probe["pick"] == adj["idx"]))
            .select(
                "seed", F.lit(t).alias("step"), F.col("dst").alias("node")
            )
        )
        nxt = cache.checkpoint(nxt)
        out.append(nxt)
        cur = nxt
    res = out[0]
    for nxt in out[1:]:
        res = res.union(nxt)
    return res


def sample_neighborhood(
    und: DataFrame,
    seeds: DataFrame,
    fanouts=(3, 2),
    salt: str = "nbr",
) -> DataFrame:
    """GraphSAGE-style (Hamilton et al. 2017) deterministic fanout
    sampling: the k-hop ego-subgraphs a minibatch GNN trainer consumes,
    with at most ``fanouts[h]`` neighbors kept per node at hop h+1.

    Sampling is per (node, hop) — node n's hop-h sample is the SAME for
    every seed whose frontier reaches it (the shared-sample convention
    that keeps the sampled adjacency a bounded TABLE rather than
    per-seed state): neighbor ranks are md5(src|dst:salt|h) with ties
    broken on the neighbor id, one window per hop keyed on the source
    node.  Hop expansion is then pure equi-joins against these
    pre-sampled adjacency tables, so frontier growth is bounded by
    Π fanouts per seed — the property that makes minibatch GNN training
    tractable on hub-skewed graphs where a full 2-hop neighborhood of a
    degree-10⁵ hub would be billions of rows.

    ``und`` is the symmetric distinct (a, b) edge view; ``seeds`` has one
    column ``node``.  Returns DISTINCT (seed, hop, src, dst) edges of
    the sampled ego-graph, hop numbered from 1.  Beyond-reference
    surface (no reference analog).
    """
    from . import sampling

    adj = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    sampled = []
    for h, f in enumerate(fanouts, start=1):
        rk = sampling.hash_bucket(
            F.concat(F.col("src"), F.lit("|"), F.col("dst")),
            "%s|%d" % (salt, h),
        )
        w = Window.partitionBy("src").orderBy(rk.asc(), F.col("dst").asc())
        sampled.append(
            adj.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= f)
            .drop("rn")
        )
    frontier = seeds.select(F.col("node").alias("seed"), F.col("node").alias("src"))
    out = None
    for h, s in enumerate(sampled, start=1):
        hop_edges = frontier.join(s, "src").select(
            "seed", F.lit(h).alias("hop"), "src", "dst"
        )
        hop_edges = cache.checkpoint(hop_edges.distinct())
        out = hop_edges if out is None else out.union(hop_edges)
        frontier = hop_edges.select("seed", F.col("dst").alias("src")).distinct()
    return out


def propagate_labels(
    und: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation with clamped seeds: unlabeled
    nodes adopt the label held by the most of their already-labeled
    neighbors, one synchronous round at a time — the standard KG type-
    inference step that extends sparse gold types (here: FIGER types of
    LINKED entities) to the unlinked remainder over the co-occurrence
    structure.

    Determinism is by construction, not convergence: seeds never change
    (clamping), a node labeled in round r is frozen from round r+1 on,
    and each round's argmax breaks ties on (vote count DESC, label ASC)
    — so the result is a pure function of (graph, seeds, rounds) under
    any partitioning, and each round is expressible in ANSI SQL (the
    oracle replays both rounds; no fixpoint/oscillation semantics to
    approximate, unlike unclamped LPA community detection whose
    synchronous variant need not converge).

    ``und`` is the symmetric, self-loop-free, distinct (a, b) edge view;
    ``seeds`` has columns (node, label), ONE row per node (a duplicated
    seed node would double-count its votes).  Each round is two shuffles —
    a label-keyed equi-join (labels table is O(V), edge-side shuffle on
    node ids with map-side-combined vote counts) and one row_number
    window per newly-labeled node — with the round's additions
    checkpointed so lineage stays O(rounds).  Returns (node, label,
    round): round 0 = seeds, r ≥ 1 = adopted in round r; nodes never
    reached by a labeled neighbor are absent.

    No reference analog (the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77); beyond-reference KG surface.
    """
    labels = cache.checkpoint(
        seeds.select("node", "label", F.lit(0).alias("round"))
    )
    for r in range(1, rounds + 1):
        # anti-join FIRST so labeled nodes never enter the vote aggregate
        # (each round would otherwise re-count votes for every node
        # labeled in earlier rounds, then throw them away)
        open_edges = und.join(
            labels.select(F.col("node").alias("a")), "a", "left_anti"
        )
        votes = (
            open_edges.join(
                labels.select(F.col("node").alias("b"), "label"), "b"
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
        new = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label", F.lit(r).alias("round"))
        )
        new = cache.checkpoint(new)
        labels = labels.union(new)
    return labels


def adamic_adar_candidates(
    und: DataFrame,
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Topological link-prediction candidates: non-adjacent entity pairs
    ranked by common-neighbor count and Adamic–Adar score
    AA(u, w) = Σ_{v ∈ N(u)∩N(w)} 1 / ln(deg(v)) (Adamic & Adar 2003) —
    the classic triadic-closure signal complementing the KG-embedding
    rankers in ``operators/kgembed.py`` (structure-only, no training,
    interpretable evidence = the shared neighbors themselves).

    Dataflow: one wedge self-join through the shared neighbor ``v``
    (kept u < w so each pair appears once), LEFT ANTI against the edge
    view to keep non-adjacent pairs only, then a (u, w) aggregate.  The
    inverse-log weight rides the wedge row from one broadcast-sized
    degree join; the sum is map-side combined.

    Scale note: a degree-d shared neighbor contributes d·(d−1)/2 wedge
    rows — that quadratic fan-out IS the candidate set (every pair it
    witnesses), so unlike the triangle counter no orientation trick can
    remove it.  ``max_degree`` (OPT-IN, default None = exact) drops
    hub mids from the WEDGE join only — degrees (the AA denominators)
    keep full counts, the recall-only convention every bounded operator
    here follows (dedup df-caps, alignment neighbor caps); a dropped
    hub's witness is the least informative anyway (weight 1/ln d → 0).

    Returns (a, b, n_common, aa_score) with a < b, n_common ≥
    ``min_common``, aa_score rounded to 6 dp (both engines' IEEE-double
    ln agree well inside 6 dp).  No reference analog (the reference
    stops at triple emission); beyond-reference KG-completion surface.
    """
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("d"))
    # neighbor list keyed by the shared mid: (v, n) for every edge
    nb = und.select(F.col("a").alias("v"), F.col("b").alias("n"))
    if max_degree is not None:
        nb = nb.join(deg.where(F.col("d") <= max_degree), "v").drop("d")
    wedges = (
        nb.alias("x")
        .join(nb.alias("y"), F.col("x.v") == F.col("y.v"))
        .where(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.n").alias("a"),
            F.col("y.n").alias("b"),
            F.col("x.v").alias("v"),
        )
    )
    open_pairs = wedges.join(
        und.select(F.col("a"), F.col("b")), ["a", "b"], "left_anti"
    )
    return (
        open_pairs.join(deg, "v")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log("d")), 6).alias("aa_score"),
        )
        .where(F.col("n_common") >= min_common)
    )


def _edge_supports(pairs: DataFrame) -> DataFrame:
    """Per-edge triangle support over the canonical a < b edge set: how
    many triangles each edge closes.  Same degree-ordered orientation as
    ``local_clustering`` (each triangle enumerated exactly once from its
    lowest-(degree, id) corner, wedge fan-out bounded by O(sqrt(m)) per
    node regardless of hub skew), but the closing-edge probe is an INNER
    join so every triangle's corner triple survives to be re-keyed into
    its three edges and counted.  Output: (a, b, support) for edges in
    at least one triangle; triangle-free edges are absent (callers
    coalesce to 0)."""
    sym = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    oriented = (
        sym.join(
            deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a"
        )
        .join(
            deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b"
        )
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.v") < F.col("y.v"))
        .select(
            F.col("x.u").alias("u"),
            F.col("x.v").alias("v"),
            F.col("y.v").alias("w"),
        )
    )
    tri = wedges.join(
        pairs.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"],
    )
    return (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v").alias("a"),
                        F.greatest("u", "v").alias("b"),
                    ),
                    F.struct(
                        F.least("u", "w").alias("a"),
                        F.greatest("u", "w").alias("b"),
                    ),
                    F.struct(F.col("v").alias("a"), F.col("w").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )


def k_truss(und: DataFrame, k: int = 3, max_iter: int = 100) -> DataFrame:
    """The k-truss of the undirected graph: the maximal subgraph whose
    every EDGE participates in at least k−2 triangles within the
    subgraph (Cohen 2008) — the edge-level cohesion filter one level
    above ``k_core``'s node-degree filter.  A 3-truss keeps exactly the
    edges embedded in triadic structure, stripping the star/tendril
    edges that dominate raw co-mention KGs even after k-core peeling
    (a hub passes any degree threshold; its fan edges never close
    triangles).

    ``und`` is the symmetric, self-loop-free, distinct (a, b) edge view
    — the same input contract as ``local_clustering``.

    Iterative peel to the unique fixpoint: each round computes per-edge
    triangle support over the surviving a < b edge set (one
    degree-ordered wedge join + closing-edge probe, O(m^1.5) per round)
    and drops edges under k−2; removal cascades until stable.  The
    surviving edge set is checkpointed per round with the superseded
    round freed eagerly — the same O(1)-working-set discipline as the
    other peel/power loops here.  Round count is bounded by the peel
    depth; ``max_iter`` is a backstop.  The fixpoint is unique, hence
    partitioning-independent with no tie-break subtleties.

    Returns (a, b, support) with a < b, support measured INSIDE the
    truss (coalesced to 0 — only reachable for k ≤ 2, where
    triangle-free edges legitimately survive).

    No reference analog (the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77); beyond-reference KG-analytics
    surface.
    """
    alive = cache.checkpoint(und.where(F.col("a") < F.col("b")).distinct())
    n_edges = alive.count()
    threshold = int(k) - 2
    for _ in range(max_iter):
        if n_edges == 0:
            break
        keep = (
            alive.join(_edge_supports(alive), ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= threshold)
            .select("a", "b")
        )
        nxt = cache.checkpoint(keep)
        n_next = nxt.count()
        cache.free_checkpoint(alive)
        alive = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        alive.join(_edge_supports(alive), ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
        )
    )


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 50,
) -> DataFrame:
    """Weighted single-source shortest paths over the UNDIRECTED view of
    the edges: returns (node, dist) for every reachable node, dist 0 at
    the ``seeds`` (one column ``node``), dist = the minimum total edge
    weight of any connecting path.  Weights must be positive integers
    (the KG queries derive them from evidence counts — corroborated
    edges are cheaper to traverse).

    Frontier Bellman–Ford relaxation: a node's distance can only improve
    via a neighbor whose distance improved in the PREVIOUS round, so each
    round joins only the improved frontier to the edge table, min-merges
    the candidates, and keeps the strict improvements — per-round cost is
    O(frontier boundary), every shuffle keyed on node ids, rounds
    checkpointed with the superseded state freed eagerly (the
    ``bfs_distances`` discipline; BFS is the w=1 special case and the two
    agree exactly there).  With positive integer weights the fixpoint is
    a unique set of integer minima, so the result is bit-deterministic
    under any partitioning.  Convergence takes at most (longest shortest
    path in HOPS) rounds — weight-stretched chains need more rounds than
    BFS levels; ``max_iter`` bounds pathological chains.

    Duplicate (a, b) weight rows are collapsed to their MIN before the
    loop, so callers may pass per-direction or per-evidence weights.

    No reference analog (the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77); beyond-reference KG-analytics
    surface.
    """
    und = (
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"),
            F.col(weight).cast("long").alias("w"),
        )
        .union(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"),
                F.col(weight).cast("long").alias("w"),
            )
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    und = cache.track(und)
    dist = cache.checkpoint(
        seeds.select("node").distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = dist
    for _ in range(max_iter):
        cand = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        improved = cache.checkpoint(
            cand.join(
                dist.select("node", F.col("dist").alias("old")),
                "node",
                "left",
            )
            .where(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("node", "dist")
        )
        if improved.count() == 0:
            cache.free_checkpoint(improved)
            break
        prev_dist, prev_frontier = dist, frontier
        dist = cache.checkpoint(
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
        )
        cache.free_checkpoint(prev_dist)
        if prev_frontier is not prev_dist:
            cache.free_checkpoint(prev_frontier)
        frontier = improved
    return dist


def closeness_from_balls(balls: DataFrame, max_r: int = 3) -> DataFrame:
    """Lin's closeness centrality from HyperBall ball-size estimates
    (Boldi & Vigna 2013 §4): with |B(v, r)| estimated for r = 0..max_r,
    the truncated distance sum is Σ_{r=1..max_r} r·(|B(v,r)|−|B(v,r−1)|)
    and Lin's index is reached²/Σdist, where reached = |B(v,max_r)| −
    |B(v,0)| excludes the node itself — the centrality that (unlike raw
    closeness) does not reward tiny isolated components.

    Input is the ``hyperball`` output (node, r, ..., est).  The whole
    computation is one window lag + one grouped integer sum over ≤
    (max_r+1) rows per node — ``total_dist`` and ``reached`` stay exact
    BIGINTs derived from the already-bit-deterministic ``est`` integers,
    and the only float is the final round(·, 6) division, computed
    identically in SQL.  Ball estimates are near-monotone in r (HLL
    registers only grow), but the bias-correction branch switch can
    produce a rare small negative delta; the sum telescopes to
    max_r·est_{max_r} − Σ est_{r<max_r}, so such jitter stays
    estimate-level noise, never an inconsistency.

    Returns (node, reached, total_dist, lin) — lin = 0.0 where nothing
    beyond the node itself is reached.
    """
    w = Window.partitionBy("node").orderBy("r")
    d = (
        balls.select("node", "r", "est")
        .withColumn("prev", F.lag("est").over(w))
    )
    agg = (
        d.where(F.col("r") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.col("r") * (F.col("est") - F.col("prev")))
            .alias("total_dist"),
            F.max(F.when(F.col("r") == int(max_r), F.col("est")))
            .alias("ball_max"),
        )
    )
    r0 = balls.where(F.col("r") == 0).select(
        "node", F.col("est").alias("est0")
    )
    return (
        agg.join(r0, "node")
        .select(
            "node",
            (F.col("ball_max") - F.col("est0")).alias("reached"),
            "total_dist",
            F.when(
                F.col("total_dist") > 0,
                F.round(
                    (
                        (F.col("ball_max") - F.col("est0"))
                        * (F.col("ball_max") - F.col("est0"))
                    ).cast("double")
                    / F.col("total_dist").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lin"),
        )
    )


def distance_profile(
    balls: DataFrame, max_r: int = 3, q: float = 0.9
) -> DataFrame:
    """Global distance distribution + effective diameter from HyperBall
    ball sizes — the measurement HyperBall was invented for (Boldi &
    Vigna 2013; the "four degrees of separation" statistic).  N(r) =
    Σ_v |B(v, r)| estimates the number of node pairs within distance r;
    the effective diameter at quantile ``q`` is the interpolated r where
    N(r) first reaches q·N(max_r), and the mean distance (within the
    truncated horizon) is Σ r·(N(r)−N(r−1)) / (N(max_r)−N(0)).

    One groupBy(r) sum over the balls table, then window lag/cum math
    over ≤ max_r+1 rows — every accumulator is an exact BIGINT over the
    bit-deterministic ``est`` integers, and the two final divisions are
    round(·, 6) expressions computed identically in SQL.  Returns ONE
    row: (n_nodes, n_pairs, avg_dist, eff_diameter).
    """
    byr = balls.groupBy("r").agg(F.sum("est").alias("n_reach"))
    w_all = Window.partitionBy(F.lit(1))
    w_ord = Window.partitionBy(F.lit(1)).orderBy("r")
    lagged = byr.select(
        "r", "n_reach", F.lag("n_reach").over(w_ord).alias("prev")
    )
    tot = F.max(F.when(F.col("r") == int(max_r), F.col("n_reach"))).over(
        w_all
    )
    n0 = F.max(F.when(F.col("r") == 0, F.col("n_reach"))).over(w_all)
    target = F.lit(float(q)) * tot.cast("double")
    annotated = lagged.select(
        "r",
        "n_reach",
        "prev",
        tot.alias("tot"),
        n0.alias("n0"),
        target.alias("target"),
        F.sum(
            F.when(
                F.col("r") > 0,
                F.col("r") * (F.col("n_reach") - F.col("prev")),
            )
        )
        .over(w_all)
        .alias("dist_sum"),
    )
    # the crossing row: first r whose cumulative reach meets the target.
    # N(r) is non-monotone under HLL estimator jitter (linear-counting →
    # raw-branch switches can dip below the target and re-cross), so the
    # filter alone can match several rows; rank by r and keep the minimal
    # crossing explicitly so the documented ONE-row contract holds for any
    # estimator behavior (on monotone data the first crossing is the only
    # match and the result is unchanged).
    crossing = annotated.where(
        (F.col("n_reach").cast("double") >= F.col("target"))
        & (
            F.col("prev").isNull()
            | (F.col("prev").cast("double") < F.col("target"))
        )
    ).withColumn(
        "_rn",
        F.row_number().over(Window.orderBy(F.col("r").asc())),
    ).where(F.col("_rn") == 1)
    return crossing.select(
        F.col("n0").alias("n_nodes"),
        F.col("tot").alias("n_pairs"),
        F.when(
            (F.col("tot") - F.col("n0")) > 0,
            F.round(
                F.col("dist_sum").cast("double")
                / (F.col("tot") - F.col("n0")).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_dist"),
        F.when(F.col("r") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("r") - 1).cast("double")
                + (F.col("target") - F.col("prev").cast("double"))
                / (F.col("n_reach") - F.col("prev")).cast("double"),
                6,
            )
        )
        .alias("eff_diameter"),
    )


def assortativity(und: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected graph (Newman 2002): the
    Pearson correlation of endpoint degrees over directed edge-endpoint
    pairs — negative for hub-and-spoke KGs (hubs link to leaves),
    positive for core-periphery meshes.  Over the SYMMETRIC edge view
    the two endpoint marginals coincide, so the coefficient reduces to
    r = (M·Σd_a·d_b − (Σd_a)²) / (M·Σd_a² − (Σd_a)²) — no square root,
    and every accumulator (M, Σd_a, Σd_a·d_b, Σd_a²) is an exact BIGINT:
    one degree aggregate, two broadcast-sized degree joins back onto the
    edge view, one global sum.  The single float division is a
    round(·, 6) expression computed identically in SQL.

    Input is the symmetric self-loop-free distinct (a, b) view (the
    graphalgs undirected contract).  Returns ONE row:
    (m_directed, s_j, s_jj, s_jk, assortativity).
    """
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("n"), "d"
    )
    paired = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    sums = paired.agg(
        F.count(F.lit(1)).alias("m_directed"),
        F.sum("da").alias("s_j"),
        F.sum(F.col("da") * F.col("da")).alias("s_jj"),
        F.sum(F.col("da") * F.col("db")).alias("s_jk"),
    )
    # the cross-products are computed in decimal(38,0): on large skewed
    # graphs m_directed·s_jj and s_j² exceed int64 (s_jj sums squared
    # degrees over 2m endpoint rows) and Spark's non-ANSI long arithmetic
    # would wrap silently while the DuckDB oracle promotes to HUGEINT — a
    # latent scale-dependent divergence.  At gate scale the decimal and
    # long paths produce identical doubles.
    dec = "decimal(38,0)"
    m_d = F.col("m_directed").cast(dec)
    s_j = F.col("s_j").cast(dec)
    denom = m_d * F.col("s_jj").cast(dec) - s_j * s_j
    numer = m_d * F.col("s_jk").cast(dec) - s_j * s_j
    return sums.select(
        "m_directed",
        "s_j",
        "s_jj",
        "s_jk",
        F.when(
            denom != 0,
            F.round(numer.cast("double") / denom.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


def hyperball(
    und: DataFrame, max_r: int = 3, b: int = 4, salt: str = "hb"
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node neighborhood-function
    estimates |B(v, r)| — how many entities are within r hops of v — for
    r = 0..``max_r``, the centrality/effective-diameter primitive that
    made billion-node distance profiles tractable (it powered the
    Facebook "four degrees of separation" measurement).  Exact per-node
    BFS is O(V·E); HyperBall replaces each node's reach SET with a 2^b-
    register HLL sketch and uses that register MAX is associative: the
    ball sketch at r is the cell-wise max of the node's own sketch and
    its neighbors' sketches at r−1.

    Implementation reuses the grouped-HLL machinery from
    ``operators/freq.py`` verbatim (``_hll_cells`` register math,
    ``hll_estimate_grouped`` exact-integer estimator), so the register
    conventions cannot drift from the gated ``kg_pred_cardinality``
    query.  State per round is one (node, bucket, rho) table — ≤ 2^b
    rows per node however large the graph — updated by one equi-join on
    the neighbor id + one map-side-combined (node, bucket) MAX
    aggregate, checkpointed with the superseded round freed eagerly
    (per-round estimates are checkpointed too, so freeing old sketches
    never truncates their lineage).  Everything is integer/max
    arithmetic on the shared md5 primitive: bit-deterministic under any
    partitioning, and the float estimate derives from one exact-integer
    scalar per (node, r) exactly as in ``freq.hll_estimate_grouped``.

    Returns (node, r, n_used, v_zero, s_scaled, est) — ``est`` is the
    estimated ball size (BIGINT floor), ``s_scaled`` the exact-integer
    harmonic accumulator a sequential replica reproduces bit-for-bit.

    No reference analog (the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77); beyond-reference KG-analytics
    surface.
    """
    from . import freq

    nodes = und.select(F.col("a").alias("node")).distinct()
    bucket, rho = freq._hll_cells(F.col("node"), b, salt)
    sketch = cache.checkpoint(
        nodes.select("node", bucket.alias("bucket"), rho.alias("rho"))
    )

    def _est(sk: DataFrame, r: int) -> DataFrame:
        return cache.checkpoint(
            freq.hll_estimate_grouped(sk, ["node"], b).select(
                "node",
                F.lit(int(r)).alias("r"),
                "n_used",
                "v_zero",
                "s_scaled",
                "est",
            )
        )

    rounds = [_est(sketch, 0)]
    for r in range(1, int(max_r) + 1):
        contrib = und.join(sketch, und["b"] == sketch["node"]).select(
            und["a"].alias("node"), "bucket", "rho"
        )
        nxt = cache.checkpoint(
            sketch.unionByName(contrib)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
        )
        cache.free_checkpoint(sketch)
        sketch = nxt
        rounds.append(_est(sketch, r))
    cache.free_checkpoint(sketch)
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionByName(fr)
    return out
