"""Entity/predicate canonicalization: minhash-LSH + connected components.

The genuinely new distributed piece (SURVEY.md §4 custom item 1-2;
BASELINE.json north_star): cluster entity references that denote the same
real-world entity, assign one canonical id per cluster, and rewrite the edges
table onto canonical ids before graph materialization.

Cluster evidence, in order of strength:
1. same disambiguated URL (alias surfaces already collapse there — the
   linker's job, nel.py:286-315);
2. minhash-LSH near-duplicate surface strings, verified by exact shingle
   Jaccard to kill LSH false positives (notInWiki long tail).

Two plans compute the same key map (ent_key → canonical_id, every distinct
key), chosen by the size of the distinct key table
(``_KEY_TABLE_DRIVER_MAX_ROWS``):

* dimension-sized tables (the usual case: distinct entity references and
  predicate strings) are collected once and clustered on the driver by
  ``_driver_components`` — minhash, LSH banding with the same slices and
  bucket cap as ``sketches.lsh_candidate_pairs``, exact Jaccard, same-URL
  stars, min-label union-find — with no further Spark job, and returned
  as a local table;
* larger tables run the distributed plan: LSH candidate pairs joined and
  verified by a pandas UDF, then ``connected_components`` — alternating
  large-star/small-star rounds with ``localCheckpoint()`` per round to cut
  lineage (no GraphFrames dependency), or a driver union-find once the
  verified edge list is at most ``_CC_DRIVER_MAX_EDGES``; its labels are
  joined back to the distinct keys (``_canonical_keys``).

Either way the canonical id of a cluster is its min key, and the entities,
edges and predicate-map joins downstream are the same.
"""

from __future__ import annotations

from typing import Dict, Iterable, NamedTuple, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from relationextractionpipeline_spark.operators import cache, sketches


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``algorithm='star'`` (default): alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — converges in O(log n) rounds regardless of component diameter, the
    right behavior for the long near-dup chains a 100 TB corpus produces.
    ``algorithm='minlabel'``: simple min-label propagation (O(diameter)
    rounds); kept as the reference implementation the star variant is
    equivalence-tested against.

    Either way each round is a constant number of shuffles and the working
    edge set is ``localCheckpoint``-ed so plan size stays O(1) per round
    (SURVEY.md §4).
    """
    if algorithm == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    return _connected_components_minlabel(edges, src, dst, max_iter)


# Driver-side CC bound, in edges: an edge list at or below it is collected
# (~32 MB at two longs per edge, far under spark.driver.maxResultSize;
# string node ids cost more per edge) and closed with a sequential union-find; the
# distributed star loop handles anything larger.  Same scale-adaptive
# bounded-collect pattern as the ANN query-side collects
# (similarity._collect_query_pdf): each star round is ~10 tiny shuffle
# stages, so a near-empty fixpoint loop costs seconds of pure scheduling
# at any scale — while the labels of a bounded edge set are a
# milliseconds-sized sequential job.  0 disables the driver path entirely
# (tests/test_cc_driver.py sets it to force the distributed loop).
_CC_DRIVER_MAX_EDGES = 2_000_000


def _union_find_labels(edges: Iterable[Tuple]) -> Dict:
    """node → component for every node of an edge list, by sequential
    union-find: exactly the star loop's fixpoint (component = min node id
    in the component; nodes = every id appearing in an edge).
    Deterministic: label assignment is order-independent (min over the
    component)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller id becomes the root, so every
            # root IS its component's minimum at all times
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def _labels_frame(spark, labels: Dict, dtype: T.DataType) -> DataFrame:
    """(node, component) rows of ``labels``, sorted by node (a null node
    first), as a local DataFrame with both columns of the node type."""
    out = pd.DataFrame(
        sorted(labels.items(), key=lambda kv: (kv[0] is not None, kv[0])),
        columns=["node", "component"],
    )
    schema = T.StructType([
        T.StructField("node", dtype),
        T.StructField("component", dtype),
    ])
    return spark.createDataFrame(out, schema=schema)


def _cc_driver_labels(base: DataFrame) -> DataFrame:
    """(node, component) via :func:`_union_find_labels` over a collected
    edge list, computed driver-side."""
    u_type, v_type = base.schema["u"].dataType, base.schema["v"].dataType
    if u_type != v_type:
        # node and component share one column type; mixed endpoint types
        # would mis-cast one side
        raise TypeError(
            f"connected_components: src is {u_type.simpleString()} but dst "
            f"is {v_type.simpleString()}; cast both to one type"
        )
    pdf = base.toPandas()
    labels = _union_find_labels(zip(pdf["u"].tolist(), pdf["v"].tolist()))
    return _labels_frame(base.sparkSession, labels, u_type)


def _connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    spark = edges.sparkSession
    # materialize the (possibly expensive — LSH banding + Jaccard UDF)
    # edges plan exactly ONCE: nodes and the symmetrized working set each
    # embed the input subtree twice, so without this the upstream pair
    # pipeline would execute four times
    base = cache.checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    if _CC_DRIVER_MAX_EDGES > 0:
        # the checkpoint above already materialized the pair pipeline, so
        # this count is a cached-block scan, not a recompute
        if base.count() <= _CC_DRIVER_MAX_EDGES:
            labels = _cc_driver_labels(base)
            cache.free_checkpoint(base)
            return labels
    nodes = cache.checkpoint(
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
    )
    # work on an undirected simple edge set without self loops
    e = cache.checkpoint(
        base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    cache.free_checkpoint(base)

    def star(e_: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over the relevant neighborhood ∪ {u}
        if large:
            nbrs = e_  # all neighbors
        else:
            nbrs = e_.where(F.col("v") < F.col("u"))  # smaller neighbors only
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        if large:
            # connect strictly larger neighbors to m(u)
            out = (
                e_.where(F.col("v") > F.col("u"))
                .join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        else:
            # connect u and its smaller neighbors to m(u)
            out = nbrs.join(m, "u").select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(m.select(F.col("u"), F.col("m").alias("v")))
        # re-symmetrize, drop self loops
        return (
            out.select("u", "v")
            .union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = -1
    for _ in range(max_iter):
        # one checkpoint per round bounds lineage to two star expansions
        new_e = cache.checkpoint(star(star(e, large=True), large=False))
        # fixpoint when the edge multiset stops changing (count + hash)
        sig_row = new_e.select(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        # the superseded round's blocks are dead the moment new_e is
        # materialized (cache.checkpoint is eager): free them NOW instead of
        # holding every round's edge set in executor storage for the whole
        # fixpoint — at 100 TB the working set stays one round, not O(log n)
        cache.free_checkpoint(e)
        e = new_e
        if sig == prev_sig:
            break
        prev_sig = sig
    # the final round's blocks stay registered: the labels below read them
    # lazily; release_all(checkpoints=True) frees them once results are out
    # at the fixpoint the graph is a union of stars centered at component minima
    labels = (
        e.groupBy("u").agg(F.min("v").alias("m"))
        .select("u", F.least(F.col("u"), F.col("m")).alias("component"))
    )
    return (
        nodes.join(labels, nodes["node"] == labels["u"], "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def _connected_components_minlabel(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    # base is materialized first so the (possibly expensive) upstream
    # candidate generation — LSH banding, Jaccard verification — runs
    # exactly once: the symmetrizing union embeds the input subtree twice,
    # and sym itself is re-scanned every iteration
    base = cache.checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    sym = cache.checkpoint(
        base.union(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    cache.free_checkpoint(base)
    labels_ck = cache.checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = labels_ck
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        new_ck = cache.checkpoint(
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = new_ck.where(F.col("label") != F.col("old_label")).count()
        # previous round's label blocks are dead once new_ck materialized
        cache.free_checkpoint(labels_ck)
        labels_ck = new_ck
        labels = new_ck.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def _jaccard_udf(shingle_k: int):
    """Arrow-batched exact char-shingle Jaccard — the LSH verification step
    shared by the batch and incremental pair generators."""

    @F.pandas_udf(T.DoubleType())
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                sketches.jaccard(
                    sketches.char_shingles(x or "", shingle_k),
                    sketches.char_shingles(y or "", shingle_k),
                )
                for x, y in zip(a, b)
            ]
        )

    return jac


def candidate_pairs_for_entities(
    ents: DataFrame,
    surface_col: str = "surface",
    url_col: str = "url",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
    sigs: Optional[DataFrame] = None,
) -> DataFrame:
    """Edges (src,dst) over entity keys: same-URL pairs + verified near-dups.

    Input must be distinct (ent_key, surface, url) rows; ent_key is the
    canonical entity string (P11 output).  ``sigs`` (optional) supplies
    precomputed minhash signatures over the distinct (ent_key, surface)
    rows so a caller that persists them (:func:`entity_graph_state`)
    doesn't pay the shingling UDF twice.
    """
    # evidence 1: same URL — star edges to the min key per URL (no pair blowup)
    url_star = (
        ents.groupBy(url_col)
        .agg(F.min("ent_key").alias("root"), F.collect_set("ent_key").alias("ks"))
        .select(F.col("root").alias("src"), F.explode("ks").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    # evidence 2: LSH near-dup surfaces, Jaccard-verified
    if sigs is None:
        sigs = sketches.with_minhash(
            ents.select("ent_key", surface_col).distinct(),
            surface_col,
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            mode="char",
        )
    cand = sketches.lsh_candidate_pairs(sigs, "ent_key", "minhash", bands=bands)
    surf = ents.select(F.col("ent_key"), F.col(surface_col)).distinct()
    pairs = (
        cand.join(
            surf.select(
                F.col("ent_key").alias("id_a"), F.col(surface_col).alias("surf_a")
            ),
            "id_a",
        ).join(
            surf.select(
                F.col("ent_key").alias("id_b"), F.col(surface_col).alias("surf_b")
            ),
            "id_b",
        )
    )

    # the shared verification UDF — one implementation so batch and
    # incremental threshold semantics cannot drift
    jac = _jaccard_udf(shingle_k)
    near = (
        pairs.withColumn("j", jac("surf_a", "surf_b"))
        .where(F.col("j") >= F.lit(jaccard_threshold))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return url_star.union(near).distinct()


# Driver-side canonicalization bound, in key-table rows: a distinct key
# table (entities: (ent_key, surface, url); predicates: pred) of at most
# this many rows is collected once and clustered by _driver_components; a
# larger one takes the distributed LSH → connected_components plan.  At
# dimension sizes that plan is ~12 Spark jobs per call, each paying fixed
# scheduling, plan-compilation and Python-worker start-up cost whatever its
# row count.  Crossover, wall seconds driver vs distributed on local[4]
# (4-core VM, warm JVM) over synthetic entity key tables built from 15
# syllables, so near-dup candidates are dense and the driver's
# single-threaded pair work grows fastest: 1.1 vs 4.3 at 10k rows, 7.5 vs
# 10.4 at 50k, 22.8 vs 22.7 at 100k, 78 vs 64 at 200k.  The bound sits
# below the ~100k tie; the collect it allows is a few MB.  0 disables the
# driver path (tests set it to force the distributed plan, as
# tests/test_cc_driver.py does for _CC_DRIVER_MAX_EDGES).
_KEY_TABLE_DRIVER_MAX_ROWS = 50_000


def _driver_components(
    keys: DataFrame,
    surface_col: str,
    url_col: Optional[str],
    n_hashes: int,
    bands: int,
    shingle_k: int,
    jaccard_threshold: float,
) -> Optional[DataFrame]:
    """(ent_key, canonical_id) for every key of a distinct key table
    clustered on the driver, as a local table, or ``None`` when the table
    has more than ``_KEY_TABLE_DRIVER_MAX_ROWS`` rows (the caller then runs
    the distributed plan and ``_canonical_keys``).  Singletons and a null
    key map to themselves, as ``_canonical_keys`` maps them.

    The same evidence and labels as :func:`candidate_pairs_for_entities`
    followed by :func:`connected_components`: minhash over char shingles
    of ``surface_col`` per distinct (ent_key, surface) row; LSH banding
    (:func:`sketches.lsh_candidate_pairs_local`); exact Jaccard over every
    surface pair of a candidate key pair; same-``url_col`` star edges to
    the min key when ``url_col`` is given; min-label union-find.  Nulls as
    in the Spark plan: a null surface sketches as ``""``, a null key sizes
    buckets but never pairs, and a null url is one group."""
    rows = (
        keys.select(
            "ent_key", surface_col, *([url_col] if url_col else [])
        )
        .limit(_KEY_TABLE_DRIVER_MAX_ROWS + 1)
        .collect()
    )
    if len(rows) > _KEY_TABLE_DRIVER_MAX_ROWS:
        return None
    surf_rows = {(r[0], r[1]) for r in rows}
    sig_memo: Dict[str, list] = {}
    shingle_memo: Dict[str, set] = {}
    surfaces: Dict = {}
    for key, surface in surf_rows:
        text = surface or ""
        if text not in sig_memo:
            shingles = sketches.char_shingles(text, shingle_k)
            shingle_memo[text] = set(shingles)
            sig_memo[text] = sketches.minhash_signature(shingles, n_hashes)
        surfaces.setdefault(key, []).append(text)
    cand = sketches.lsh_candidate_pairs_local(
        [k for k, _s in surf_rows],
        [sig_memo[s or ""] for _k, s in surf_rows],
        bands=bands,
    )

    def similar(a: str, b: str) -> bool:
        # sketches.jaccard over the memoized shingle sets, without copying
        sa, sb = shingle_memo[a], shingle_memo[b]
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter) >= jaccard_threshold

    edges = [
        (a, b)
        for a, b in cand
        if any(similar(x, y) for x in surfaces[a] for y in surfaces[b])
    ]
    if url_col:
        by_url: Dict = {}
        for key, _surface, url in rows:
            if key is not None:
                by_url.setdefault(url, set()).add(key)
        for ks in by_url.values():
            root = min(ks)
            edges.extend((root, k) for k in ks if k != root)
    labels = _union_find_labels(edges)
    return _labels_frame(
        keys.sparkSession,
        {k: labels.get(k, k) for k in surfaces},
        keys.schema["ent_key"].dataType,
    ).toDF("ent_key", "canonical_id")


def _canonical_keys(keys: DataFrame, comps: DataFrame) -> DataFrame:
    """(ent_key, canonical_id) for every distinct key of ``keys``: its
    component in the (node, component) labels ``comps``, or itself."""
    return (
        keys.select("ent_key")
        .distinct()
        .join(comps, F.col("ent_key") == F.col("node"), "left")
        .select(
            "ent_key",
            F.coalesce(F.col("component"), F.col("ent_key")).alias("canonical_id"),
        )
    )


def entity_refs(links: DataFrame) -> DataFrame:
    """Per-mention entity reference rows with the P11 cluster key.

    ``ent_key`` is the canonical entity string (nel.py:286-315 semantics):
    the last URL path segment for linked entities, the space→underscore
    surface for the notInWiki long tail."""
    ent_key = F.when(
        F.col("url").contains("notInWiki"),
        F.regexp_replace(F.col("surface"), " ", "_"),
    ).otherwise(F.element_at(F.split(F.col("url"), "/"), -1))
    return links.select(
        ent_key.alias("ent_key"), "surface", "url", "figer", "kind"
    )


def canonicalize_predicates(
    triples: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 2,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Predicate canonicalization: cluster near-duplicate predicate strings
    (minhash-LSH over char shingles + CC) → (pred, pred_canonical, pred_id).

    The reference emits raw predicate strings (lemma + particle/xcomp/case
    suffixes, binary_relation.py:253-266) with no normalization; at corpus
    scale near-identical predicates ('hand_off.to' / 'hand_off.too' OCR-type
    variants) fragment the edge set, so the north_star asks for the same
    LSH+CC treatment entities get.  Verified near-dups cluster; the canonical
    form is the cluster's min string; singletons map to themselves.
    """
    preds = triples.select("pred").distinct().withColumnRenamed("pred", "ent_key")
    keyed = _driver_components(
        preds, "ent_key", None, n_hashes, bands, shingle_k, jaccard_threshold
    )
    if keyed is None:
        # tracked persist — caller releases (operators/cache.py)
        sigs = cache.track(
            sketches.with_minhash(
                preds, "ent_key", n_hashes=n_hashes, shingle_k=shingle_k,
                mode="char",
            )
        )
        cand = sketches.lsh_candidate_pairs(
            sigs, "ent_key", "minhash", bands=bands
        )
        # predicates ARE their own ids here: cand's id_a/id_b come from
        # sigs over preds itself, so no join-back is needed before
        # verification (merge_predicate_batch applies jac directly the
        # same way)
        jac = _jaccard_udf(shingle_k)
        near = (
            cand.withColumn("j", jac("id_a", "id_b"))
            .where(F.col("j") >= jaccard_threshold)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        keyed = _canonical_keys(preds, connected_components(near))
    return keyed.select(
        F.col("ent_key").alias("pred"),
        F.col("canonical_id").alias("pred_canonical"),
    ).withColumn("pred_id", F.xxhash64("pred_canonical"))


class EntityGraphState(NamedTuple):
    """Persistable canonical-entity-graph state for incremental maintenance.

    ``refs``   — every distinct (ent_key, surface, url) reference row ever
                 seen: the pair-evidence universe (new batches anti-join it).
    ``assign`` — (ent_key, canonical_id): the connected-component label
                 (min ent_key of the component) for every known key.
    ``sigs``   — (ent_key, surface, minhash): persisted signatures over the
                 distinct (ent_key, surface) rows, so per-batch merges only
                 sketch the batch's NOVEL surfaces (the DocDedupState
                 discipline) instead of re-running the shingling UDF over
                 the full history.  ``None`` (a legacy or partially-written
                 state) degrades gracefully: the merge self-heals by
                 sketching whatever rows the table is missing.

    All tables round-trip through :class:`sources.tableio.TableIO`, so the
    state lives next to the triple table the streaming upserter maintains.
    """

    refs: DataFrame
    assign: DataFrame
    sigs: Optional[DataFrame] = None


def _assignment_from_pairs(ents: DataFrame, pair_edges: DataFrame) -> DataFrame:
    """(ent_key, canonical_id) from pair evidence; singletons map to self."""
    comps = connected_components(pair_edges)
    return (
        ents.select("ent_key")
        .distinct()
        .join(comps, F.col("ent_key") == F.col("node"), "left")
        .select(
            "ent_key",
            F.coalesce(F.col("component"), F.col("ent_key")).alias("canonical_id"),
        )
    )


def entity_graph_state(
    links: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> EntityGraphState:
    """Initial state from a first batch — the batch clustering of
    :func:`canonicalize`, packaged for incremental growth.  Signatures are
    sketched ONCE here, fed to candidate generation, and persisted in the
    state so later merges never re-sketch these rows."""
    ents = cache.checkpoint(
        entity_refs(links).select("ent_key", "surface", "url").distinct()
    )
    sigs = cache.checkpoint(
        sketches.with_minhash(
            ents.select("ent_key", "surface").distinct(),
            "surface",
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            mode="char",
        )
    )
    pair_edges = candidate_pairs_for_entities(
        ents,
        n_hashes=n_hashes,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
        sigs=sigs,
    )
    assign = cache.checkpoint(_assignment_from_pairs(ents, pair_edges))
    return EntityGraphState(refs=ents, assign=assign, sigs=sigs)


def merge_entity_batch(
    state: EntityGraphState,
    new_links: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> EntityGraphState:
    """Merge a new batch of linked mentions into an existing canonical
    entity graph WITHOUT re-clustering history — the canonicalization
    analog of the streaming triple upserter (streaming/upsert.py).

    Exactness (not an approximation): connected components factor through
    the quotient by any prior partial clustering, and the canonical label
    (min ent_key) is an associative reduction — so new pair evidence is
    contracted onto prior component labels, CC runs on that batch-sized
    quotient graph, and the composed assignment EQUALS a one-shot batch run
    over the union (tests/test_canonicalize_incremental.py asserts exact
    equality, and ``kg_entities_incr`` gates it against the sequential
    union-find oracle).  Pair evidence is incremental too: new rows probe
    the union's LSH buckets (sketches.lsh_candidate_pairs_incremental) and
    the affected URL groups only, and the union's signatures come from
    ``state.sigs`` plus a sketch of the batch's NOVEL surfaces alone (the
    shingling UDF never re-runs over history; a state with absent or
    partially-written ``sigs`` self-heals by sketching the missing rows) —
    so per-batch work scales with the batch: at 10^12 turns the graph
    history is never re-shuffled OR re-sketched.  Caveat shared with the
    batch path: if an LSH ``max_bucket`` cap triggers, results are
    population-order-dependent (cap-free regime is exact).

    The parameters must match the ones the state was built with; they are
    the batch defaults of :func:`candidate_pairs_for_entities`.
    """
    new_rows = cache.checkpoint(
        entity_refs(new_links)
        .select("ent_key", "surface", "url")
        .distinct()
        .join(state.refs, ["ent_key", "surface", "url"], "left_anti")
    )

    # evidence 1: same-URL stars over AFFECTED url groups (old members of a
    # url a new row shares + the new rows).  Root choice differs from a
    # one-shot batch but connectivity — all CC sees — is identical.
    affected = new_rows.select("url").distinct()
    group = (
        state.refs.join(affected, "url", "left_semi")
        .select("url", "ent_key")
        .union(new_rows.select("url", "ent_key"))
        .distinct()
    )
    url_star = (
        group.groupBy("url")
        .agg(F.min("ent_key").alias("src"), F.collect_set("ent_key").alias("ks"))
        .select("src", F.explode("ks").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )

    # evidence 2: LSH near-dup surfaces touching a NOVEL (ent_key, surface)
    # row, Jaccard-verified against the union surface table.  Probing only
    # novel pairs is exact: every (x, y) candidate a one-shot run finds is
    # found here when the later-arriving of x, y is the probe side.
    old_su = state.refs.select("ent_key", "surface").distinct()
    new_su = (
        new_rows.select("ent_key", "surface")
        .distinct()
        .join(old_su, ["ent_key", "surface"], "left_anti")
    )
    union_su = old_su.union(new_su)

    def _sketch(su: DataFrame) -> DataFrame:
        return sketches.with_minhash(
            su, "surface", n_hashes=n_hashes, shingle_k=shingle_k, mode="char"
        )

    # history signatures from state, self-healed: constrain to the current
    # refs (a kill between the refs and sigs writes can leave extras) and
    # sketch only whatever rows are missing (absent sigs → sketch all)
    if state.sigs is None:
        sigs_old = _sketch(old_su)
    else:
        have = state.sigs.join(old_su, ["ent_key", "surface"], "left_semi")
        missing = old_su.join(
            state.sigs.select("ent_key", "surface"),
            ["ent_key", "surface"],
            "left_anti",
        )
        sigs_old = have.unionByName(_sketch(missing))
    # checkpointed: read once for candidate generation, once for the
    # returned state — without this the legacy (sigs=None) full re-sketch
    # would run twice
    sigs_old = cache.checkpoint(sigs_old)
    sigs_new = cache.checkpoint(_sketch(new_su))
    sigs_all = sigs_old.unionByName(sigs_new)
    cand = sketches.lsh_candidate_pairs_incremental(
        sigs_new, sigs_all, "ent_key", "minhash", bands=bands
    )
    pairs = cand.join(
        union_su.select(F.col("ent_key").alias("id_a"), F.col("surface").alias("surf_a")),
        "id_a",
    ).join(
        union_su.select(F.col("ent_key").alias("id_b"), F.col("surface").alias("surf_b")),
        "id_b",
    )
    near = (
        pairs.withColumn("j", _jaccard_udf(shingle_k)("surf_a", "surf_b"))
        .where(F.col("j") >= F.lit(jaccard_threshold))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

    # contract new evidence onto prior component labels (quotient graph):
    # endpoints already known map to their canonical id, new keys to
    # themselves.  Old–old edges regenerated by the url groups collapse to
    # self-loops here and drop out.
    amap = state.assign
    q_edges = (
        url_star.union(near)
        .distinct()
        .join(
            amap.select(F.col("ent_key").alias("src"), F.col("canonical_id").alias("src_c")),
            "src",
            "left",
        )
        .join(
            amap.select(F.col("ent_key").alias("dst"), F.col("canonical_id").alias("dst_c")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("src_c", F.col("src")).alias("src"),
            F.coalesce("dst_c", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    # materialize once: the isEmpty probe AND connected_components both
    # read the (UDF-verified) quotient-edge plan
    q_edges = cache.checkpoint(q_edges)

    if q_edges.isEmpty():  # no linking evidence: pure appends
        comps = None
    else:
        comps = connected_components(q_edges)

    def relabel(df: DataFrame, key: str) -> DataFrame:
        if comps is None:
            return df.select("ent_key", F.col(key).alias("canonical_id"))
        return df.join(comps, df[key] == comps["node"], "left").select(
            "ent_key",
            F.coalesce(F.col("component"), F.col(key)).alias("canonical_id"),
        )

    # prior keys follow their (possibly merged) component label; genuinely
    # new keys get their quotient label or stay singletons.  Component
    # labels are min-ent_key, and each prior canonical_id is the min of its
    # members, so min over quotient labels == min over the merged component.
    updated = relabel(state.assign, "canonical_id")
    new_keys = (
        new_rows.select("ent_key").distinct().join(amap, "ent_key", "left_anti")
    )
    added = relabel(new_keys, "ent_key")
    return EntityGraphState(
        refs=cache.checkpoint(state.refs.union(new_rows)),
        assign=cache.checkpoint(updated.union(added)),
        sigs=cache.checkpoint(sigs_old.unionByName(sigs_new)),
    )


class PredicateGraphState(NamedTuple):
    """Incremental counterpart of :func:`canonicalize_predicates`:
    ``preds`` — every distinct predicate string seen; ``assign`` —
    (pred, pred_canonical); ``sigs`` — (ent_key, minhash) persisted
    signatures (``None`` self-heals, as in :class:`EntityGraphState`)."""

    preds: DataFrame
    assign: DataFrame
    sigs: Optional[DataFrame] = None


def predicate_graph_state(
    triples: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 2,
    jaccard_threshold: float = 0.8,
) -> PredicateGraphState:
    """Initial predicate-cluster state from a first batch — the clustering
    of :func:`canonicalize_predicates`, packaged for incremental growth."""
    mapped = canonicalize_predicates(
        triples,
        n_hashes=n_hashes,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
    )
    assign = cache.checkpoint(mapped.select("pred", "pred_canonical"))
    # predicates are a tiny dimension (distinct strings), so sketching them
    # once more for the persisted state costs ~nothing
    sigs = cache.checkpoint(
        sketches.with_minhash(
            assign.select(F.col("pred").alias("ent_key")),
            "ent_key",
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            mode="char",
        )
    )
    return PredicateGraphState(
        preds=assign.select("pred"), assign=assign, sigs=sigs
    )


def merge_predicate_batch(
    state: PredicateGraphState,
    new_triples: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 2,
    jaccard_threshold: float = 0.8,
) -> PredicateGraphState:
    """Merge a new batch's predicate strings into an existing predicate
    cluster state — same quotient-graph CC exactness argument as
    :func:`merge_entity_batch` (predicates have a single evidence source:
    LSH near-dup strings), same idempotency under replay (known predicates
    anti-join away).  Work scales with the batch's NOVEL predicate strings,
    which at corpus scale go rare fast."""
    new_preds = cache.checkpoint(
        new_triples.select("pred")
        .distinct()
        .join(state.preds, "pred", "left_anti")
        .withColumnRenamed("pred", "ent_key")
    )
    old = state.preds.withColumnRenamed("pred", "ent_key")

    def _sketch(df: DataFrame) -> DataFrame:
        return sketches.with_minhash(
            df, "ent_key", n_hashes=n_hashes, shingle_k=shingle_k, mode="char"
        )

    # history signatures from state, self-healed (see merge_entity_batch)
    if state.sigs is None:
        sigs_old = _sketch(old)
    else:
        have = state.sigs.join(old, ["ent_key"], "left_semi")
        missing = old.join(
            state.sigs.select("ent_key"), ["ent_key"], "left_anti"
        )
        sigs_old = have.unionByName(_sketch(missing))
    sigs_old = cache.checkpoint(sigs_old)
    sigs_new = cache.checkpoint(_sketch(new_preds))
    sigs_all = sigs_old.unionByName(sigs_new)
    cand = sketches.lsh_candidate_pairs_incremental(
        sigs_new, sigs_all, "ent_key", "minhash", bands=bands
    )
    near = (
        cand.withColumn("j", _jaccard_udf(shingle_k)("id_a", "id_b"))
        .where(F.col("j") >= F.lit(jaccard_threshold))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    amap = state.assign
    q_edges = (
        near.join(
            amap.select(
                F.col("pred").alias("src"), F.col("pred_canonical").alias("src_c")
            ),
            "src",
            "left",
        )
        .join(
            amap.select(
                F.col("pred").alias("dst"), F.col("pred_canonical").alias("dst_c")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("src_c", F.col("src")).alias("src"),
            F.coalesce("dst_c", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    # materialized once for the isEmpty probe + CC (see merge_entity_batch)
    q_edges = cache.checkpoint(q_edges)
    comps = None if q_edges.isEmpty() else connected_components(q_edges)

    def relabel(df: DataFrame, key: str) -> DataFrame:
        if comps is None:
            return df.select(
                F.col("pred"), F.col(key).alias("pred_canonical")
            )
        return df.join(comps, df[key] == comps["node"], "left").select(
            "pred",
            F.coalesce(F.col("component"), F.col(key)).alias("pred_canonical"),
        )

    updated = relabel(state.assign, "pred_canonical")
    added = relabel(
        new_preds.select(F.col("ent_key").alias("pred")), "pred"
    )
    assign = cache.checkpoint(updated.union(added))
    return PredicateGraphState(
        preds=assign.select("pred"),
        assign=assign,
        sigs=cache.checkpoint(sigs_old.unionByName(sigs_new)),
    )


def entities_from_assign(links: DataFrame, assign: DataFrame) -> DataFrame:
    """The :func:`canonicalize` entities rollup, from an externally
    maintained assignment (e.g. an :class:`EntityGraphState` grown
    incrementally)."""
    refs = entity_refs(links)
    return (
        refs.join(assign, "ent_key")
        .groupBy("canonical_id")
        .agg(
            F.collect_set("ent_key").alias("keys"),
            F.collect_set("surface").alias("surfaces"),
            F.collect_set("url").alias("urls"),
            F.collect_set("figer").alias("types"),
            F.count("*").alias("n_mentions"),
        )
        .withColumn("entity_id", F.xxhash64("canonical_id"))
    )


def canonicalize(
    triples: DataFrame,
    links: DataFrame,
) -> Tuple[DataFrame, DataFrame]:
    """(entities, edges): cluster entity strings, rewrite triples.

    ``links`` — exploded linked mentions (conv_id, turn_idx, sent_idx,
    mention_id, surface, kind, url, figer).  ``triples`` — extractor output.

    Returns:
      entities(entity_id, canonical_id, ent_key, surfaces, urls, types, n_mentions)
      edges = triples + (subj_id, obj_id) canonical ids.

    Clustering runs eagerly (Spark actions): one collect of the distinct
    key table, plus the distributed LSH/CC plan when that table is larger
    than ``_KEY_TABLE_DRIVER_MAX_ROWS``.
    """
    # refs feeds candidate generation, the entities rollup and the key
    # map — checkpoint so the UDF pipeline upstream runs once
    refs = cache.checkpoint(entity_refs(links))
    ents = refs.select("ent_key", "surface", "url").distinct()
    # the batch defaults of candidate_pairs_for_entities, passed to both
    # plans so they cannot drift apart
    params = dict(n_hashes=32, bands=8, shingle_k=3, jaccard_threshold=0.7)
    # singletons (no edges) keep their own key as canonical id
    keyed = _driver_components(ents, "surface", "url", **params)
    if keyed is None:
        keyed = _canonical_keys(
            ents, connected_components(candidate_pairs_for_entities(ents, **params))
        )
    entities = (
        refs.join(keyed, "ent_key")
        .groupBy("canonical_id")
        .agg(
            F.collect_set("ent_key").alias("keys"),
            F.collect_set("surface").alias("surfaces"),
            F.collect_set("url").alias("urls"),
            F.collect_set("figer").alias("types"),
            F.count("*").alias("n_mentions"),
        )
        .withColumn("entity_id", F.xxhash64("canonical_id"))
    )
    key_map = keyed.select(
        F.col("ent_key"), F.col("canonical_id"), F.xxhash64("canonical_id").alias("eid")
    )
    # edges carry BOTH the stable canonical string (gate-comparable, join key
    # for humans) and its 64-bit surrogate id (the compact join key at scale)
    edges = (
        triples.join(
            key_map.select(
                F.col("ent_key").alias("subj"),
                F.col("eid").alias("subj_id"),
                F.col("canonical_id").alias("subj_canonical"),
            ),
            "subj",
            "left",
        ).join(
            key_map.select(
                F.col("ent_key").alias("obj"),
                F.col("eid").alias("obj_id"),
                F.col("canonical_id").alias("obj_canonical"),
            ),
            "obj",
            "left",
        )
    )
    return entities, edges


def structural_align_candidates(
    facts: DataFrame,
    src: str = "s",
    pred: str = "p",
    dst: str = "o",
    min_shared: int = 2,
    min_jaccard: float = 0.0,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Structure-based entity-alignment candidates: pairs of (canonical)
    entities ranked by Jaccard similarity of their typed neighborhoods.

    Canonicalization above clusters on SURFACE evidence (shared URL,
    near-duplicate strings — :func:`candidate_pairs_for_entities`); this
    operator supplies the complementary STRUCTURAL signal: two nodes that
    share no surface text but occupy the same position in the graph
    (same predicates to the same neighbors) are alignment candidates —
    the classic instance-matching signal (PARIS, Suchanek et al. 2012;
    no reference analog — the reference stops at triple emission,
    de_pipeline/pipeline.py:69-77).

    A neighborhood feature is the string ``dir + US + pred + US + other``
    (US = unit separator, U+001F) over the DISTINCT fact set, so
    multiplicity is not evidence.  For every entity pair sharing ≥
    ``min_shared`` features:

        jaccard = |F(a) ∩ F(b)| / (|F(a)| + |F(b)| − |F(a) ∩ F(b)|)

    Output: (a, b, n_shared, n_a, n_b, jaccard), a < b.

    Distributed shape: feature-keyed self-join (the same bucket-join
    skeleton as LSH candidate pairing) + two dimension-sized degree
    joins; no all-pairs product.  A feature's pair fan-out is
    C(df, 2) — hub neighbors (an entity everything links to) are the
    skew hazard at 100 TB.  ``max_df`` drops features with df >
    ``max_df`` from the PAIRING index only (degrees keep full counts),
    the same recall-only trade as the n-gram dedup df-cap
    (operators/dedup.py) — opt-in, default exact, per the round-4
    advisor convention.  The feature table is persisted for its three
    consumers and registered with operators/cache for caller-scoped
    release.
    """
    f = facts.select(
        F.col(src).alias("_s"), F.col(pred).alias("_p"), F.col(dst).alias("_d")
    ).where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    sep = "\x1f"
    feats = (
        f.select(
            F.col("_s").alias("ent"),
            F.concat_ws(sep, F.lit("out"), F.col("_p"), F.col("_d")).alias(
                "feat"
            ),
        )
        .unionByName(
            f.select(
                F.col("_d").alias("ent"),
                F.concat_ws(sep, F.lit("in"), F.col("_p"), F.col("_s")).alias(
                    "feat"
                ),
            )
        )
        .distinct()
    )
    feats = cache.track(feats)
    deg = feats.groupBy("ent").agg(F.count(F.lit(1)).alias("n"))
    index = feats
    if max_df is not None:
        hot = (
            feats.groupBy("feat")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > F.lit(int(max_df)))
            .select("feat")
        )
        index = feats.join(F.broadcast(hot), "feat", "left_anti")
    a_side = index.select(F.col("ent").alias("a"), "feat")
    b_side = index.select(F.col("ent").alias("b"), "feat")
    pairs = (
        a_side.join(b_side, "feat")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_shared)))
    )
    return (
        pairs.join(
            deg.select(F.col("ent").alias("a"), F.col("n").alias("n_a")), "a"
        )
        .join(deg.select(F.col("ent").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            "a",
            "b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(float(min_jaccard)))
    )
