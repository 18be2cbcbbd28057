"""Executor-storage scope (operators/cache.py): operators that persist()
intermediates register them; release_all() frees every one — a long session
running many queries must not accumulate storage memory (round-3 verdict:
unreleased persists leak executor storage in service-style sessions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from relationextractionpipeline_spark.operators import (
    cache,
    canonicalize,
    dedup,
    similarity,
)
from relationextractionpipeline_spark.plans import pipeline

SF = "/root/testdata/sf0.001"


def _persistent_ids(spark) -> set:
    """Ids of RDDs currently registered as persistent in the JVM."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    ids, it = set(), jmap.keysIterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_release_all_frees_operator_caches(spark, tiny_paths):
    """Sweep every tracked-persist operator (minhash/simhash dedup, the CC
    clustering tails, IVF, IVF-PQ, predicate canonicalization,
    staged-joinlink), materialize their results, then release: no persisted
    RDD beyond the pre-sweep set may survive.  localCheckpoint blocks are
    freed by the opt-in ``checkpoints=True`` (valid here — every result is
    materialized and not re-executed); the iterative CC frees each
    superseded round itself, so even before release the checkpoint tail is
    O(1) blocks per operator call."""
    before = _persistent_ids(spark)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dedup.near_dup_pairs_minhash(docs, jaccard_threshold=0.5).count()
    dedup.near_dup_clusters(docs, jaccard_threshold=0.5).count()
    similarity.semantic_dedup_clusters(
        emb.where(F.col("vec_id") % 5 == 0), threshold=0.25, n_planes=4
    ).count()
    dedup.near_dup_pairs_simhash(docs, max_hamming=8).count()
    similarity.ivf_topk(emb, qs, k=5, n_clusters=8, nprobe=2).count()
    similarity.ivf_pq_topk(emb, qs, k=5, n_clusters=8, nprobe=2).count()
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kbi_bc = pipeline.build_gazetteer_broadcast(spark, entity_kb)
    run = pipeline.run_staged_joinlink(transcripts, kbi_bc, entity_kb, figer_map)
    run["triples"].count()
    # the round-4 additions: packing's checkpointed range buckets, the
    # pagerank/BFS edge caches + per-round checkpoint tails
    from relationextractionpipeline_spark.operators import graphalgs, packing

    packing.pack_documents(docs, 64).count()
    from relationextractionpipeline_spark.operators import bpe, sampling

    sampling.shuffle_deterministic(docs, "doc_id").count()  # checkpointed buckets
    bpe.train_bpe(docs, 6)  # per-round checkpoint rotation frees itself
    tiny_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    graphalgs.pagerank(tiny_edges, n_iter=3).count()
    seeds = spark.createDataFrame([("a",)], "node string")
    graphalgs.bfs_distances(tiny_edges, seeds).count()

    mid = _persistent_ids(spark)
    assert len(mid - before) >= 6  # the sweep really did cache intermediates

    released = cache.release_all(checkpoints=True)
    assert released >= 6
    after = _persistent_ids(spark)
    assert after - before == set(), (
        f"leaked persisted RDDs: {sorted(after - before)}"
    )
    # idempotent: a second release is a no-op
    assert cache.release_all() == 0


def test_memo_rebuilds_once_its_checkpoints_are_freed(spark):
    """cache.memo serves one build per key and SparkContext, until the
    checkpoints that build registered are freed: then the value would
    raise on its next action, so it is built again."""
    store, calls = {}, []

    def build():
        calls.append(1)
        return cache.checkpoint(spark.range(10).withColumn("y", F.col("id") * 2))

    sc = spark.sparkContext
    first = cache.memo(store, "k", sc, build)
    assert cache.memo(store, "k", sc, build) is first
    assert len(calls) == 1

    with cache.scope():
        inner = cache.memo(store, "inner", sc, build)
    assert len(calls) == 2
    # the scope freed the inner build's checkpoint, not the outer one
    assert cache.memo(store, "inner", sc, build) is not inner
    assert cache.memo(store, "k", sc, build) is first
    assert len(calls) == 3

    cache.release_all(checkpoints=True)
    again = cache.memo(store, "k", sc, build)
    assert again is not first and len(calls) == 4
    assert again.agg(F.sum("y")).first()[0] == 90
    # a value built in another SparkContext is never served
    cache.memo(store, "k", object(), build)
    assert len(calls) == 5
