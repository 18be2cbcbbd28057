"""Physical-plan audits (.explain-driven): the plans we designed for are the
plans Catalyst actually produces (scale guarantees, SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from relationextractionpipeline_spark.operators import fused, link
from relationextractionpipeline_spark.plans import pipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = d.where(F.col("n_chars") > 100).select("doc_id", "lang")
    plan = _plan(q)
    scan = [l for l in plan.splitlines() if "Scan parquet" in l or "PushedFilters" in l]
    joined = " ".join(scan)
    assert "GreaterThan(n_chars" in joined  # predicate reached the scan
    assert "text" not in joined.split("ReadSchema:")[-1]  # column pruned


def test_fused_extract_path_has_no_shuffle(spark, tiny_paths):
    run = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    for out in ("triples", "links"):
        plan = _plan(run[out])
        # scan → mapInPandas → rows: fully narrow
        assert "Exchange" not in plan, out


def test_staged_path_evaluates_each_udf_once(spark, tiny_paths):
    """Regression gate for the InferFiltersFromGenerate duplication: without
    the .asNondeterministic() fences a UDF-chain plan evaluated the WHOLE
    segment→parse→mentions→triples Arrow chain twice (an inferred size()>0
    filter cloned every upstream UDF).  The joinlink path is the one UDF
    chain left; each of its stages must appear exactly once."""
    run = pipeline.run_pipeline(spark, tiny_paths, mode="staged-joinlink")
    # the persisted parse table's plan prints under each of its two
    # InMemoryTableScans but runs once: count distinct plan lines
    lines = {l.lstrip(" :+-") for l in _plan(run["triples"]).splitlines()}
    for udf in ("segment_udf", "parse_full_udf", "mentions_udf",
                "triples_udf"):
        n = sum(udf in l for l in lines)
        assert n == 1, f"{udf} evaluated {n}×"
    assert sum("ArrowEvalPython" in l for l in lines) == 4
    spark.catalog.clearCache()


def test_joinlink_path_parses_once(spark, tiny_paths):
    """run_staged_joinlink references `parsed` on both sides of the regroup
    join; the persist must keep segment+parse from re-running per branch
    (InMemoryTableScan on the reused branch instead of a second UDF chain)."""
    run = pipeline.run_pipeline(spark, tiny_paths, mode="staged-joinlink")
    plan = _plan(run["triples"])
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_link_broadcast_join_is_broadcast(spark, tiny_paths):
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kbi_bc = pipeline.build_gazetteer_broadcast(spark, entity_kb)
    rows = fused.mention_rows_fused(transcripts, kbi_bc)
    out = link.link_mentions_broadcast_join(rows, entity_kb, figer_map)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # small dims must not sort-merge


def test_assembly_is_single_shuffle_with_partial_agg(spark, tiny_paths):
    run = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    plan = _plan(run["assembled"])
    # exactly one exchange (the groupBy conv_id shuffle)
    assert plan.count("Exchange hashpartitioning") == 1
    # map-side partial aggregation present (ObjectHashAggregate partial+final)
    assert plan.count("Aggregate") >= 2


def test_sft_pairs_single_exchange_single_window(spark):
    """The adjacency lead and the context frame share one window spec, so
    Catalyst must plan ONE conv_id Exchange and ONE Window operator — a
    second of either means the specs drifted apart and the extraction
    shuffles the transcripts twice."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_sft_pairs"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_flagship_agg_partial_before_shuffle(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    plan = _plan(df)
    assert "HashAggregate" in plan and "Exchange" in plan
    assert "TakeOrderedAndProject" in plan  # top-k never full-sorts


def test_ivfpq_rerank_broadcasts_shortlist_not_corpus(spark):
    """The exact re-rank join must build on the shortlist side (BuildLeft):
    at 100 TB the corpus-vector side can never broadcast, and without the
    pinned hint Catalyst picked it at tiny scale."""
    from relationextractionpipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_pq_topk(emb, qs, k=5, n_clusters=16, nprobe=4,
                                 shortlist=25)
    plan = _plan(out)
    rerank = [
        l for l in plan.splitlines()
        if "BroadcastHashJoin [neighbor_id" in l
    ]
    assert rerank and all("BuildLeft" in l for l in rerank)
    spark.catalog.clearCache()


def test_ivf_index_scan_prunes_to_probed_cells(spark, tmp_path):
    """ivf_topk_from_index must push the probed cell ids into the
    cell-partitioned index scan as a static partition filter — the partition
    prune IS the IVF prune; without it every cell= directory is read and the
    index is dead weight."""
    from relationextractionpipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf_plan_idx")
    similarity.build_ivf_index(emb, idx, n_clusters=8)
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2)
    plan = _plan(out)
    scans = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "cell" in l and "IN" in l.upper()
    ]
    assert scans, f"no cell IN (...) partition filter in plan:\n{plan}"
    spark.catalog.clearCache()


def test_no_query_uses_cartesian_or_row_python(spark, sf0001_queries):
    """Sweep EVERY driver-contract query's physical plan: no CartesianProduct
    (table-level cross joins are banned — bucketed/broadcast joins only) and
    no row-at-a-time Python evaluation (BatchEvalPython = non-Arrow UDF; all
    Python must cross via Arrow: ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas)."""
    import __spark_entry__ as entrymod

    allowed_cross = {"q_embed_topk"}  # explicit broadcast(queries) × corpus
    # the TransE trio returns the MEMOIZED trained model (createDataFrame —
    # a trivial plan), but building the memo runs full training (~2 min at
    # tiny); the meaningful plan (the link-pred scoring join) is asserted
    # training-free in test_linkpred_plan_is_equi_join below
    memo_trained = {"kg_transe", "kg_linkpred", "kg_linkpred_mrr"}
    for name in entrymod.queries():
        if name in memo_trained:
            continue
        plan = _plan(sf0001_queries[name])
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
        if name not in allowed_cross:
            assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        spark.catalog.clearCache()


def test_linkpred_plan_is_equi_join(spark):
    """link_prediction_ranks' candidate scoring must be an equi-join on
    the dimension key (broadcast/shuffled hash or sort-merge — Catalyst's
    choice), never a CartesianProduct, and pure JVM (no Python)."""
    import pandas as pd

    from relationextractionpipeline_spark.operators import kgembed

    ent = spark.createDataFrame(
        pd.DataFrame(
            [(f"e{i}", j, 0.1 * (i + j)) for i in range(6) for j in range(4)],
            columns=["id", "j", "w"],
        )
    )
    rel = spark.createDataFrame(
        pd.DataFrame(
            [("r", j, 0.05 * j) for j in range(4)], columns=["id", "j", "w"]
        )
    )
    facts = spark.createDataFrame(
        pd.DataFrame(
            [(f"e{i}", "r", f"e{(i+1) % 6}") for i in range(6)],
            columns=["s", "p", "o"],
        )
    )
    plan = _plan(kgembed.link_prediction_ranks(facts, ent, rel, test_mod=1))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
