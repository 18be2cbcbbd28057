"""Sequential-oracle materializations (sources/oracle_mat.py) must agree
with the distributed operators they gate — otherwise the driver's DuckDB
comparison would be testing the materialization, not the engine."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from relationextractionpipeline_spark.operators import (
    multimodal,
    similarity,
    sketches,
)
from relationextractionpipeline_spark.plans import pipeline
from relationextractionpipeline_spark.sources import oracle_mat

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("oracle_mat"))


def test_links_kernel_matches_mention_rows_and_link_replay(spark, data_dir):
    """The fused links kernel ≡ the sequential mention rows plus a
    sequential ``rules.link_mention`` replay, row for row, with the
    ``links`` table's columns and dtypes (those of
    ``mentions.explode_mentions`` over a linked sentence table)."""
    from relationextractionpipeline_spark.functions import rules
    from relationextractionpipeline_spark.operators import fused
    from tests import oracle as orc

    seq = pd.read_parquet(oracle_mat.mention_rows("tiny", data_dir))
    paths = oracle_mat.testgen.materialize("tiny", data_dir)
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, paths)
    kb_bc, kbi_bc, figer_bc = pipeline.build_broadcasts(
        spark, entity_kb, figer_map
    )
    links = fused.links_fused(transcripts, kb_bc, kbi_bc, figer_bc)
    assert links.dtypes == [
        ("conv_id", "string"), ("turn_idx", "int"), ("sent_idx", "int"),
        ("mention_id", "int"), ("start_tok", "int"), ("end_tok", "int"),
        ("surface", "string"), ("tag", "string"), ("kind", "string"),
        ("url", "string"), ("figer", "string"),
    ]
    kb = orc.build_kb_dict(pd.read_parquet(paths["entity_kb"]))
    fg = orc.build_figer_dict(pd.read_parquet(paths["figer_map"]))
    linked = [rules.link_mention(s, kb, fg) for s in seq["surface"]]
    seq = seq.assign(url=[u for u, _ in linked], figer=[f for _, f in linked])
    cols = list(seq.columns)
    a = seq.sort_values(cols).reset_index(drop=True)
    sp = links.toPandas()
    assert list(sp.columns) == cols
    b = sp.astype(seq.dtypes).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_oracle_triples_match_fused(spark, data_dir):
    seq = pd.read_parquet(oracle_mat.oracle_triples("tiny", data_dir))
    paths = oracle_mat.testgen.materialize("tiny", data_dir)
    run = pipeline.run_pipeline(spark, paths, mode="fused")
    sp = run["triples"].toPandas()
    cols = list(seq.columns)
    a = seq.sort_values(cols).reset_index(drop=True)
    b = sp[cols].astype(seq.dtypes).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_entity_clusters_match_spark_canonicalize(spark, data_dir):
    """Sequential union-find replica ≡ distributed LSH + star-CC rollup."""
    from relationextractionpipeline_spark.operators import canonicalize

    seq = pd.read_parquet(oracle_mat.entity_clusters("tiny", data_dir))
    paths = oracle_mat.testgen.materialize("tiny", data_dir)
    run = pipeline.run_pipeline(spark, paths, mode="staged")
    entities, _ = canonicalize.canonicalize(run["triples"], run["links"])
    from pyspark.sql import functions as F

    sp = entities.select(
        "canonical_id",
        F.size("keys").alias("n_keys"),
        F.size("surfaces").alias("n_surfaces"),
        "n_mentions",
    ).toPandas()
    cols = list(seq.columns)
    a = seq.sort_values(cols).reset_index(drop=True)
    b = sp[cols].astype(seq.dtypes).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_doc_sketches_match_spark_udfs(spark):
    out = oracle_mat.doc_sketches(SF_TINY)
    mh_seq = pd.read_parquet(out["minhash"])
    sh_seq = pd.read_parquet(out["simhash"])
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    mh_sp = (
        sketches.with_minhash(docs, "text", n_hashes=64, shingle_k=3, mode="word")
        .select("doc_id", "minhash").toPandas()
    )
    sh_sp = sketches.with_simhash(docs, "text", shingle_k=3, mode="word").select(
        "doc_id", "simhash"
    ).toPandas()
    a = mh_seq.sort_values("doc_id").reset_index(drop=True)
    b = mh_sp.sort_values("doc_id").reset_index(drop=True)
    assert (a.doc_id.values == b.doc_id.values).all()
    assert all(list(x) == list(y) for x, y in zip(a.minhash, b.minhash))
    sa = sh_seq.sort_values("doc_id").reset_index(drop=True)
    sb = sh_sp.sort_values("doc_id").reset_index(drop=True)
    assert (sa.simhash.values == sb.simhash.values).all()


def test_embed_aux_matches_spark_udfs(spark):
    out = oracle_mat.embed_aux(SF_TINY)
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    for planes, key in ((8, "lsh8"), (4, "lsh4"), (3, "lsh3")):
        seq = pd.read_parquet(out[key]).sort_values("vec_id")
        sp = (
            similarity.with_lsh_bucket(emb, "embedding", n_planes=planes, dim=64)
            .select("vec_id", "bucket").toPandas().sort_values("vec_id")
        )
        assert (seq.bucket.values == sp.bucket.values).all(), key
    # IVF cells: Spark trains on the ordered bounded sample; the
    # materializer replicates it — cells must agree exactly
    cells_seq = pd.read_parquet(out["ivf_cells"]).sort_values("vec_id")
    centroids = similarity._ivf_centroids(emb, "embedding", 16, 64)
    assign = similarity._ivf_assign_udf(centroids, nprobe=1)
    from pyspark.sql import functions as F

    cells_sp = (
        emb.withColumn("cell", F.element_at(assign(F.col("embedding")), 1))
        .select("vec_id", "cell").toPandas().sort_values("vec_id")
    )
    assert (cells_seq.cell.values == cells_sp.cell.values).all()


def test_ivf_topk_partition_invariant(spark):
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qs = emb.where((emb.vec_id % 100) == 0).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    outs = []
    for parts in (1, 7):
        r = similarity.ivf_topk(
            emb.repartition(parts), qs, k=5, n_clusters=16, nprobe=4
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        outs.append(r)
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_decode_feature_rows_consistent_with_arrays(spark):
    assets = multimodal.synthetic_assets(spark, n=9)
    rows = multimodal.decode_feature_rows(assets, fake=True).toPandas()
    arrays = multimodal.decode_features(assets, fake=True).toPandas()
    assert len(rows) == 9 * multimodal.FEATURE_DIM
    arr = {int(r.asset_id): list(r.features) for r in arrays.itertuples()}
    for r in rows.itertuples():
        assert abs(arr[int(r.asset_id)][int(r.dim)] - r.value) < 1e-12


def test_grouped_scorer_partitions_by_conversation(spark, data_dir):
    """Scale contract: the applyInPandas group key is conv_id (group size
    bounded by one conversation), visible as hashpartitioning(conv_id) in
    the physical plan — not a fixed bucket of the whole table."""
    from relationextractionpipeline_spark.operators import link as link_op

    paths = oracle_mat.testgen.materialize("tiny", data_dir)
    mention_path = oracle_mat.mention_rows("tiny", data_dir)
    mention_rows = spark.read.parquet(mention_path)
    _t, entity_kb, figer_map = pipeline.load_inputs(spark, paths)
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    scored = link_op.score_links_grouped(mention_rows, kb_bc, figer_bc)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(conv_id" in plan


def test_pq_topk_partition_invariant_and_matches_sequential(spark):
    """PQ: distributed encode + broadcast-LUT ADC must be invariant to input
    partitioning and equal the sequential numpy pipeline end to end."""
    import numpy as np

    out = oracle_mat.pq_aux(SF_TINY)
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qs = emb.where((emb.vec_id % 100) == 0).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    runs = []
    for parts in (1, 7):
        r = (
            similarity.pq_topk(emb.repartition(parts), qs, k=5)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        runs.append(r)
    pd.testing.assert_frame_equal(runs[0], runs[1])
    # sequential replica: codes + lut parquet → ADC → top-5
    codes = pd.read_parquet(out["codes"])
    lut = pd.read_parquet(out["lut"])
    j = codes.merge(lut, on=["sub_idx", "code"])
    j = j[j.vec_id != j.query_id]
    adc = (
        j.groupby(["query_id", "vec_id"])["dist"].sum().round(6).reset_index()
    )
    adc = adc.sort_values(["query_id", "dist", "vec_id"])
    top = adc.groupby("query_id").head(5).reset_index(drop=True)
    got = runs[0][["query_id", "neighbor_id", "adc_dist"]].reset_index(drop=True)
    want = top.rename(columns={"vec_id": "neighbor_id", "dist": "adc_dist"})
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True),
        want[["query_id", "neighbor_id", "adc_dist"]]
        .sort_values(["query_id", "neighbor_id"])
        .reset_index(drop=True),
        check_dtype=False,
    )
    # compression sanity: 8 codes of 8 bits (n_codes=256) per 64-dim vector
    assert set(codes.sub_idx) == set(range(8))
    assert codes.code.between(0, 255).all()


def test_ivf_pq_topk_partition_invariant_with_reasonable_recall(spark):
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qs = emb.where((emb.vec_id % 100) == 0).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    runs = []
    for parts in (1, 5):
        r = (
            similarity.ivf_pq_topk(emb.repartition(parts), qs, k=5, nprobe=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        runs.append(r)
        spark.catalog.clearCache()
    pd.testing.assert_frame_equal(runs[0], runs[1])
    # recall@5 vs exact brute force: IVF prunes + PQ shortlists, the exact
    # re-rank restores ordering within the shortlist — expect most of top-5
    exact = similarity.brute_force_topk(emb, qs, k=5).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    g = {(r.query_id, r.neighbor_id) for r in runs[0].itertuples()}
    recall = len(e & g) / len(e)
    # synthetic embeddings are near-uniform, so IVF recall is bounded near
    # nprobe/n_clusters (= 0.25) plus whatever local structure exists; the
    # hard guarantees tested here are partition invariance and exactness of
    # the re-ranked cosines — recall just needs to beat the pruning floor
    assert recall >= 0.3, recall
    # within the shortlist the cosine values are EXACT (re-ranked)
    merged = runs[0].merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_pq", "_ex")
    )
    assert (merged.cos_pq == merged.cos_ex).all()


def test_generator_output_pinned_to_gen_version(tmp_path):
    """Corpus bytes must be a function of GEN_VERSION alone: a code change
    that alters generated text without bumping the version silently
    invalidates every cached corpus AND materialization (caught once in
    round 4, when the generator sampled the PARSER's contraction inventory
    and widening that inventory changed v4 corpora).  If this fails after
    an intentional grammar change, bump testgen.GEN_VERSION and re-pin."""
    import hashlib

    paths = oracle_mat.testgen.materialize("tiny", str(tmp_path))
    pdf = pd.read_parquet(paths["transcripts"]).sort_values(
        ["conv_id", "turn_idx"]
    )
    h = hashlib.sha256("\n".join(pdf["text"]).encode()).hexdigest()[:16]
    assert (oracle_mat.testgen.GEN_VERSION, h) == (5, "b1b3a18f70724c1d")
