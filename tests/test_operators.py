"""Operator tests: dedup strategies, similarity search, text analysis,
multimodal plumbing — over the driver's sf0.001 tables + synthetic frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from relationextractionpipeline_spark.operators import (
    dedup,
    multimodal,
    quality,
    similarity,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# --- dedup -------------------------------------------------------------------

def test_exact_dedup_removes_planted_duplicate(spark, docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dups = docs.unionByName(dup)
    out = dedup.dedup_exact(with_dups)
    assert out.count() == docs.count()  # planted copies removed
    # deterministic winner: original (lower) ids survive
    assert out.where(F.col("doc_id") >= 100000).count() == 0


def test_minhash_finds_planted_near_dup(spark, docs):
    base = docs.limit(5)
    # near-dup: append one word to the text
    nd = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(nd)
    pairs = dedup.near_dup_pairs_minhash(corpus, jaccard_threshold=0.6).toPandas()
    found = {(a % 200000, b % 200000) for a, b in zip(pairs.id_a, pairs.id_b)}
    planted = {(r.doc_id, r.doc_id) for r in base.select("doc_id").collect()}
    assert planted <= found


def test_near_dup_clusters_close_transitive_chains(spark, docs):
    """A≈B≈C chains must land in ONE cluster with the min-id survivor, even
    when the chain ends never pair directly; untouched docs stay
    singletons."""
    base = docs.limit(3).select("doc_id", "text")
    chain1 = base.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat("text", F.lit(" alpha")).alias("text"),
    )
    chain2 = base.select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.concat("text", F.lit(" alpha beta")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(chain1).unionByName(chain2)
    out = dedup.near_dup_clusters(corpus, jaccard_threshold=0.6).toPandas()
    assert len(out) == corpus.count()  # every doc assigned exactly once
    by_id = out.set_index("doc_id")
    for r in base.collect():
        members = [r.doc_id, r.doc_id + 300000, r.doc_id + 600000]
        clusters = {int(by_id.loc[m, "cluster_id"]) for m in members}
        assert clusters == {r.doc_id}  # one component, min-id label
        assert int(by_id.loc[r.doc_id, "cluster_size"]) >= 3
        assert bool(by_id.loc[r.doc_id, "is_survivor"])
        assert not bool(by_id.loc[r.doc_id + 600000, "is_survivor"])
    # a doc with no near-dups is its own singleton survivor
    lone = out[out.cluster_size == 1]
    assert (lone.doc_id == lone.cluster_id).all() and lone.is_survivor.all()


def test_simhash_finds_planted_near_dup(spark, docs):
    base = docs.limit(5)
    nd = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(nd)
    pairs = dedup.near_dup_pairs_simhash(corpus, max_hamming=6).toPandas()
    found = {(a % 200000, b % 200000) for a, b in zip(pairs.id_a, pairs.id_b)}
    planted = {(r.doc_id, r.doc_id) for r in base.select("doc_id").collect()}
    assert planted <= found


def test_ngram_jaccard_exact_values(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # identical → jaccard 1.0
        (3, "z y x w v"),          # disjoint → no pair
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).toPandas()
    assert len(pairs) == 1
    assert (pairs.iloc[0].id_a, pairs.iloc[0].id_b) == (1, 2)
    assert pairs.iloc[0].jaccard == 1.0


def test_ngram_jaccard_short_docs_whole_text_gram(spark):
    # docs shorter than n words: one whole-text gram (word_shingles rule)
    rows = [(1, "a b"), (2, "a b"), (3, "c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).toPandas()
    assert len(pairs) == 1
    assert (pairs.iloc[0].id_a, pairs.iloc[0].id_b) == (1, 2)


def test_ngram_jaccard_df_cap_bounds_boilerplate_blowup(spark):
    """A gram planted in every document ('terms of service x') must not
    produce the d² pair expansion when its df exceeds max_df: with the cap
    the boilerplate gram leaves the inverted index, only the genuinely
    shared content pairs (1,2) survive, and their jaccard can only go DOWN
    (denominators keep full gram counts — recall trade, no false positive)."""
    boiler = "terms of service"
    rows = [(1, f"a b c d e {boiler}"), (2, f"a b c d e {boiler}")] + [
        (i, f"doc{i} w{i} v{i} u{i} {boiler}") for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.05, max_df=None)
    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.05, max_df=10)
    up = uncapped.toPandas().set_index(["id_a", "id_b"]).jaccard
    cp = capped.toPandas().set_index(["id_a", "id_b"]).jaccard
    assert (1, 2) in cp.index  # real near-dup survives the cap
    assert set(cp.index) <= set(up.index)  # cap only removes pairs
    assert len(cp) < len(up)  # the boilerplate-only pairs are gone
    for k in cp.index:
        assert cp[k] <= up[k] + 1e-9  # capped jaccard never inflates
    hot = dedup.ngram_hot_grams(df, n=3, max_df=10).toPandas()
    assert len(hot) >= 1  # the dropped gram is observable
    assert (hot.df > 10).all()


def test_native_rel_renderers_match_python_renderers(spark):
    """The native Column renderers (triples.rel_string_cols) must be
    byte-identical to the Python renderers the sequential oracle uses
    (rules.render_rel_string / render_human_string) on adversarial field
    values — multi-dot xcomp predicates, dotless predicates, all four
    neg×passive combinations, unicode entities, large/zero pred_tok."""
    from relationextractionpipeline_spark.functions import rules as rules_
    from relationextractionpipeline_spark.operators import triples as triples_op

    rows = [
        ("c", 0, 0, "Alan_Turing", "audit", "Berlin", "#person", "#location",
         "E", "E", False, False, 3, 0),
        ("c", 0, 0, "Rosalind_Franklin", "reject.by", "Łódź", "#person",
         "#location", "E", "E", False, True, 7, 1),
        ("c", 1, 0, "São_Paulo", "want.try.plan.audit", "budget", "#location",
         "#thing", "E", "G", True, False, 0, 0),
        ("c", 1, 1, "x", "hand_off.to", "y", "#thing", "#thing", "G", "E",
         True, True, 214748, 2),
    ]
    schema = (
        "conv_id string, turn_idx int, sent_idx int, subj string, pred string,"
        " obj string, subj_type string, obj_type string, subj_kind string,"
        " obj_kind string, neg boolean, passive boolean, pred_tok int,"
        " rel_idx int"
    )
    out = triples_op.with_rel_strings(
        spark.createDataFrame(rows, schema)
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["rel"] == rules_.render_rel_string(
            r["subj"], r["obj"], r["pred"], r["subj_type"], r["obj_type"],
            r["subj_kind"], r["obj_kind"], r["neg"], r["pred_tok"],
        )
        assert r["rel_human"] == rules_.render_human_string(
            r["subj"], r["obj"], r["pred"], r["subj_type"], r["obj_type"],
            r["neg"], r["passive"],
        )


# --- similarity --------------------------------------------------------------

def test_lsh_multi_recall_dominates_single_table(spark, emb):
    """Multi-table LSH candidates are a superset of single-table's (table 0
    shares the single table's seed), so recall against the exact top-k can
    only go up; self-pairs stay excluded and ranks stay deterministic."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
    exact = pairs(similarity.brute_force_topk(emb, qs, k=5))
    single = pairs(similarity.lsh_bucketed_topk(emb, qs, k=5, n_planes=6))
    multi = pairs(similarity.lsh_multi_topk(emb, qs, k=5, n_planes=6, n_tables=4))
    assert len(multi & exact) >= len(single & exact)
    assert all(q != n for q, n in multi)  # no self matches
    spark.catalog.clearCache()


def test_query_collect_is_one_bounded_job(spark):
    """The query-table collect is one LIMIT job and raises above its
    bound."""
    from tests.test_pipeline import spark_jobs

    qs = spark.createDataFrame(
        [(i, [float(i)]) for i in range(3)], "query_id long, embedding array<double>"
    )
    with spark_jobs(spark) as jobs:
        pdf = similarity._collect_query_pdf(qs, ["query_id", "embedding"], max_rows=3)
    assert len(jobs) == 1
    assert sorted(pdf["query_id"]) == [0, 1, 2]
    with pytest.raises(ValueError, match="exceeds 2 rows"):
        similarity._collect_query_pdf(qs, ["query_id", "embedding"], max_rows=2)


def test_ivf_index_materialization_roundtrip(spark, emb, tmp_path):
    """build_ivf_index → ivf_topk_from_index reproduces the self-training
    ivf_topk exactly (same deterministic centroids), and the cell table is
    written cell-partitioned (partition pruning = the IVF prune)."""
    import os

    idx = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(emb, idx, n_clusters=8)
    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/cells"))
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    direct = similarity.ivf_topk(emb, qs, k=5, n_clusters=8, nprobe=2).toPandas()
    via_idx = similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2).toPandas()
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    a = direct[cols].sort_values(cols).reset_index(drop=True)
    b = via_idx[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)
    spark.catalog.clearCache()


def test_ivf_index_shuffle_join_fallback(spark, emb, tmp_path, monkeypatch):
    """With the query-broadcast bound forced to 0, ivf_topk_from_index takes
    the shuffle-join branch (the bulk-query path) and must return the same
    result as the broadcast branch."""
    idx = str(tmp_path / "ivf_index_sj")
    similarity.build_ivf_index(emb, idx, n_clusters=8)
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bcast = similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2).toPandas()
    monkeypatch.setattr(similarity, "QUERY_BCAST_ROWS", 0)
    shuffled = similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2).toPandas()
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    a = bcast[cols].sort_values(cols).reset_index(drop=True)
    b = shuffled[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)
    spark.catalog.clearCache()


def test_lsh_multiprobe_recall_dominates_single_table(spark, emb):
    """Multi-probe candidates include the base bucket (probe 0 IS the
    single-table bucket), so recall vs exact can only go up — without
    duplicating the corpus index."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
    exact = pairs(similarity.brute_force_topk(emb, qs, k=5))
    single = pairs(similarity.lsh_bucketed_topk(emb, qs, k=5, n_planes=8))
    probe = pairs(similarity.lsh_multiprobe_topk(emb, qs, k=5, n_planes=8,
                                                 n_probes=7))
    assert len(probe & exact) >= len(single & exact)
    assert all(q != n for q, n in probe)
    spark.catalog.clearCache()


def test_ngram_contamination_flags_planted_leak(spark, docs):
    """A training doc sharing a 5-gram with an eval doc is flagged;
    unrelated docs score zero; every train doc emits exactly one row."""
    eval_df = docs.limit(2)
    eval_ids = [r["doc_id"] for r in eval_df.select("doc_id").collect()]
    # plant a leak: a copy of eval doc 0 with a fresh id, plus a clean doc
    leak = eval_df.limit(1).withColumn("doc_id", F.col("doc_id") + 700000)
    train = docs.where(~F.col("doc_id").isin(eval_ids)).unionByName(leak)
    out = dedup.ngram_contamination(train, eval_df, n=5).toPandas()
    assert len(out) == train.count()  # one row per train doc, zeros included
    flagged = set(out[out.contaminated].doc_id)
    assert {i + 700000 for i in eval_ids[:1]} <= flagged
    planted = out[out.doc_id == eval_ids[0] + 700000].iloc[0]
    assert planted.n_shared_grams == planted.n_grams  # verbatim copy
    assert (out.n_shared_grams <= out.n_grams).all()


def test_repetition_filter_flags_planted_loop(spark):
    """A generation-loop doc (one bigram repeated) trips both signals; a
    normal sentence trips neither; degenerate docs score 0."""
    from relationextractionpipeline_spark.operators import quality as q_

    rows = [
        (1, "the cat sat on the mat near the door today"),
        (2, "go go go go go go go go"),                # dup words + top bigram
        (3, "one"),                                    # no bigrams
        (4, ""),                                       # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in q_.with_repetition(df).collect()}
    assert not out[1]["repetitive"]
    assert out[2]["repetitive"]
    assert out[2]["dup_word_frac"] > 0.8 and out[2]["top_bigram_frac"] == 1.0
    assert out[3]["dup_word_frac"] == 0.0 and out[3]["top_bigram_frac"] == 0.0
    assert out[4]["dup_word_frac"] == 0.0 and not out[4]["repetitive"]


def test_pq_rerank_recall_dominates_adc(spark, emb):
    """The exact re-rank of the ADC shortlist can only improve recall vs
    the pure-ADC ranking, and its cosines are exact (match brute force)."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
    exact_df = similarity.brute_force_topk(emb, qs, k=5).toPandas()
    exact = {(r.query_id, r.neighbor_id) for r in exact_df.itertuples()}
    adc = pairs(similarity.pq_topk(emb, qs, k=5, n_codes=64))
    rer_df = similarity.pq_topk(emb, qs, k=5, n_codes=64, rerank=50).toPandas()
    rer = {(r.query_id, r.neighbor_id) for r in rer_df.itertuples()}
    assert len(rer & exact) >= len(adc & exact)
    merged = rer_df.merge(exact_df, on=["query_id", "neighbor_id"],
                          suffixes=("_pq", "_ex"))
    assert (merged.cos_pq == merged.cos_ex).all()
    spark.catalog.clearCache()


def test_lsh_tables_for_recall_meets_target(spark, emb):
    """The multi-table recall autotuner returns an L whose measured recall
    meets the stated target; the curve is monotone (tables 0..L-1 are a
    prefix of tables 0..L, so candidates only grow)."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_tables_for_recall(
        emb, qs, target_recall=0.6, k=5, n_planes=3, max_tables=16
    )
    assert out["recall"] >= 0.6 or out["n_tables"] == 16
    vals = list(out["curve"].values())
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    spark.catalog.clearCache()


def test_lsh_probes_for_recall_meets_target(spark, emb):
    """The multi-probe recall autotuner: walking the probe count meets the
    stated target or exhausts every enumerable ≤3-bit flip set (candidate
    sets are nested in probe count, so the curve is monotone)."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_probes_for_recall(
        emb, qs, target_recall=0.6, k=5, n_planes=4
    )
    # 4 planes enumerate C(4,1)+C(4,2)+C(4,3) = 14 flip sets; probing all
    # of them covers 15 of 16 buckets, so the walk terminates either way
    assert out["recall"] >= 0.6 or out["n_probes"] >= 14
    vals = list(out["curve"].values())
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    assert vals[-1] == out["recall"]
    spark.catalog.clearCache()


def test_nprobe_for_recall_meets_target(spark, emb):
    """The recall-targeted tuning surface: asking for recall ≥ X returns an
    nprobe whose MEASURED recall meets X (monotone knob: nprobe=n_clusters
    degenerates to exact search, so the walk always terminates)."""
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.nprobe_for_recall(
        emb, qs, target_recall=0.9, k=5, n_clusters=8
    )
    assert out["recall"] >= 0.9
    assert 1 <= out["nprobe"] <= 8
    assert list(out["curve"].values())[-1] == out["recall"]
    # the curve is the audit trail: recall never decreases along the walk
    vals = list(out["curve"].values())
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    spark.catalog.clearCache()


def test_brute_force_topk_self_similarity(spark, emb):
    # plant an exact copy: its top-1 neighbor must be the original with cos≈1
    q = emb.limit(1).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding",
        F.col("label"),
    )
    orig_id = emb.limit(1).collect()[0]["vec_id"]
    corpus = emb.unionByName(q)
    res = similarity.brute_force_topk(
        corpus,
        q.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=1,
    ).collect()
    assert res[0]["neighbor_id"] == orig_id
    assert res[0]["cos"] == 1.0


def test_lsh_topk_subset_of_exact_ranking(spark, emb):
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, qs, k=20).toPandas()
    approx = similarity.lsh_bucketed_topk(emb, qs, k=5).toPandas()
    # every approx hit must carry the exact cosine for that pair
    ex = {(r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()}
    for r in approx.itertuples():
        if (r.query_id, r.neighbor_id) in ex:
            assert abs(ex[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_ivf_topk_recall_against_exact(spark, emb):
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, qs, k=5).toPandas()
    approx = similarity.ivf_topk(emb, qs, k=5, n_clusters=8, nprobe=4).toPandas()
    # cosines on shared pairs must be identical; recall must be substantial
    ex = {(r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()}
    hits = 0
    for r in approx.itertuples():
        if (r.query_id, r.neighbor_id) in ex:
            hits += 1
            assert abs(ex[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9
    assert hits >= len(exact) * 0.3  # nprobe=4/8 cells → decent recall
    # exactness when probing every cell
    full = similarity.ivf_topk(emb, qs, k=5, n_clusters=8, nprobe=8).toPandas()
    pe = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pf = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (pe["neighbor_id"] == pf["neighbor_id"]).all()


def test_ivf_deterministic(spark, emb):
    qs = emb.where(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.ivf_topk(emb, qs, k=3, n_clusters=8, nprobe=2).toPandas()
    b = similarity.ivf_topk(emb, qs, k=3, n_clusters=8, nprobe=2).toPandas()
    cols = ["query_id", "rank"]
    pa = a.sort_values(cols).reset_index(drop=True)
    pb = b.sort_values(cols).reset_index(drop=True)
    assert (pa["neighbor_id"] == pb["neighbor_id"]).all()


def test_embedding_near_dup_planted(spark, emb):
    dup = emb.limit(3).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(corpus, threshold=0.999).toPandas()
    assert len(pairs) >= 3
    assert (pairs.cos >= 0.999).all()


# --- quality / text analysis -------------------------------------------------

def test_token_stats_known_values(spark):
    df = spark.createDataFrame([(1, "hello world 42!"), (2, ""), (3, "  ")],
                               ["doc_id", "text"])
    out = {r.doc_id: r for r in quality.with_token_stats(df).collect()}
    assert out[1].n_words == 3
    assert out[1].n_tokens == 4  # hello, world, 42, !
    assert out[2].n_words == 0 and out[3].n_words == 0


def test_langid_stopword_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze nicht"),
            (3, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in quality.with_langid(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_quality_score_bounds(spark, docs):
    pdf = quality.with_quality(docs).select("quality_score").toPandas()
    assert ((pdf.quality_score >= 0) & (pdf.quality_score <= 1)).all()


def test_fingerprint_is_md5(spark):
    import hashlib

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    r = quality.with_fingerprint(df).collect()[0]
    assert r.fingerprint == hashlib.md5(b"abc").hexdigest()
    assert r.fp_bucket == r.fingerprint[:4]


# --- multimodal plumbing -------------------------------------------------------

def test_decode_features_fake_deterministic(spark):
    assets = multimodal.synthetic_assets(spark, n=12)
    a = multimodal.decode_features(assets, fake=True).toPandas()
    b = multimodal.decode_features(assets, fake=True).toPandas()
    assert len(a) == 12
    assert all(len(f) == multimodal.FEATURE_DIM for f in a.features)
    pa = a.sort_values("asset_id").reset_index(drop=True)
    pb = b.sort_values("asset_id").reset_index(drop=True)
    assert (pa.features.map(tuple) == pb.features.map(tuple)).all()


def test_decode_without_library_raises(spark):
    assets = multimodal.synthetic_assets(spark, n=3)
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as ei:
        multimodal.decode_features(assets, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )


def test_frame_sampling_counts(spark):
    assets = multimodal.synthetic_assets(spark, n=9)
    frames = multimodal.sample_frames(assets, every_ms=500, fake=True).toPandas()
    vids = assets.where(F.col("kind") == "video").toPandas()
    expect = sum(v // 500 + 1 for v in vids.duration_ms)
    assert len(frames) == expect


def test_metadata_projection_prunes_payload(spark, tmp_path):
    # pruning is a property of the file scan: materialize, read back, check
    # the parquet ReadSchema excludes the payload column
    p = str(tmp_path / "assets.parquet")
    multimodal.synthetic_assets(spark, n=6).write.parquet(p)
    assets = spark.read.parquet(p)
    plan = (
        multimodal.metadata_only_projection(assets)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m and "payload" not in m[0]


def test_minhash_exact_verify_matches_brute_force(spark):
    """verify='exact' must equal the all-pairs exact word-shingle Jaccard on
    this corpus (every true pair here has jaccard > 0.9, so 16x4 banding
    recall is ~1 and precision is 1 by construction)."""
    import itertools

    import pandas as pd

    from relationextractionpipeline_spark.operators import sketches

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs_minhash(
            d, jaccard_threshold=0.5, verify="exact"
        ).collect()
    }
    pdf = pd.read_parquet(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
    )
    sh = {
        r.doc_id: set(sketches.word_shingles(r.text or "", 3))
        for r in pdf.itertuples()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sh), 2)
        if (sh[a] | sh[b])
        and len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5
    }
    assert got == want and len(want) > 0


# --- quality: PII scrub, quantile thresholds -----------------------------

def test_scrub_pii_counts_and_redacts(spark):
    rows = [
        (1, "mail a.b+c@foo-bar.org now"),
        (2, "call 555-123-4567 or 555 987 6543"),
        (3, "host 192.168.0.1 up"),
        (4, "clean text only"),
    ]
    out = quality.scrub_pii(
        spark.createDataFrame(rows, "doc_id int, text string")
    ).toPandas().set_index("doc_id")
    assert out.loc[1, "n_email"] == 1 and "<EMAIL>" in out.loc[1, "scrubbed"]
    assert out.loc[2, "n_phone"] == 2
    assert out.loc[3, "n_ipv4"] == 1 and "<IPV4>" in out.loc[3, "scrubbed"]
    assert out.loc[4, ["n_email", "n_phone", "n_ipv4"]].sum() == 0
    assert out.loc[4, "scrubbed"] == "clean text only"
    # idempotent: a second scrub over redacted text finds nothing
    again = quality.scrub_pii(
        spark.createDataFrame(
            out.reset_index()[["doc_id", "scrubbed"]].values.tolist(),
            "doc_id int, text string",
        )
    ).toPandas()
    assert again[["n_email", "n_phone", "n_ipv4"]].to_numpy().sum() == 0


def test_quantile_thresholds_rank_definition(spark):
    # group g: values 1..10 → p25=3 (ceil(2.5)), p50=5, p75=8, p90=9
    rows = [("g", float(v), v) for v in range(1, 11)]
    rows += [("h", 7.0, 100), ("h", 3.0, 101)]  # p25/p50 of {3,7} = 3, p90 = 7
    df = spark.createDataFrame(rows, "lang string, score double, doc_id int")
    out = {
        (r.lang, r.q): (r.threshold, r.n_docs)
        for r in quality.quantile_thresholds(df, "score", "lang").collect()
    }
    assert out[("g", 0.25)] == (3.0, 10)
    assert out[("g", 0.5)] == (5.0, 10)
    assert out[("g", 0.75)] == (8.0, 10)
    assert out[("g", 0.9)] == (9.0, 10)
    assert out[("h", 0.5)] == (3.0, 2)
    assert out[("h", 0.9)] == (7.0, 2)


def test_kmeans_clusters_partitions_separated_blobs(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):  # blob A around +10, blob B around -10
        center = 10.0 if i % 2 == 0 else -10.0
        rows.append((i, (center + 0.1 * rng.randn(4)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_clusters(df, n_clusters=2, dim=4).toPandas()
    assert len(out) == 40
    by_parity = out.groupby(out.vec_id % 2)["cluster"].nunique()
    assert (by_parity == 1).all()  # each blob maps to exactly one cluster
    assert out[out.vec_id % 2 == 0].cluster.iloc[0] != \
        out[out.vec_id % 2 == 1].cluster.iloc[0]
    assert (out.cluster_size == 20).all()


def test_semantic_dedup_clusters_transitive(spark):
    """Paraphrase chains in embedding space (A·B ≥ t, B·C ≥ t, A·C < t) must
    collapse into ONE cluster with the min-id exemplar; isolated vectors
    stay singletons."""
    import numpy as np

    def unit(theta):
        v = np.zeros(8)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return v.tolist()

    # chain at 0°, 25°, 50°: cos 25° ≈ 0.906 ≥ 0.9, cos 50° ≈ 0.64 < 0.9
    rows = [(0, unit(0.0)), (1, unit(np.deg2rad(25))), (2, unit(np.deg2rad(50))),
            (3, (-np.ones(8) / np.sqrt(8)).tolist())]  # far away: singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup_clusters(
        df, threshold=0.9, n_planes=1, dim=8
    ).toPandas().set_index("vec_id")
    assert set(out.loc[[0, 1, 2], "cluster_id"]) == {0}  # closed chain
    assert out.loc[0, "is_survivor"] and not out.loc[2, "is_survivor"]
    assert out.loc[3, "cluster_id"] == 3 and out.loc[3, "cluster_size"] == 1


def test_ivf_index_append_matches_pinned_assignment(spark, emb, tmp_path):
    """append_ivf_index: new vectors join the index under the PINNED
    centroids (appended table == one-pass assignment of the union against
    the stored centroids), land in the cell-partitioned layout, and
    re-appending the same batch is a no-op (replay safety)."""
    import numpy as np
    import os

    idx = str(tmp_path / "ivf_index_incr")
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1)
    similarity.build_ivf_index(half1, idx, n_clusters=8)

    n = similarity.append_ivf_index(half2, idx)
    assert n == half2.count()
    assert similarity.append_ivf_index(half2, idx) == 0  # replay no-op

    cpdf = spark.read.parquet(f"{idx}/centroids").orderBy("cell").toPandas()
    centroids = np.vstack(cpdf["centroid"].map(np.asarray).to_numpy())
    assign = similarity._ivf_assign_udf(centroids, nprobe=1)
    want = {
        (r.vec_id, r.cell)
        for r in emb.select(
            "vec_id", F.element_at(assign(F.col("embedding")), 1).alias("cell")
        ).collect()
    }
    got = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{idx}/cells").collect()
    }
    assert got == want
    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/cells"))
    # the maintained index serves queries identically to a one-pass index
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    via_idx = similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2)
    assert via_idx.count() > 0
    spark.catalog.clearCache()


def test_gopher_rules(spark):
    from relationextractionpipeline_spark.operators.quality import (
        with_gopher_rules,
    )

    good = "the quick brown fox and the lazy dog that ran off with " + " ".join(
        f"word{i}" for i in range(50)
    )
    rows = [
        (0, good),                                   # passes everything
        (1, "the short and thin one of them"),       # fails word count only
        (2, " ".join(f"tok{i}" for i in range(60))), # no stopwords
        (3, "- the a\n- of b\n- and c"),  # 3/3 lines bullet-initial
        (4, "the of ... and ... that ... with ... " * 8),       # symbols
        (5, ""),                                      # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in with_gopher_rules(docs, min_words=10).collect()
    }
    assert out[0]["pass_gopher"]
    assert all(out[0][c] for c in out[0].asDict() if c.startswith("rule_"))

    assert not out[1]["rule_word_count"] and out[1]["rule_stopwords"]
    assert not out[1]["pass_gopher"]

    assert not out[2]["rule_stopwords"] and out[2]["rule_word_count"]

    assert not out[3]["rule_bullet_lines"]  # every line bullet-initial
    assert out[3]["rule_stopwords"]

    assert not out[4]["rule_symbol_ratio"]

    e = out[5]
    assert e["n_words"] == 0
    assert not e["rule_word_count"] and not e["rule_alpha_words"]
    assert e["rule_bullet_lines"] and e["rule_ellipsis_lines"]
    assert not e["pass_gopher"]


def test_c4_rules(spark):
    from relationextractionpipeline_spark.operators.quality import (
        with_c4_rules,
    )

    good = "\n".join(
        f"This is a perfectly fine sentence number {i}." for i in range(6)
    )
    rows = [
        (0, good),                                    # passes everything
        (1, good + "\nlorem ipsum dolor sit amet."),  # boilerplate page
        (2, good + "\nfunction f() {"),               # code page
        # line filter: no terminal punct / too few words
        (3, "Dangling line without punctuation\nOk.\nShort one here today."),
        (4, ""),                                      # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_c4_rules(docs).collect()}

    assert out[0]["pass_c4"] and out[0]["n_lines_kept"] == 6
    assert out[0]["n_sentences"] == 6 and out[0]["c4_text"] == good

    assert not out[1]["rule_no_lorem"] and not out[1]["pass_c4"]
    assert out[1]["n_lines_kept"] == 7  # the lorem line ends in '.'

    assert not out[2]["rule_no_braces"] and not out[2]["pass_c4"]
    assert out[2]["n_lines_kept"] == 6  # '{' line dropped by the line rule

    d3 = out[3]
    assert d3["n_lines"] == 3 and d3["n_lines_kept"] == 1
    assert d3["c4_text"] == "Short one here today."  # 'Ok.' has < 3 words
    assert not d3["rule_min_sentences"] and not d3["pass_c4"]

    e = out[4]
    assert e["n_lines_kept"] == 0 and e["c4_text"] == ""
    assert not e["pass_c4"]


def test_choose_ann_selects_cheapest_variant_meeting_target(spark, emb):
    """The one-call planner: asking for recall >= X returns a variant whose
    MEASURED recall meets X, the knob the per-variant tuner picked, and
    the cheapest stated cost proxy among the qualifying variants."""
    from relationextractionpipeline_spark.operators import similarity

    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.choose_ann(
        emb, qs, target_recall=0.6, k=5, n_clusters=8, n_planes=3,
        probe_planes=4,
    )
    assert out["variant"] in {"ivf", "lsh_multi", "lsh_probe"}
    assert out["recall"] >= 0.6
    assert set(out["candidates"]) == {"ivf", "lsh_multi", "lsh_probe"}
    # chosen variant is min-cost among those meeting the target
    ok = {
        n: c for n, c in out["candidates"].items() if c["recall"] >= 0.6
    }
    assert out["variant"] in ok
    assert all(out["cost"] <= c["cost"] + 1e-9 for c in ok.values())
    # params echo the tuned knob of the chosen variant
    if out["variant"] == "ivf":
        assert out["params"]["nprobe"] <= 8
    spark.catalog.clearCache()


def test_choose_ann_falls_back_to_brute_force(spark, emb):
    """An unreachable target gets the honest answer: exact search at cost
    1.0, with every tuner's ceiling recall still reported."""
    from relationextractionpipeline_spark.operators import similarity

    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.choose_ann(
        emb, qs, target_recall=1.01, k=5, n_clusters=8, n_planes=3,
        probe_planes=4,
    )
    assert out["variant"] == "brute_force"
    assert out["recall"] == 1.0 and out["cost"] == 1.0
    assert all(
        c["recall"] < 1.01 for c in out["candidates"].values()
    )
    spark.catalog.clearCache()
