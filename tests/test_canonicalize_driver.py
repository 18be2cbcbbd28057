"""The driver plan of canonicalization (key tables of at most
``_KEY_TABLE_DRIVER_MAX_ROWS`` rows, clustered by ``_driver_components``)
must give exactly what the distributed LSH → connected_components plan
gives: row- and dtype-identical entities, edges and predicates, on the
tiny corpus and on an adversarial key table."""

from __future__ import annotations

import random

import pytest

from relationextractionpipeline_spark.operators import (
    cache,
    canonicalize,
    sketches,
)
from relationextractionpipeline_spark.plans import pipeline

DBP = "http://dbpedia.org/resource/"
NIW = "http://aksw.org/notInWiki/"
# a near-duplicate chain: neighbours are ≥ 0.7 similar (3-char shingles),
# the ends are not, so only transitivity puts all four in one cluster
CHAIN = [
    "charles babbage difference engine",
    "charles cabbage difference engine",
    "charles cabbage difference enzine",
    "charlez cabbage difference enzine",
]


def _rows(df):
    """Order-free rows: arrays (collect_set, whose element order Spark
    leaves unspecified) as sorted tuples, rows sorted."""

    def cell(v):
        return tuple(sorted(v, key=repr)) if isinstance(v, list) else v

    rows = [tuple(cell(v) for v in row) for row in df.collect()]
    return df.columns, sorted(rows, key=repr)


def _clustering_calls(monkeypatch):
    """Counts of calls to the two clustering entry points."""
    calls = {"driver": 0, "distributed": 0}
    driver = canonicalize._driver_components
    distributed = canonicalize.connected_components

    def count_driver(*a, **kw):
        calls["driver"] += 1
        return driver(*a, **kw)

    def count_distributed(*a, **kw):
        calls["distributed"] += 1
        return distributed(*a, **kw)

    monkeypatch.setattr(canonicalize, "_driver_components", count_driver)
    monkeypatch.setattr(canonicalize, "connected_components", count_distributed)
    return calls


def _outputs(triples, links, pred_kwargs):
    entities, edges = canonicalize.canonicalize(triples, links)
    preds = [canonicalize.canonicalize_predicates(triples, **kw) for kw in pred_kwargs]
    return [entities, edges] + preds


def _assert_plans_agree(monkeypatch, triples, links, pred_kwargs=({},)):
    calls = _clustering_calls(monkeypatch)
    fast = _outputs(triples, links, pred_kwargs)
    fast_rows = [_rows(df) for df in fast]
    assert calls == {"driver": 1 + len(pred_kwargs), "distributed": 0}

    monkeypatch.setattr(canonicalize, "_KEY_TABLE_DRIVER_MAX_ROWS", 0)
    slow = _outputs(triples, links, pred_kwargs)
    slow_rows = [_rows(df) for df in slow]
    # the driver probe still runs, finds the table over the bound and
    # hands every call to the distributed plan
    assert calls["distributed"] == 1 + len(pred_kwargs)
    for f, s, fr, sr in zip(fast, slow, fast_rows, slow_rows):
        assert f.dtypes == s.dtypes
        assert fr == sr
    cache.release_all(checkpoints=True)
    return fast_rows


def test_tiny_corpus_driver_equals_distributed(spark, tiny_paths, monkeypatch):
    run = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    triples = cache.checkpoint(run["triples"])
    links = cache.checkpoint(run["links"])
    n_triples = triples.count()
    ents, edges, _preds = _assert_plans_agree(monkeypatch, triples, links)
    assert len(ents[1]) > 0 and len(edges[1]) == n_triples


def test_adversarial_key_table_driver_equals_distributed(spark, monkeypatch):
    link_rows = [
        # one key, several surfaces
        ("Ada Lovelace", DBP + "Ada_Lovelace", "/person"),
        ("Lovelace", DBP + "Ada_Lovelace", "/person"),
        ("Countess Lovelace", DBP + "Ada_Lovelace", "/person"),
        # two keys sharing one (notInWiki) url
        ("Foo Bar", NIW + "Foo_Bar", "O"),
        ("Foo Baz", NIW + "Foo_Bar", "O"),
        # a linked key whose surface is null: sketched as ""
        (None, DBP + "Charles_Babbage", "/person"),
        ("", DBP + "Empty_Surface", "O"),
        # null ent_key: a null url, and a notInWiki url with a null surface
        ("Nowhere Man", None, "O"),
        (None, NIW + "Ghost", "O"),
    ] + [(s, NIW + s.replace(" ", "_"), "O") for s in CHAIN]
    links = spark.createDataFrame(
        [(f"c{i}", s, u, f, "ner") for i, (s, u, f) in enumerate(link_rows)],
        "conv_id string, surface string, url string, figer string, kind string",
    )
    keys = [
        "Ada_Lovelace", "Foo_Bar", "Foo_Baz", "Charles_Babbage",
        "Empty_Surface", "Unseen", None,
    ] + [s.replace(" ", "_") for s in CHAIN]
    preds = [
        "hand_off.to", "hand_off.too", "hand_off.toe", "audit", "visit",
        "auditor", None,
    ]
    triples = spark.createDataFrame(
        [
            (keys[i % len(keys)], preds[i % len(preds)], keys[(3 * i + 1) % len(keys)])
            for i in range(30)
        ],
        "subj string, pred string, obj string",
    )
    ents, _edges, preds_08, preds_06 = _assert_plans_agree(
        monkeypatch, triples, links, pred_kwargs=({}, {"jaccard_threshold": 0.6})
    )
    # the adversarial cases are really exercised: the url star, the null
    # surface and the chain each collapse to one canonical id; near-dup
    # predicates cluster only at the lower threshold
    cols, rows = ents
    canon = {r[cols.index("keys")]: r[cols.index("canonical_id")] for r in rows}
    assert canon[("Foo_Bar", "Foo_Baz")] == "Foo_Bar"
    # a null surface clusters with an empty one, as the Spark UDFs see both
    assert canon[("Charles_Babbage", "Empty_Surface")] == "Charles_Babbage"
    chain_keys = tuple(sorted(s.replace(" ", "_") for s in CHAIN))
    assert canon[chain_keys] == min(chain_keys)
    assert sketches.jaccard(
        sketches.char_shingles(CHAIN[0], 3), sketches.char_shingles(CHAIN[-1], 3)
    ) < 0.7
    for got, clustered in ((preds_08, False), (preds_06, True)):
        cols, rows = got
        m = {r[cols.index("pred")]: r[cols.index("pred_canonical")] for r in rows}
        assert (m["hand_off.to"] == m["hand_off.too"]) is True
        assert (m["audit"] == m["auditor"]) is clustered  # Jaccard 0.67
        assert m[None] is None


def test_driver_path_respects_the_bound(spark, monkeypatch):
    keys = spark.createDataFrame([("a",), ("b",)], "ent_key string")
    monkeypatch.setattr(canonicalize, "_KEY_TABLE_DRIVER_MAX_ROWS", 1)
    assert canonicalize._driver_components(
        keys, "ent_key", None, 32, 8, 2, 0.8
    ) is None
    monkeypatch.setattr(canonicalize, "_KEY_TABLE_DRIVER_MAX_ROWS", 2)
    got = canonicalize._driver_components(keys, "ent_key", None, 32, 8, 2, 0.8)
    # a complete key map: unclustered keys map to themselves
    assert sorted(map(tuple, got.collect())) == [("a", "a"), ("b", "b")]


@pytest.mark.parametrize("max_bucket", [1000, 2])
def test_local_banding_equals_spark_banding(spark, max_bucket):
    rng = random.Random(5)
    base = ["relation extraction", "graph canonical", "knowledge base"]
    texts = [
        "".join(c if rng.random() > 0.08 else "x" for c in rng.choice(base))
        for _ in range(60)
    ] + ["knowledge base"] * 4 + [None]
    rows = [(i, t) for i, t in enumerate(texts)] + [(None, "knowledge base")]
    df = spark.createDataFrame(rows, "id long, text string")
    sig = sketches.with_minhash(df, "text", n_hashes=32, shingle_k=3)
    want = {
        (r.id_a, r.id_b)
        for r in sketches.lsh_candidate_pairs(
            sig, "id", bands=8, max_bucket=max_bucket
        ).collect()
    }
    got = sketches.lsh_candidate_pairs_local(
        [i for i, _t in rows],
        [
            sketches.minhash_signature(sketches.char_shingles(t or "", 3), 32)
            for _i, t in rows
        ],
        bands=8,
        max_bucket=max_bucket,
    )
    cache.release_all()
    assert got == want and len(want) > 0
