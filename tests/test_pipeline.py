"""Distributed correctness: P/R gate vs the sequential oracle, the fused
kernels ≡ the joinlink UDF chain, invariants (text equality, lineage), metamorphic partition invariance
(SURVEY.md §5.1/§5.3/§5.4; BASELINE.md gates)."""

from __future__ import annotations

import contextlib
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from relationextractionpipeline_spark.operators import (
    assemble,
    fused,
    link,
    mentions as mentions_op,
)
from relationextractionpipeline_spark.plans import pipeline
from tests import oracle as orc

TRIPLE_KEY = [
    "conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj", "subj_type",
    "obj_type", "subj_kind", "obj_kind", "neg", "passive", "pred_tok", "rel",
]


def _triple_set(pdf: pd.DataFrame) -> set:
    return set(map(tuple, pdf[TRIPLE_KEY].itertuples(index=False)))


@pytest.fixture(scope="module")
def oracle_triples(tiny_pandas):
    return orc.run_oracle(
        tiny_pandas["transcripts"], tiny_pandas["entity_kb"], tiny_pandas["figer_map"]
    )


@pytest.fixture(scope="module")
def run(spark, tiny_paths):
    return pipeline.run_pipeline(spark, tiny_paths, mode="staged")


@contextlib.contextmanager
def spark_jobs(spark):
    """Yields a list that, after the block, holds the ids of the Spark jobs
    the block ran (its own job group, read from the status tracker)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list = []
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _pr(spark_set: set, oracle_set: set):
    tp = len(spark_set & oracle_set)
    precision = tp / len(spark_set) if spark_set else 1.0
    recall = tp / len(oracle_set) if oracle_set else 1.0
    return precision, recall


def test_oracle_produces_triples(oracle_triples):
    assert len(oracle_triples) > 20  # tiny corpus is non-trivial


def test_precision_recall_gate(run, oracle_triples):
    got = _triple_set(run["triples"].toPandas())
    want = _triple_set(oracle_triples)
    p, r = _pr(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # with shared rules the match should in fact be exact
    assert got == want


LINK_COLS = [
    "conv_id", "turn_idx", "sent_idx", "mention_id", "start_tok", "end_tok",
    "surface", "tag", "kind", "url", "figer",
]


def _sorted_pdf(df, cols):
    return df.select(cols).toPandas().sort_values(cols).reset_index(drop=True)


def test_fused_equals_staged(spark, tiny_paths, run):
    """"staged" is the older spelling of the fused path: both return the
    same triples and the same fused links."""
    fused_run = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    a = _triple_set(fused_run["triples"].toPandas())
    b = _triple_set(run["triples"].toPandas())
    assert a == b
    pd.testing.assert_frame_equal(
        _sorted_pdf(fused_run["links"], LINK_COLS),
        _sorted_pdf(run["links"], LINK_COLS),
    )


def test_ner_only_reaches_the_fused_kernels(spark, tiny_paths, tiny_pandas):
    """nel_mode='ner_only' on the fused path: no common-noun (G) flag on any
    triple, and the links equal a sequential ner_only detect + link
    replay row for row."""
    from relationextractionpipeline_spark.functions import lexicon as lx, rules

    run = pipeline.run_pipeline(
        spark, tiny_paths, mode="fused", nel_mode="ner_only"
    )
    kinds = run["triples"].select("subj_kind", "obj_kind").toPandas()
    assert len(kinds) > 0
    assert set(kinds["subj_kind"]) | set(kinds["obj_kind"]) == {"E"}

    kb = orc.build_kb_dict(tiny_pandas["entity_kb"])
    kbi = orc.build_kb_index(tiny_pandas["entity_kb"])
    fg = orc.build_figer_dict(tiny_pandas["figer_map"])
    rows = []
    src = tiny_pandas["transcripts"]
    for conv_id, turn_idx, text in zip(src["conv_id"], src["turn_idx"], src["text"]):
        for sent_idx, (_li, sent) in enumerate(
            rules.segment_text_with_lines(text or "")
        ):
            for mid, m in enumerate(
                rules.detect_mentions(
                    lx.parse_sentence(sent), kbi,
                    include_common=False, fuse_adjacent=True,
                )
            ):
                url, figer = rules.link_mention(m["surface"], kb, fg)
                rows.append((
                    conv_id, int(turn_idx), sent_idx, mid, m["start_tok"],
                    m["end_tok"], m["surface"], m["tag"], m["kind"], url,
                    figer,
                ))
    got = _sorted_pdf(run["links"], LINK_COLS)
    want = pd.DataFrame(rows, columns=LINK_COLS).sort_values(LINK_COLS)
    assert set(want["kind"]) == {"ner"}
    pd.testing.assert_frame_equal(
        got, want.reset_index(drop=True).astype(got.dtypes)
    )


def test_partition_count_does_not_change_triples(spark, tiny_paths, oracle_triples):
    for n in (1, 7):
        got = _triple_set(
            pipeline.run_pipeline(
                spark, tiny_paths, mode="fused", input_partitions=n
            )["triples"].toPandas()
        )
        assert got == _triple_set(oracle_triples)


def test_row_order_does_not_change_triples(spark, tiny_pandas, tiny_paths, oracle_triples):
    """Metamorphic: permuting input row order never changes the triple set
    (SURVEY.md §5.4)."""
    from relationextractionpipeline_spark.plans import pipeline as pl

    shuffled = tiny_pandas["transcripts"].sample(frac=1.0, random_state=7)
    t = spark.createDataFrame(shuffled)
    _, entity_kb, figer_map = pl.load_inputs(spark, tiny_paths)
    kb_bc, kbi_bc, fg_bc = pl.build_broadcasts(spark, entity_kb, figer_map)
    got = _triple_set(pl.run_fused(t, kb_bc, kbi_bc, fg_bc).toPandas())
    assert got == _triple_set(oracle_triples)


def test_empty_input_produces_empty_outputs(spark, tiny_paths):
    from relationextractionpipeline_spark.plans import pipeline as pl, schemas

    empty = spark.createDataFrame([], schemas.TRANSCRIPTS)
    _, entity_kb, figer_map = pl.load_inputs(spark, tiny_paths)
    kb_bc, kbi_bc, fg_bc = pl.build_broadcasts(spark, entity_kb, figer_map)
    assert pl.run_fused(empty, kb_bc, kbi_bc, fg_bc).count() == 0
    assert fused.links_fused(empty, kb_bc, kbi_bc, fg_bc).count() == 0


def test_assembly_round_trip_text_equality(run, tiny_pandas):
    """Driver-mandated invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after window-ordered assembly."""
    back = assemble.explode_back(run["assembled"]).toPandas()
    src = tiny_pandas["transcripts"]
    merged = src.merge(
        back, on=["conv_id", "turn_idx"], suffixes=("_in", "_out"), how="outer",
        indicator=True,
    )
    assert (merged["_merge"] == "both").all()
    assert (merged["text_in"] == merged["text_out"]).all()
    assert (merged["role_in"] == merged["role_out"]).all()


def test_turn_reconstruction_from_tokens(run, tiny_pandas):
    """P16 analog, strengthened: detokenized sentences, regrouped by
    (line_idx), reproduce every non-empty turn's text exactly.  Uses the
    SURFACE token list (P6) — MWT contractions (``im``) must come back as
    one token even though the syntax list carries two (``in dem``)."""
    from relationextractionpipeline_spark.functions import rules

    parsed = run["parsed"].toPandas()
    if parsed.empty:
        pytest.skip("no sentences")
    parsed["detok"] = parsed["surface_tokens"].map(
        lambda ts: rules.detokenize_surface([t["form"] for t in ts])
    )
    lines = (
        parsed.sort_values(["conv_id", "turn_idx", "sent_idx"])
        .groupby(["conv_id", "turn_idx", "line_idx"])["detok"]
        .agg(" ".join)
        .reset_index()
    )
    turns = (
        lines.sort_values(["conv_id", "turn_idx", "line_idx"])
        .groupby(["conv_id", "turn_idx"])["detok"]
        .agg("\n".join)
        .reset_index()
        .rename(columns={"detok": "reconstructed"})
    )
    src = tiny_pandas["transcripts"][["conv_id", "turn_idx", "text"]]
    merged = turns.merge(src, on=["conv_id", "turn_idx"], how="left")
    # non-empty turns reconstruct exactly; multi-line turns with interior
    # empty lines don't occur in the grammar
    mism = merged[merged["reconstructed"] != merged["text"]]
    assert mism.empty, mism.head()


def test_lineage_every_triple_resolves_to_input_row(run, tiny_pandas):
    trips = run["triples"].select("conv_id", "turn_idx").distinct().toPandas()
    src_keys = set(
        map(tuple, tiny_pandas["transcripts"][["conv_id", "turn_idx"]].itertuples(index=False))
    )
    for row in trips.itertuples(index=False):
        assert (row.conv_id, row.turn_idx) in src_keys


def test_types_table_matches_oracle(run, oracle_triples):
    got = set(run["types"].toPandas()["figer_type"])
    want = set(oracle_triples["subj_type"]) | set(oracle_triples["obj_type"])
    assert got == want


def test_staged_joinlink_equals_staged(spark, run, tiny_paths):
    """Big-KB path: relational-join linking (never driver-collects the
    candidate table) must produce the fused path's triple and links tables,
    including zero-mention sentences flowing through with empty arrays."""
    jl = pipeline.run_pipeline(spark, tiny_paths, mode="staged-joinlink")
    a = run["triples"].toPandas()
    b = jl["triples"].toPandas()
    cols = list(a.columns)
    pd.testing.assert_frame_equal(
        a.sort_values(cols).reset_index(drop=True),
        b[cols].sort_values(cols).reset_index(drop=True),
    )
    pd.testing.assert_frame_equal(
        _sorted_pdf(jl["links"], LINK_COLS), _sorted_pdf(run["links"], LINK_COLS)
    )
    assert jl["links"].dtypes == run["links"].dtypes
    # sentence-row parity too (the regroup must not drop mention-free rows)
    assert jl["linked"].count() == run["parsed"].count()


def test_ner_only_nel_mode_operator(spark, run, tiny_paths):
    """The ner_nel.py alternative path as a pipeline option: NEs only,
    adjacent spans fused, same mention schema (the stable interface)."""
    from relationextractionpipeline_spark.functions import rules as _rules

    _, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    _kb_bc, kbi_bc, _fg_bc = pipeline.build_broadcasts(
        spark, entity_kb, figer_map
    )
    alt = mentions_op.detect_mentions(run["parsed"], kbi_bc, nel_mode="ner_only")
    pdf = mentions_op.explode_mentions(alt).toPandas()
    assert set(pdf["kind"]) <= {"ner"}  # no common-noun mentions
    # matches the shared-rules sequential result row for row
    import pandas as _pd

    kbi = {tuple(s.split(" ")): s for s in entity_kb.toPandas()["surface"]}
    par = run["parsed"].toPandas()
    seq_rows = []
    for r in par.itertuples(index=False):
        for mid, m in enumerate(
            _rules.detect_mentions(
                list(r.tokens), kbi, include_common=False, fuse_adjacent=True
            )
        ):
            seq_rows.append(
                (r.conv_id, r.turn_idx, r.sent_idx, mid, m["surface"], m["kind"])
            )
    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id", "surface", "kind"]
    a = _pd.DataFrame(seq_rows, columns=cols).sort_values(cols).reset_index(drop=True)
    b = pdf[cols].astype(a.dtypes).sort_values(cols).reset_index(drop=True)
    _pd.testing.assert_frame_equal(a, b)


def test_link_variants_agree(spark, run, tiny_paths):
    """broadcast-join linker ≡ fused links kernel ≡ applyInPandas scorer."""
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kb_bc, kb_index_bc, figer_bc = pipeline.build_broadcasts(
        spark, entity_kb, figer_map
    )
    mention_rows = fused.mention_rows_fused(transcripts, kb_index_bc)

    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id", "url", "figer"]
    a = link.link_mentions_broadcast_join(mention_rows, entity_kb, figer_map)
    b = link.score_links_grouped(mention_rows, kb_bc, figer_bc)
    pa = a.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    pb = b.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)

    # and the fused links kernel the default path returns
    pc = _sorted_pdf(run["links"], cols)
    pd.testing.assert_frame_equal(pa, pc)


def test_fused_mention_rows_equal_staged_explode(spark, run, tiny_paths):
    """mention_rows_fused (one Arrow crossing) ≡ explode_mentions over the
    joinlink path's segment→parse→mentions UDF chain, row for row."""
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    _kb, kbi_bc, _fg = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id", "start_tok",
            "end_tok", "surface", "tag", "kind"]
    a = _sorted_pdf(
        mentions_op.explode_mentions(
            mentions_op.detect_mentions(run["parsed"], kbi_bc)
        ),
        cols,
    )
    b_ = (
        fused.mention_rows_fused(transcripts, kbi_bc)
        .select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b_.astype(a.dtypes))


def test_auto_mode_selects_linker_by_kb_size(spark, tiny_paths, monkeypatch):
    """mode='auto': dict-broadcast fused path while the KB is small,
    relational staged-joinlink beyond the row threshold — same triples
    either way (the two paths are equality-tested; this pins the switch)."""
    auto = pipeline.run_pipeline(spark, tiny_paths, mode="auto")
    assert "linked" not in auto  # fused selection (tiny KB)
    monkeypatch.setattr(pipeline, "AUTO_JOINLINK_KB_ROWS", 5)
    auto_big = pipeline.run_pipeline(spark, tiny_paths, mode="auto")
    assert "linked" in auto_big  # joinlink selection (its UDF chain)
    cols = ["conv_id", "turn_idx", "sent_idx", "rel"]
    a = {tuple(r) for r in auto["triples"].select(cols).collect()}
    b = {tuple(r) for r in auto_big["triples"].select(cols).collect()}
    assert a == b
    spark.catalog.clearCache()


def test_build_broadcasts_runs_two_jobs(spark, tiny_paths):
    """One bounded collect per dimension table; the dicts equal the ones
    ``read_broadcasts`` builds from the files on the driver, which runs no
    job."""
    entity_kb = spark.read.parquet(tiny_paths["entity_kb"])
    figer_map = spark.read.parquet(tiny_paths["figer_map"])
    with spark_jobs(spark) as collected:
        built = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    assert len(collected) == 2
    with spark_jobs(spark) as read:
        local = pipeline.read_broadcasts(spark, tiny_paths)
    assert read == []
    assert [b.value for b in built] == [b.value for b in local]
    assert all(len(b.value) for b in built)


def test_dict_broadcast_guard_raises_above_the_bound(
    spark, tiny_paths, monkeypatch
):
    """Each driver collect of the KB raises once it holds more rows than
    ``DICT_BROADCAST_MAX_ROWS``; the driver read raises from the footers,
    before it reads a row."""
    n = len(pd.read_parquet(tiny_paths["entity_kb"]))
    entity_kb = spark.read.parquet(tiny_paths["entity_kb"])
    figer_map = spark.read.parquet(tiny_paths["figer_map"])
    builders = [
        lambda: pipeline.build_broadcasts(spark, entity_kb, figer_map),
        lambda: pipeline.build_candidates_broadcast(spark, entity_kb),
        lambda: pipeline.read_broadcasts(spark, tiny_paths),
    ]
    monkeypatch.setattr(pipeline, "DICT_BROADCAST_MAX_ROWS", n)
    for build in builders:
        build()
    monkeypatch.setattr(pipeline, "DICT_BROADCAST_MAX_ROWS", n - 1)

    def no_read(*_a, **_kw):
        raise AssertionError("the guard read rows")

    monkeypatch.setattr(pipeline.pq, "read_table", no_read)
    for build in builders:
        with pytest.raises(ValueError, match="entity_kb too large"):
            build()


def test_context_scorer_degrades_to_prior_without_context(spark, tiny_paths):
    """mode='context' over conversations holding a SINGLE distinct surface
    (incl. an unknown one): the context set is empty, every boost is 0 —
    urls, figers AND scores must equal the max-prior scorer exactly."""
    _, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    rows = [
        ("c1", 0, 0, 0, 1, 1, "Turing", "ner1", "ner"),
        ("c1", 1, 0, 0, 1, 1, "Turing", "ner1", "ner"),
        ("c2", 0, 0, 0, 1, 1, "Franklin", "ner1", "ner"),
        ("c3", 0, 0, 0, 1, 1, "report", "com1", "com"),  # unknown → notInWiki
    ]
    sub = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, sent_idx int, mention_id int, "
        "start_tok int, end_tok int, surface string, tag string, kind string",
    )
    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id",
            "url", "figer", "score"]
    a = link.score_links_grouped(sub, kb_bc, figer_bc)
    pa = a.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    # both context scorers (coreference-only AND coreference+type) degrade
    # exactly to max-prior with no other surfaces in the conversation
    for extra in ({}, {"type_boost": link.TYPE_BOOST}):
        b = link.score_links_grouped(
            sub, kb_bc, figer_bc, mode="context", cands_bc=cands_bc, **extra
        )
        pb = b.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(pa, pb)


def test_type_coherence_boost_flips_on_shared_figer_type(spark):
    """The second context signal: an ambiguous surface whose lower-prior
    candidate shares a FIGER type with another surface's max-prior link in
    the conversation flips to that candidate when the prior gap < 0.25 —
    and only then (a 0.3 gap stays on the prior winner; a context-free
    conversation is untouched).  URL coreference plays no role here (no
    shared URLs), isolating the type signal."""
    kb_rows = [
        # "Jordan": country (prior .5) vs basketball person (.4) — gap .1
        ("Jordan", "http://db/Jordan_Country", 0.5),
        ("Jordan", "http://db/Michael_Jordan", 0.4),
        # "Lincoln": city (.7) vs person (.4) — gap .3 > TYPE_BOOST
        ("Lincoln", "http://db/Lincoln_City", 0.7),
        ("Lincoln", "http://db/Abraham_Lincoln", 0.4),
        # unambiguous person anchor
        ("Serena Williams", "http://db/Serena_Williams", 0.9),
    ]
    figer_rows = [
        ("http://db/Jordan_Country", "/location/country"),
        ("http://db/Michael_Jordan", "/person/athlete"),
        ("http://db/Lincoln_City", "/location/city"),
        ("http://db/Abraham_Lincoln", "/person/athlete"),  # same type signal…
        ("http://db/Serena_Williams", "/person/athlete"),
    ]
    entity_kb = spark.createDataFrame(kb_rows, "surface string, url string, prior double")
    figer_map = spark.createDataFrame(figer_rows, "url string, figer_type string")
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    rows = [
        ("c1", 0, 0, 0, 1, 2, "Serena Williams", "ner1", "ner"),
        ("c1", 1, 0, 0, 1, 1, "Jordan", "ner1", "ner"),
        ("c1", 2, 0, 0, 1, 1, "Lincoln", "ner1", "ner"),
        ("c2", 0, 0, 0, 1, 1, "Jordan", "ner1", "ner"),  # no context
    ]
    sub = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, sent_idx int, mention_id int, "
        "start_tok int, end_tok int, surface string, tag string, kind string",
    )
    got = {
        (r["conv_id"], r["surface"]): (r["url"], r["score"])
        for r in link.score_links_grouped(
            sub, kb_bc, figer_bc, mode="context", cands_bc=cands_bc,
            type_boost=link.TYPE_BOOST,
        ).collect()
    }
    # /person/athlete coherence with Serena: Michael (.4+.25) beats country (.5)
    assert got[("c1", "Jordan")] == ("http://db/Michael_Jordan", 0.65)
    # …but Lincoln's .3 prior gap survives the .25 type boost: city stays
    assert got[("c1", "Lincoln")] == ("http://db/Lincoln_City", 0.7)
    # context-free conversation: prior winner untouched
    assert got[("c2", "Jordan")] == ("http://db/Jordan_Country", 0.5)


def test_context_scorer_partition_invariant(spark, tiny_paths):
    """The grouped context scorer's output must not depend on input
    partitioning or row order (the context set derives from pre-sorted
    candidate lists, not frame order)."""
    from relationextractionpipeline_spark.operators import fused

    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kb_bc, kbi_bc, figer_bc = pipeline.build_broadcasts(
        spark, entity_kb, figer_map
    )
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    rows = fused.mention_rows_fused(transcripts, kbi_bc).localCheckpoint()
    scrambled = rows.repartition(7).orderBy(
        F.desc("surface"), F.asc("turn_idx")
    )
    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id",
            "url", "figer", "score"]
    a = (
        link.score_links_grouped(rows, kb_bc, figer_bc,
                                 mode="context", cands_bc=cands_bc)
        .select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    )
    b_ = (
        link.score_links_grouped(scrambled, kb_bc, figer_bc,
                                 mode="context", cands_bc=cands_bc)
        .select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b_)


def test_bucket_grouped_scorer_equals_per_conversation(spark, tiny_paths):
    """Data-scaled bucket grouping (n_groups: whole conversations hashed
    into ~target-row frames, scorer iterating per-conv inside the frame)
    must reproduce the per-conversation grouping row for row, in BOTH
    scorer modes — the grouping is an overhead-amortization knob, never a
    semantics knob.  n_groups=3 forces many conversations per frame."""
    from relationextractionpipeline_spark.operators import fused

    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kb_bc, kbi_bc, figer_bc = pipeline.build_broadcasts(
        spark, entity_kb, figer_map
    )
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    rows = fused.mention_rows_fused(transcripts, kbi_bc).localCheckpoint()
    cols = ["conv_id", "turn_idx", "sent_idx", "mention_id",
            "url", "figer", "score"]
    for kwargs in (
        {},
        {"mode": "context", "cands_bc": cands_bc},
    ):
        per_conv = (
            link.score_links_grouped(rows, kb_bc, figer_bc, **kwargs)
            .select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        )
        bucketed = (
            link.score_links_grouped(rows, kb_bc, figer_bc, n_groups=3, **kwargs)
            .select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(per_conv, bucketed)
    # the bucketed plan shuffles on the hash bucket, not per-conversation
    plan = (
        link.score_links_grouped(rows, kb_bc, figer_bc, n_groups=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(_grp" in plan


def test_context_scorer_flips_alias_on_coreference(spark, tiny_paths):
    """The ambiguous alias 'Franklin' links to Rosalind_Franklin on prior
    alone, but flips to Benjamin_Franklin when the conversation also
    mentions 'Benjamin Franklin' (within-conversation surface coreference);
    a context-free conversation stays on the prior winner."""
    _, entity_kb, figer_map = pipeline.load_inputs(spark, tiny_paths)
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    rows = [
        ("c1", 0, 0, 0, 1, 2, "Benjamin Franklin", "ner1", "ner"),
        ("c1", 1, 0, 0, 1, 1, "Franklin", "ner1", "ner"),
        ("c2", 0, 0, 0, 1, 1, "Franklin", "ner1", "ner"),
    ]
    mention_rows = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, sent_idx int, mention_id int, "
        "start_tok int, end_tok int, surface string, tag string, kind string",
    )
    prior = {
        (r["conv_id"], r["surface"]): r["url"]
        for r in link.score_links_grouped(mention_rows, kb_bc, figer_bc).collect()
    }
    ctx = {
        (r["conv_id"], r["surface"]): r["url"]
        for r in link.score_links_grouped(
            mention_rows, kb_bc, figer_bc, mode="context", cands_bc=cands_bc
        ).collect()
    }
    assert prior[("c1", "Franklin")].endswith("/Rosalind_Franklin")
    assert ctx[("c1", "Franklin")].endswith("/Benjamin_Franklin")  # flipped
    assert ctx[("c2", "Franklin")].endswith("/Rosalind_Franklin")  # no context
    assert ctx[("c1", "Benjamin Franklin")].endswith("/Benjamin_Franklin")


def test_df_weighted_context_scorer_discounts_common_evidence(spark):
    """df-weighting: coreference evidence from a surface seen in MANY
    conversations is discounted 1/(1+ln(df)) — strong enough to keep a
    rare-evidence flip, weak enough to suppress a common-evidence one.
    df=1 evidence must reproduce the unweighted scores exactly."""
    import math

    kb_rows = [
        ("X", "http://synthetic.kb/resource/A", 0.8),
        ("X", "http://synthetic.kb/resource/B", 0.5),
        ("S", "http://synthetic.kb/resource/B", 0.9),
    ]
    entity_kb = spark.createDataFrame(
        kb_rows, "surface string, url string, prior double"
    )
    figer_map = spark.createDataFrame(
        [("http://synthetic.kb/resource/A", "/person")],
        "url string, figer_type string",
    )
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    mschema = (
        "conv_id string, turn_idx int, sent_idx int, mention_id int, "
        "start_tok int, end_tok int, surface string, tag string, kind string"
    )
    # evidence surface S appears in 9 conversations; the ambiguous X only in c0
    rows = [("c0", 0, 0, 0, 1, 1, "X", "ner1", "ner"),
            ("c0", 1, 0, 0, 1, 1, "S", "ner1", "ner")]
    rows += [(f"c{i}", 0, 0, 0, 1, 1, "S", "ner1", "ner") for i in range(1, 9)]
    mention_rows = spark.createDataFrame(rows, mschema)

    def x_link(**kw):
        out = link.score_links_grouped(
            mention_rows, kb_bc, figer_bc, mode="context", cands_bc=cands_bc, **kw
        ).collect()
        return next((r.url, r.score) for r in out if r.surface == "X")

    # unweighted: B gets the full 0.5 boost (0.5+0.5=1.0 > 0.8) → flips
    url_u, score_u = x_link()
    assert url_u.endswith("/B") and score_u == 1.0
    # df-weighted: w = 1/(1+ln(9)) ≈ 0.313 → 0.5+0.157 < 0.8 → no flip
    df_bc = spark.sparkContext.broadcast(
        link.surface_conv_df(mention_rows, entity_kb)
    )
    assert df_bc.value == {"S": 9, "X": 1}
    url_w, score_w = x_link(df_bc=df_bc)
    assert url_w.endswith("/A") and score_w == 0.8
    # df=1 evidence keeps the FULL boost: scores identical to unweighted
    one_conv = spark.createDataFrame(rows[:2], mschema)
    df1_bc = spark.sparkContext.broadcast(
        link.surface_conv_df(one_conv, entity_kb)
    )
    plain = {(r.surface, r.url, r.score) for r in link.score_links_grouped(
        one_conv, kb_bc, figer_bc, mode="context", cands_bc=cands_bc
    ).collect()}
    weighted = {(r.surface, r.url, r.score) for r in link.score_links_grouped(
        one_conv, kb_bc, figer_bc, mode="context", cands_bc=cands_bc,
        df_bc=df1_bc,
    ).collect()}
    assert plain == weighted
    # and the suppressed score is exactly prior (candidate A never boosted)
    assert math.isclose(score_w, 0.8)


def test_type_df_weighted_boost_discounts_common_types(spark):
    """Learned per-type boost: type-coherence evidence from a type present
    in MANY conversations is discounted 1/(1+ln(df)) — a common type stops
    flipping links, a df=1 type reproduces the flat-constant scores
    exactly, and tdf_bc=None is bit-identical to the flat scorer."""
    import math

    kb_rows = [
        ("X", "http://synthetic.kb/resource/A", 0.8),
        ("X", "http://synthetic.kb/resource/B", 0.6),
        ("S", "http://synthetic.kb/resource/C", 0.9),
    ] + [
        (f"S{i}", f"http://synthetic.kb/resource/D{i}", 0.9) for i in range(1, 12)
    ]
    entity_kb = spark.createDataFrame(
        kb_rows, "surface string, url string, prior double"
    )
    figer_rows = [
        ("http://synthetic.kb/resource/A", "/person"),
        ("http://synthetic.kb/resource/B", "/org"),
        ("http://synthetic.kb/resource/C", "/org"),
    ] + [(f"http://synthetic.kb/resource/D{i}", "/org") for i in range(1, 12)]
    figer_map = spark.createDataFrame(figer_rows, "url string, figer_type string")
    kb_bc, _kbi, figer_bc = pipeline.build_broadcasts(spark, entity_kb, figer_map)
    cands_bc = pipeline.build_candidates_broadcast(spark, entity_kb)
    mschema = (
        "conv_id string, turn_idx int, sent_idx int, mention_id int, "
        "start_tok int, end_tok int, surface string, tag string, kind string"
    )
    # /org is the max-prior type of some surface in 12 conversations
    rows = [("c0", 0, 0, 0, 1, 1, "X", "ner1", "ner"),
            ("c0", 1, 0, 0, 1, 1, "S", "ner1", "ner")]
    rows += [(f"c{i}", 0, 0, 0, 1, 1, f"S{i}", "ner1", "ner")
             for i in range(1, 12)]
    mention_rows = spark.createDataFrame(rows, mschema)

    def x_link(mrows, **kw):
        out = link.score_links_grouped(
            mrows, kb_bc, figer_bc, mode="context", cands_bc=cands_bc,
            type_boost=link.TYPE_BOOST, **kw
        ).collect()
        return next((r.url, r.score) for r in out if r.surface == "X")

    tdf = link.type_conv_df(mention_rows, entity_kb, figer_map)
    assert tdf == {"/org": 12, "/person": 1}
    # flat constant: B gets the full 0.25 (0.6+0.25 > 0.8) -> flips
    url_f, score_f = x_link(mention_rows)
    assert url_f.endswith("/B") and math.isclose(score_f, 0.85)
    # learned weight: 0.25/(1+ln(12)) ~ 0.072 -> 0.672 < 0.8 -> no flip
    tdf_bc = spark.sparkContext.broadcast(tdf)
    url_w, score_w = x_link(mention_rows, tdf_bc=tdf_bc)
    assert url_w.endswith("/A") and math.isclose(score_w, 0.8)
    # df=1 types keep the FULL boost: scores identical to the flat scorer
    one_conv = spark.createDataFrame(rows[:2], mschema)
    tdf1_bc = spark.sparkContext.broadcast(
        link.type_conv_df(one_conv, entity_kb, figer_map)
    )
    flat = {(r.surface, r.url, r.score) for r in link.score_links_grouped(
        one_conv, kb_bc, figer_bc, mode="context", cands_bc=cands_bc,
        type_boost=link.TYPE_BOOST,
    ).collect()}
    weighted = {(r.surface, r.url, r.score) for r in link.score_links_grouped(
        one_conv, kb_bc, figer_bc, mode="context", cands_bc=cands_bc,
        type_boost=link.TYPE_BOOST, tdf_bc=tdf1_bc,
    ).collect()}
    assert flat == weighted
