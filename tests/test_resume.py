"""Checkpoint/resume: kill-and-resume skips completed groups and stages;
byte-identical triples; fingerprint invalidation recomputes (SURVEY.md
§5.3)."""

from __future__ import annotations

import json
import os
import shutil

from relationextractionpipeline_spark.operators import canonicalize
from relationextractionpipeline_spark.plans import manifests, pipeline
from tests.test_pipeline import TRIPLE_KEY, _triple_set


def _events(runner):
    return {(e["stage"], e["action"]) for e in runner.events}


def _kill(ck, stage, gi):
    """Lose one group's output and manifest, as a kill mid-group would."""
    shutil.rmtree(os.path.join(ck, stage, f"g{gi:05d}"))
    os.remove(os.path.join(ck, stage, f"g{gi:05d}._manifest.json"))


def test_checkpoint_then_resume(spark, tiny_paths, tmp_path):
    ck = str(tmp_path / "ck")

    # first (cold) run: everything computed
    r1 = manifests.run_checkpointed(spark, tiny_paths, ck)
    t1 = _triple_set(r1["triples"].toPandas())
    assert _events(r1["runner"]) == {("triples", "computed")}
    groups = sorted(e["group"] for e in r1["runner"].events)
    ms = [
        json.load(open(os.path.join(ck, "triples", f"g{gi:05d}._manifest.json")))
        for gi in groups
    ]
    assert sum(m["rows"] for m in ms) == len(t1)
    assert all(m["partitions"] and all(p["rows"] >= 0 for p in m["partitions"])
               for m in ms)

    # simulate a kill while one group was in flight: only it recomputes
    _kill(ck, "triples", groups[0])
    r2 = manifests.run_checkpointed(spark, tiny_paths, ck)
    acts = {(e["group"], e["action"]) for e in r2["runner"].events}
    assert acts == {(gi, "computed" if gi == groups[0] else "resumed")
                    for gi in groups}
    assert _triple_set(r2["triples"].toPandas()) == t1

    # full resume: nothing recomputed
    r3 = manifests.run_checkpointed(spark, tiny_paths, ck)
    assert _events(r3["runner"]) == {("triples", "resumed")}
    assert _triple_set(r3["triples"].toPandas()) == t1


def test_checkpointed_graph_tail_resume(spark, tiny_paths, tmp_path, monkeypatch):
    """Graph stages (entities/edges/predicates) under manifest control: a
    kill during the graph tail recomputes only the dead stage; a full
    resume never re-runs the clustering; outputs match the direct
    materialize_graph path."""
    ck = str(tmp_path / "ck_graph")
    r1 = manifests.run_checkpointed(spark, tiny_paths, ck, graph=True)
    assert _events(r1["runner"]) == {
        (s, "computed")
        for s in ("triples", "links", "entities", "edges", "predicates")
    }
    ents1 = {r["canonical_id"] for r in r1["entities"].collect()}
    edges1 = r1["edges"].count()

    # direct path equality — including the EDGES SCHEMA: the checkpointed
    # tail must carry the predicate rewrite (pred_canonical/pred_id), not a
    # schema-diverged edges table missing the predicates join
    direct = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    g = pipeline.materialize_graph(direct)
    assert {r["canonical_id"] for r in g["entities"].collect()} == ents1
    assert g["edges"].count() == edges1
    assert r1["edges"].columns == g["edges"].columns
    assert r1["edges"].dtypes == g["edges"].dtypes
    assert {"pred_canonical", "pred_id"} <= set(r1["edges"].columns)
    pe_ck = {
        (r["pred"], r["pred_canonical"])
        for r in r1["edges"].select("pred", "pred_canonical").distinct().collect()
    }
    pe_direct = {
        (r["pred"], r["pred_canonical"])
        for r in g["edges"].select("pred", "pred_canonical").distinct().collect()
    }
    assert pe_ck == pe_direct

    # kill during the graph tail: drop edges only
    _kill(ck, "edges", 0)
    r2 = manifests.run_checkpointed(spark, tiny_paths, ck, graph=True)
    ev = _events(r2["runner"])
    assert ("edges", "computed") in ev
    assert ev - {("edges", "computed")} == {
        (s, "resumed") for s in ("triples", "links", "entities", "predicates")
    }
    assert r2["edges"].count() == edges1

    # full resume: every stage (incl. graph) resumed, and neither
    # clustering entry point (driver core or distributed CC) ran
    calls = []
    for name in ("_driver_components", "connected_components"):
        real = getattr(canonicalize, name)
        monkeypatch.setattr(
            canonicalize, name,
            lambda *a, _real=real, _name=name, **kw: (
                calls.append(_name) or _real(*a, **kw)
            ),
        )
    r3 = manifests.run_checkpointed(spark, tiny_paths, ck, graph=True)
    assert _events(r3["runner"]) == {
        (s, "resumed")
        for s in ("triples", "links", "entities", "edges", "predicates")
    }
    assert r3["edges"].count() == edges1
    assert not calls


def test_checkpointed_nel_mode_reaches_kernels_and_fingerprint(
    spark, tiny_paths, tmp_path
):
    """nel_mode='ner_only' reaches both checkpointed kernels, and a
    checkpoint made under one mode is never resumed under the other."""
    ck = str(tmp_path / "ck_nel")
    r1 = manifests.run_checkpointed(
        spark, tiny_paths, ck, graph=True, nel_mode="ner_only"
    )
    ner = pipeline.run_pipeline(spark, tiny_paths, mode="fused", nel_mode="ner_only")
    t_ner = _triple_set(r1["triples"].toPandas())
    assert t_ner == _triple_set(ner["triples"].toPandas())
    assert {r["kind"] for r in r1["links"].select("kind").distinct().collect()} == {
        "ner"
    }

    r2 = manifests.run_checkpointed(spark, tiny_paths, ck)  # merged
    assert _events(r2["runner"]) == {("triples", "computed")}
    merged = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    t_merged = _triple_set(r2["triples"].toPandas())
    assert t_merged == _triple_set(merged["triples"].toPandas())
    assert t_merged != t_ner


def test_checkpointed_matches_direct(spark, tiny_paths, tmp_path):
    ck = str(tmp_path / "ck2")
    r = manifests.run_checkpointed(spark, tiny_paths, ck)
    direct = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    assert _triple_set(r["triples"].toPandas()) == _triple_set(
        direct["triples"].toPandas()
    )


def test_partition_level_resume(spark, tiny_paths, tmp_path):
    """Mid-stage kill: only the group that was in flight recomputes; finished
    groups are skipped."""
    ck = str(tmp_path / "ckp")
    # shard the tiny transcripts into 3 files so groups exist
    import pandas as _pd

    tdir = str(tmp_path / "tshard")
    os.makedirs(tdir)
    pdf = _pd.read_parquet(tiny_paths["transcripts"])
    for s in range(3):
        pdf.iloc[s::3].to_parquet(os.path.join(tdir, f"part-{s}.parquet"),
                                  index=False)
    paths = dict(tiny_paths, transcripts=tdir)

    # groups are hash buckets of the ACTUAL file paths — derive the
    # expected layout from plan_groups rather than hardcoding indices
    files = manifests.list_parquet_files(tdir)
    buckets = manifests.PartitionedStageRunner.plan_groups(files, 1)
    nonempty = [gi for gi, fs in enumerate(buckets) if fs]

    r1 = manifests.run_checkpointed_partitioned(spark, paths, ck, group_size=1)
    t1 = _triple_set(r1["triples"].toPandas())
    groups = {e["group"] for e in r1["runner"].events}
    assert groups == set(nonempty)
    assert all(e["action"] == "computed" for e in r1["runner"].events)

    # simulate a kill while one group was in flight: drop output + manifest
    import glob

    gkill = nonempty[0]
    g1 = os.path.join(ck, "triples", f"g{gkill:05d}")
    shutil.rmtree(g1)
    for m in glob.glob(
        os.path.join(ck, "triples", f"g{gkill:05d}._manifest.json")
    ):
        os.remove(m)

    r2 = manifests.run_checkpointed_partitioned(spark, paths, ck, group_size=1)
    acts = {(e["group"], e["action"]) for e in r2["runner"].events}
    assert (gkill, "computed") in acts
    assert all(a == "resumed" for g, a in acts if g != gkill)
    assert _triple_set(r2["triples"].toPandas()) == t1

    # and equals the direct fused run
    direct = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    assert t1 == _triple_set(direct["triples"].toPandas())


def test_partition_resume_group_manifest_counters(spark, tiny_paths, tmp_path):
    ck = str(tmp_path / "ckp2")
    import glob
    import json

    manifests.run_checkpointed_partitioned(spark, tiny_paths, ck, group_size=2)
    mfiles = sorted(glob.glob(os.path.join(ck, "triples", "g*._manifest.json")))
    assert mfiles
    total = 0
    for mf in mfiles:
        m = json.load(open(mf))
        assert m["files"] and m["fingerprint"]
        assert m["rows"] == sum(p["rows"] for p in m["partitions"])
        total += m["rows"]
    direct = pipeline.run_pipeline(spark, tiny_paths, mode="fused")
    assert total == direct["triples"].count()


def test_fingerprint_invalidation(spark, tiny_paths, tmp_path):
    ck = str(tmp_path / "ck3")
    manifests.run_checkpointed(spark, tiny_paths, ck)
    # touch the input files → new fingerprint → stale checkpoints recompute
    t = tiny_paths["transcripts"]
    targets = (
        [os.path.join(t, f) for f in os.listdir(t)] if os.path.isdir(t) else [t]
    )
    for p in targets:
        os.utime(p, (1, 1))
    r = manifests.run_checkpointed(spark, tiny_paths, ck)
    assert _events(r["runner"]) == {("triples", "computed")}


def test_partition_resume_append_recomputes_only_gained_buckets(
    spark, tiny_paths, tmp_path
):
    """Appending corpus files must NOT invalidate untouched groups: file →
    bucket assignment is hash-stable and fingerprints are per-group, so
    only buckets that gained files recompute.  (The old positional
    chunking + global fingerprint re-extracted the whole corpus for one
    appended file.)"""
    import pandas as _pd

    ck = str(tmp_path / "ckp3")
    tdir = str(tmp_path / "tshard3")
    os.makedirs(tdir)
    pdf = _pd.read_parquet(tiny_paths["transcripts"])
    # 5 shards at group_size=2 → 4 buckets; the 6th keeps the bucket
    # count at 4 (no doubling), so old files keep their buckets
    for s in range(5):
        pdf.iloc[s::6].to_parquet(
            os.path.join(tdir, f"part-{s}.parquet"), index=False
        )
    paths = dict(tiny_paths, transcripts=tdir)
    manifests.run_checkpointed_partitioned(spark, paths, ck, group_size=2)

    # append shard 5 and re-run
    pdf.iloc[5::6].to_parquet(
        os.path.join(tdir, f"part-5.parquet"), index=False
    )
    files = manifests.list_parquet_files(tdir)
    before = manifests.PartitionedStageRunner.plan_groups(
        [f for f in files if not f.endswith("part-5.parquet")], 2
    )
    after = manifests.PartitionedStageRunner.plan_groups(files, 2)
    assert len(before) == len(after)  # no bucket-count doubling
    changed = {
        gi for gi, fs in enumerate(after) if fs and fs != before[gi]
    }
    assert changed  # the new file landed somewhere

    r2 = manifests.run_checkpointed_partitioned(spark, paths, ck, group_size=2)
    acts = {(e["group"], e["action"]) for e in r2["runner"].events}
    assert {g for g, a in acts if a == "computed"} == changed
    assert all(a == "resumed" for g, a in acts if g not in changed)

    # result equals a direct fused run over the full 6-shard corpus
    direct_triples = pipeline.run_pipeline(
        spark, dict(tiny_paths, transcripts=tdir), mode="fused"
    )["triples"]
    assert _triple_set(r2["triples"].toPandas()) == _triple_set(
        direct_triples.toPandas()
    )
