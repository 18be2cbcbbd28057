"""Checkpoint/resume: kill-and-resume skips completed groups and stages;
byte-identical triples; fingerprint invalidation recomputes (SURVEY.md
§5.3)."""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T

from relationextractionpipeline_spark.functions import kbdicts
from relationextractionpipeline_spark.operators import canonicalize
from relationextractionpipeline_spark.plans import manifests, pipeline
from tests.test_pipeline import TRIPLE_KEY, _triple_set, spark_jobs
from tests.test_session import REPO, split_conf


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

    # full resume: every stage (incl. graph) resumed, neither clustering
    # entry point (driver core or distributed CC) ran, no broadcast dict
    # was built (the one builder both broadcast paths call), and no Spark
    # job ran
    def no_broadcasts(*_a, **_kw):
        raise AssertionError("a full resume built the broadcasts")

    monkeypatch.setattr(kbdicts, "build_dicts", no_broadcasts)
    calls = []
    for name in ("_driver_components", "connected_components"):
        real = getattr(canonicalize, name)
        monkeypatch.setattr(
            canonicalize, name,
            lambda *a, _real=real, _name=name, **kw: (
                calls.append(_name) or _real(*a, **kw)
            ),
        )
    with spark_jobs(spark) as jobs:
        r3 = manifests.run_checkpointed(spark, tiny_paths, ck, graph=True)
    assert jobs == []
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


def _shard(tiny_paths, tdir, n=3):
    """The tiny transcripts as ``n`` files, so a checkpoint has groups."""
    os.makedirs(tdir)
    pdf = pd.read_parquet(tiny_paths["transcripts"])
    for s in range(n):
        pdf.iloc[s::n].to_parquet(
            os.path.join(tdir, f"part-{s}.parquet"), index=False
        )
    return dict(tiny_paths, transcripts=tdir)


@pytest.fixture(scope="module")
def sharded_ck(spark, tiny_paths, tmp_path_factory):
    """A cold group_size=1 checkpoint over three shards, and its triples."""
    root = tmp_path_factory.mktemp("faults")
    paths = _shard(tiny_paths, str(root / "tshard"))
    ck = str(root / "ck")
    r = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    groups = sorted(e["group"] for e in r["runner"].events)
    return paths, ck, groups, _triple_set(r["triples"].toPandas())


def _no_manifest(gdir, mpath):
    os.remove(mpath)


def _no_success(gdir, mpath):
    os.remove(os.path.join(gdir, "_SUCCESS"))


def _torn_manifest(gdir, mpath):
    with open(mpath) as f:
        text = f.read()
    with open(mpath, "w") as f:
        f.write(text[: len(text) // 2])


def _empty_manifest(gdir, mpath):
    open(mpath, "w").close()


@pytest.mark.parametrize(
    "fault", [_no_manifest, _no_success, _torn_manifest, _empty_manifest],
    ids=["no_manifest", "no_success", "torn_manifest", "empty_manifest"],
)
def test_fault_recomputes_only_that_group(spark, sharded_ck, fault):
    """A group whose checkpoint is damaged (parquet without a manifest, a
    manifest without ``_SUCCESS``, a torn or empty manifest) recomputes;
    every other group resumes, and the triples equal the cold run's.  The
    rerun leaves the checkpoint whole again."""
    paths, ck, groups, cold = sharded_ck
    gi = groups[-1]
    gdir = os.path.join(ck, "triples", f"g{gi:05d}")
    fault(gdir, gdir + "._manifest.json")
    r = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    acts = {(e["group"], e["action"]) for e in r["runner"].events}
    assert acts == {(g, "computed" if g == gi else "resumed") for g in groups}
    assert _triple_set(r["triples"].toPandas()) == cold


@pytest.mark.parametrize("lost", [0, 1, 2])
def test_rerun_runs_one_job_per_lost_group(spark, sharded_ck, lost):
    """A rerun that lost ``lost`` groups runs one transcripts-schema job
    and one write per lost group, and a full resume runs none: the
    dimension dicts are read on the driver and every stage is read with
    its manifests' schema."""
    paths, ck, groups, cold = sharded_ck
    for gi in groups[:lost]:
        _kill(ck, "triples", gi)
    with spark_jobs(spark) as jobs:
        r = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    assert len(jobs) == (1 + lost if lost else 0)
    acts = {(e["group"], e["action"]) for e in r["runner"].events}
    assert acts == {
        (g, "computed" if g in groups[:lost] else "resumed") for g in groups
    }
    assert _triple_set(r["triples"].toPandas()) == cold


def test_format_2_group_without_schema_recomputes(
    spark, tiny_paths, tmp_path, monkeypatch
):
    """Groups published under format "2" (a manifest without ``schema``)
    recompute, and their rerun records the schema."""
    ck = str(tmp_path / "ck")
    with monkeypatch.context() as m:
        m.setattr(manifests, "FORMAT_VERSION", "2")
        m.setattr(
            manifests, "code_fingerprint", manifests.code_fingerprint.__wrapped__
        )
        manifests.run_checkpointed(spark, tiny_paths, ck, group_size=1)
    sdir = os.path.join(ck, "triples")
    mpaths = [
        os.path.join(sdir, f) for f in os.listdir(sdir)
        if f.endswith("._manifest.json")
    ]
    for mp in mpaths:
        m = json.load(open(mp))
        del m["schema"]
        json.dump(m, open(mp, "w"))
    r = manifests.run_checkpointed(spark, tiny_paths, ck, group_size=1)
    assert _events(r["runner"]) == {("triples", "computed")}
    assert all("schema" in json.load(open(mp)) for mp in mpaths)


def test_old_format_group_with_pid_recomputes(
    spark, tiny_paths, tmp_path, monkeypatch
):
    """Group outputs written before footer counting carry a ``_pid``
    column; the format version bump makes them recompute, so a resume
    never unions them with ``_pid``-less groups."""
    paths = _shard(tiny_paths, str(tmp_path / "tshard"))
    fresh = manifests.run_checkpointed(
        spark, paths, str(tmp_path / "fresh"), group_size=1
    )["triples"]

    ck = str(tmp_path / "ck")
    with monkeypatch.context() as m:
        m.setattr(manifests, "code_fingerprint", lambda: "format 1")
        r1 = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    groups = sorted(e["group"] for e in r1["runner"].events)
    # rewrite one group as the old format wrote it: data plus _pid
    gdir = os.path.join(ck, "triples", f"g{groups[0]:05d}")
    old = pd.read_parquet(gdir).assign(_pid=0)
    for f in os.listdir(gdir):
        if f.endswith(".parquet"):
            os.remove(os.path.join(gdir, f))
    old.to_parquet(os.path.join(gdir, "part-00000-old-c000.snappy.parquet"),
                   index=False)

    r2 = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    assert _events(r2["runner"]) == {("triples", "computed")}
    assert r2["triples"].schema == fresh.schema
    assert _triple_set(r2["triples"].toPandas()) == _triple_set(fresh.toPandas())


def test_group_kernel_input_is_one_partition(
    spark, tiny_paths, tmp_path, monkeypatch
):
    """Under the CLI's split conf a plain scan of a small group fans out to
    the cores; the group's kernel input is one partition (the
    ``MIN_SPLIT_BYTES`` floor)."""
    files = manifests.list_parquet_files(tiny_paths["transcripts"])
    seen = []
    real = pipeline.run_fused

    def spy(transcripts, *a, **kw):
        seen.append(transcripts.rdd.getNumPartitions())
        return real(transcripts, *a, **kw)

    monkeypatch.setattr(pipeline, "run_fused", spy)
    with split_conf(spark, sum(map(os.path.getsize, files))):
        assert spark.read.parquet(*files).rdd.getNumPartitions() > 1
        manifests.run_checkpointed(spark, tiny_paths, str(tmp_path / "ck"))
    assert seen == [1]


GRAPH_STAGES = ("triples", "links", "predicates", "entities", "edges")


@pytest.fixture(scope="module")
def graph_ck(spark, tiny_paths, tmp_path_factory):
    """A cold ``graph=True`` checkpoint (group_size=2) and its outputs."""
    ck = str(tmp_path_factory.mktemp("graph") / "ck")
    return ck, manifests.run_checkpointed(
        spark, tiny_paths, ck, graph=True, group_size=2
    )


def test_stage_schemas_are_the_read_schemas(spark, tiny_paths, graph_ck):
    """Each stage, cold and resumed, reads its groups with the schema a
    ``spark.read.parquet`` of its group dirs infers, recorded in every
    group's manifest."""
    ck, cold = graph_ck
    resumed = manifests.run_checkpointed(
        spark, tiny_paths, ck, graph=True, group_size=2
    )
    assert {a for _s, a in _events(resumed["runner"])} == {"resumed"}
    for stage in GRAPH_STAGES:
        sdir = os.path.join(ck, stage)
        mpaths = sorted(
            os.path.join(sdir, f) for f in os.listdir(sdir)
            if f.endswith("._manifest.json")
        )
        inferred = spark.read.parquet(
            *(mp[: -len("._manifest.json")] for mp in mpaths)
        ).schema
        assert cold[stage].schema == inferred, stage
        assert resumed[stage].schema == inferred, stage
        for mp in mpaths:
            assert T.StructType.fromJson(json.load(open(mp))["schema"]) == inferred


def test_manifest_counts_equal_spark_counts(spark, graph_ck):
    """Footer-read manifest counts: ``rows`` and every ``partitions[i]``
    equal a Spark count of that group's output, for every stage of a graph
    run plus one stage that writes several partitions."""
    ck, r = graph_ck
    r["runner"].whole(
        "spread", "fp", [], lambda: spark.range(0, 1000, numPartitions=5)
    )
    mpaths = [
        os.path.join(ck, stage, f)
        for stage in sorted(os.listdir(ck))
        for f in sorted(os.listdir(os.path.join(ck, stage)))
        if f.endswith("._manifest.json")
    ]
    assert {os.path.basename(os.path.dirname(p)) for p in mpaths} == {
        *GRAPH_STAGES, "spread"
    }
    for mp in mpaths:
        m = json.load(open(mp))
        gout = m["output"]
        assert m["rows"] == spark.read.parquet(gout).count()
        by_pid = {}
        for f in os.listdir(gout):
            hit = re.match(r"part-(\d+)-", f)
            if hit:
                pid = int(hit.group(1))
                n = spark.read.parquet(os.path.join(gout, f)).count()
                by_pid[pid] = by_pid.get(pid, 0) + n
        assert m["partitions"] == [
            {"pid": p, "rows": n} for p, n in sorted(by_pid.items()) if n
        ]
    spread = json.load(open(os.path.join(ck, "spread", "g00000._manifest.json")))
    assert len(spread["partitions"]) == 5


class _Sigkill:
    """Unpickles as a SIGKILL of the unpickling process."""

    def __reduce__(self):
        return signal.raise_signal, (signal.SIGKILL,)


def test_python_worker_killed_mid_kernel(spark, tiny_paths, tmp_path, monkeypatch):
    """A Python worker SIGKILLed inside one group's kernel fails the run;
    that group publishes neither a manifest nor ``_SUCCESS``.  A rerun in
    the same session, on fresh workers, resumes the groups published
    before the kill, recomputes only the killed group and those not yet
    run, and its triples equal a cold run's."""
    paths = _shard(tiny_paths, str(tmp_path / "tshard"), n=8)
    cold = manifests.run_checkpointed(
        spark, paths, str(tmp_path / "cold"), group_size=1
    )
    groups = sorted(e["group"] for e in cold["runner"].events)
    assert len(groups) >= 3
    killed = groups[1]

    ck = str(tmp_path / "ck")
    real = pipeline.run_fused
    poison = spark.sparkContext.broadcast(_Sigkill())
    calls = []

    def kill_second_group(transcripts, kb_bc, kb_index_bc, figer_bc, **kw):
        # the kernel reads figer_bc.value in its worker: the second group's
        # worker dies there, mid-kernel
        calls.append(1)
        if len(calls) == 2:
            figer_bc = poison
        return real(transcripts, kb_bc, kb_index_bc, figer_bc, **kw)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "run_fused", kill_second_group)
        with pytest.raises(Exception, match="(?i)python worker"):
            manifests.run_checkpointed(spark, paths, ck, group_size=1)
    poison.destroy()
    for gi in groups:
        gdir = os.path.join(ck, "triples", f"g{gi:05d}")
        published = gi < killed
        assert os.path.exists(gdir + "._manifest.json") == published, gi
        assert os.path.exists(os.path.join(gdir, "_SUCCESS")) == published, gi

    r = manifests.run_checkpointed(spark, paths, ck, group_size=1)
    acts = {(e["group"], e["action"]) for e in r["runner"].events}
    assert acts == {(g, "resumed" if g < killed else "computed") for g in groups}
    assert _triple_set(r["triples"].toPandas()) == _triple_set(
        cold["triples"].toPandas()
    )


def _code_fingerprint_of(root):
    """``code_fingerprint()`` of the package under ``root``, in a fresh
    interpreter."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "from relationextractionpipeline_spark.plans import manifests; "
         "print(manifests.code_fingerprint())"],
        cwd=root, env=dict(os.environ, PYTHONPATH=root),
        capture_output=True, text=True, check=True,
    )
    return proc.stdout.strip()


@pytest.mark.parametrize("edit", [None, "functions/rules.py", "functions/kbdicts.py",
                                  "operators/fused.py", "operators/canonicalize.py"])
def test_code_fingerprint_follows_rule_sources(tmp_path, edit):
    """A copy of the package has this package's code fingerprint until one
    of its rule sources changes."""
    pkg = "relationextractionpipeline_spark"
    shutil.copytree(
        os.path.join(REPO, pkg), str(tmp_path / pkg),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    if edit:
        with open(tmp_path / pkg / edit, "a") as f:
            f.write("\n# edited\n")
    same = _code_fingerprint_of(str(tmp_path)) == manifests.code_fingerprint()
    assert same == (edit is None)


def test_rule_code_keys_the_checkpoint(spark, tiny_paths, tmp_path, monkeypatch):
    """Unchanged rule sources, hashed afresh, resume every group; other rule
    code recomputes every group."""
    ck = str(tmp_path / "ck")
    manifests.run_checkpointed(spark, tiny_paths, ck, group_size=1)
    monkeypatch.setattr(
        manifests, "code_fingerprint", manifests.code_fingerprint.__wrapped__
    )
    r = manifests.run_checkpointed(spark, tiny_paths, ck, group_size=1)
    assert _events(r["runner"]) == {("triples", "resumed")}
    monkeypatch.setattr(manifests, "code_fingerprint", lambda: "other rules")
    r = manifests.run_checkpointed(spark, tiny_paths, ck, group_size=1)
    assert _events(r["runner"]) == {("triples", "computed")}
