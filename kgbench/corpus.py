"""Seeded workload corpora and the cached reference triples.

Every corpus is a pure function of (workload, seed, ``testgen.GEN_VERSION``)
and is cached under that key in the benchmark's work directory (never under
``data/``).  Each corpus directory holds:

* ``transcripts/part-*.parquet`` — the sharded transcripts table;
* ``oracle.parquet`` — ``tests/oracle.run_oracle`` over the same rows,
  reduced to the triple key, computed once per key;
* ``meta.json`` — turn and oracle-triple counts.

The entity KB and FIGER map are the generator's fixed dimension tables,
written once per ``GEN_VERSION``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from typing import Dict

import pandas as pd

from relationextractionpipeline_spark.sources import testgen
from tests import oracle

# columns that identify a triple (the P/R key of tests/test_pipeline.py)
TRIPLE_KEY = [
    "conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj", "subj_type",
    "obj_type", "subj_kind", "obj_kind", "neg", "passive", "pred_tok", "rel",
]

# Per workload: timed-corpus turns and parquet shard count.  Turn counts are
# exact (the generator's power-law conversation lengths would otherwise make
# the corpus size, and so every timing, seed-dependent).  kgbench/README.md
# records why each size was chosen and what a pass over it costs.
SPECS = {
    "extract-mixed": {"turns": 40_000, "shards": 16},
    # >= 64 files so plan_groups (group_size 8) yields >= 8 resume groups
    "graph-resume": {"turns": 3_000, "shards": 64},
}
# Warm-up corpus (a different seed, same generator and shape): set-up runs
# full passes over it.  graph-resume warms with the cold partitioned run
# over its own corpus instead.
WARM = {"extract-mixed": SPECS["extract-mixed"]}
WARM_SEED_OFFSET = 1_000_003
ORACLE_PROCS = 4  # the oracle is per-turn, so it splits over processes
_MEAN_TURNS_PER_CONV = 14  # testgen._conv_len mean, for the first n guess


def transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    """Exactly ``n_turns`` rows of ``testgen.gen_transcripts(n, seed)``.

    The generator shuffles rows, so the first ``n_turns`` rows are a
    seeded sample of turns across conversations."""
    n_convs = max(1, n_turns // _MEAN_TURNS_PER_CONV)
    while True:
        df = testgen.gen_transcripts(n_convs, seed)
        if len(df) >= n_turns:
            break
        n_convs *= 2
    return df.iloc[:n_turns].reset_index(drop=True)


def _oracle_part(args) -> pd.DataFrame:
    df, kb, fg = args
    return oracle.run_oracle(df, kb, fg)[TRIPLE_KEY]


def reference_triples(df: pd.DataFrame, kb: pd.DataFrame, fg: pd.DataFrame) -> pd.DataFrame:
    """``tests/oracle.run_oracle`` over ``df``, reduced to the triple key and
    split by rows over ``ORACLE_PROCS`` forked processes."""
    n = ORACLE_PROCS
    pool = multiprocessing.get_context("fork").Pool(n)
    try:
        parts = pool.map(_oracle_part, [(df.iloc[i::n], kb, fg) for i in range(n)])
    finally:
        pool.close()
        pool.join()
    return pd.concat(parts, ignore_index=True)


def dims(work_dir: str) -> Dict[str, str]:
    """Entity KB and FIGER map parquet paths (written once per version)."""
    out = os.path.join(work_dir, f"dims-g{testgen.GEN_VERSION}")
    paths = {
        "entity_kb": os.path.join(out, "entity_kb.parquet"),
        "figer_map": os.path.join(out, "figer_map.parquet"),
    }
    if not all(os.path.exists(p) for p in paths.values()):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        testgen.gen_entity_kb().to_parquet(
            os.path.join(tmp, "entity_kb.parquet"), index=False
        )
        testgen.gen_figer_map().to_parquet(
            os.path.join(tmp, "figer_map.parquet"), index=False
        )
        _publish(tmp, out)
    return paths


def _publish(tmp: str, out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def materialize(
    work_dir: str, workload: str, seed: int, warm: bool = False
) -> Dict[str, object]:
    """Write (or reuse) one timed corpus, or with ``warm`` its warm-up
    corpus; returns its table paths and counts.

    Keys: ``transcripts``, ``entity_kb``, ``figer_map`` (the ``paths``
    dict the pipeline entry points take), ``oracle`` (None for a warm-up
    corpus, which needs no reference), ``turns``, ``oracle_triples``."""
    spec = (WARM if warm else SPECS)[workload]
    n_turns, shards = spec["turns"], spec["shards"]
    with_oracle = not warm
    d = dims(work_dir)
    key = f"{workload}-s{seed}-n{n_turns}x{shards}-g{testgen.GEN_VERSION}"
    out = os.path.join(work_dir, "corpora", key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path) or (
        with_oracle and not os.path.exists(os.path.join(out, "oracle.parquet"))
    ):
        df = transcripts(n_turns, seed)
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tdir = os.path.join(tmp, "transcripts")
        os.makedirs(tdir)
        for s in range(shards):
            df.iloc[s::shards].to_parquet(
                os.path.join(tdir, f"part-{s:05d}.parquet"), index=False
            )
        meta = {"turns": len(df), "oracle_triples": None}
        if with_oracle:
            ref = reference_triples(
                df, pd.read_parquet(d["entity_kb"]), pd.read_parquet(d["figer_map"])
            )
            ref.to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
            meta["oracle_triples"] = len(ref)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        _publish(tmp, out)
    with open(meta_path) as f:
        meta = json.load(f)
    oracle_path = os.path.join(out, "oracle.parquet")
    return {
        "transcripts": os.path.join(out, "transcripts"),
        "entity_kb": d["entity_kb"],
        "figer_map": d["figer_map"],
        "oracle": oracle_path if os.path.exists(oracle_path) else None,
        "turns": meta["turns"],
        "oracle_triples": meta["oracle_triples"],
    }


def warm_corpus(work_dir: str, workload: str, seed: int) -> Dict[str, object]:
    """The worker warm-up corpus: same generator, a different seed, so the
    warm-up pass never memoizes a timed corpus's text."""
    return materialize(work_dir, workload, seed + WARM_SEED_OFFSET, warm=True)
