"""Checkpoint manifests with lineage + counters, and resume.

The reference's resume story is coarse: re-run a whole *stage* over a
persisted batch-group manifest (``main.py:85-94``, ``helper_functions.py:
118-135``) — a failed batch restarts the stage for every batch in that
worker's group.  Here the unit of recovery is a GROUP of input files
(``PartitionedStageRunner``): each group's output is parquet plus a JSON
manifest carrying

* an **input fingerprint** (the group's files + sizes + mtimes, the
  dimension tables, the run's options, the stage-code version) so a
  resume never silently reuses stale output;
* **per-partition row counters** (lineage/observability: which partition
  produced how many rows), read from the parquet footers of the group's
  ``part-NNNNN`` files — no read-back scan, no count job;
* total rows and output path.

A manifest that is missing, unreadable (torn write) or names no
``_SUCCESS`` output marks its group as pending: it recomputes.

A valid manifest (fingerprint match + parquet ``_SUCCESS``) short-circuits
to a scan of the materialized output, so a killed run recomputes only the
groups that had not published (BASELINE.json north_rule "resumable from
checkpoint with per-partition lineage + metrics").  ``run_checkpointed`` is
the one checkpointed pipeline: per-group ``triples`` (and ``links``) from
the fused kernels, then the graph tail as whole-input stages under the
same manifest format.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import time
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

# bump to invalidate all checkpoints on rule or format changes ("2": group
# outputs no longer carry a _pid column)
STAGE_CODE_VERSION = "2"

# Spark's data-file name: part-<partition id>-<job uuid>[-c000].<codec>.parquet
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def input_fingerprint(paths: List[str], extra: str = "") -> str:
    """Fingerprint of input files (or directories of files): path + size +
    mtime per contained file, plus the stage-code version."""
    h = hashlib.sha256()
    h.update(STAGE_CODE_VERSION.encode())
    h.update(extra.encode())

    def add(p: str) -> None:
        st = os.stat(p)
        # nanosecond mtime: whole-second truncation left a window where a
        # same-size rewrite within one second was invisible to resume
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())

    for p in sorted(paths):
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for f in sorted(files):
                    add(os.path.join(root, f))
        else:
            add(p)
    return h.hexdigest()[:24]


class PartitionedStageRunner:
    """Partition-level (sub-stage) resume: the unit of recovery is a GROUP of
    input files, not a whole stage.

    ``stage()`` splits the stage's input files into deterministic groups,
    runs one Spark job per group, atomically publishes each group's parquet +
    manifest line, and on resume skips every group whose manifest matches the
    fingerprint — a run killed mid-stage recomputes only the group that was
    in flight.  This strictly dominates the reference's resume story, which
    restarts a whole *stage* for every batch in a worker's group
    (``main.py:85-94``).  Stages whose every row depends on
    the whole input (the graph tail) run as ONE group over all files
    (``whole``) — same manifest format, same write/publish path.

    Scale note: ``run_checkpointed`` sizes each group's scan to its bytes
    (``session.sized``): a group smaller than ``cores ×
    MIN_SPLIT_BYTES`` runs as few tasks (one, for a typical small group),
    and a larger one is a normal distributed job over its input splits, so
    executors stay busy within a group; ``group_size`` trades resume
    granularity against per-job overhead.  At 100 TB you'd size groups to a
    few minutes of work each.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.events: List[Dict] = []

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _group_manifest(self, name: str, gi: int) -> str:
        return os.path.join(self._stage_dir(name), f"g{gi:05d}._manifest.json")

    @staticmethod
    def plan_groups(input_files: List[str], group_size: int) -> List[List[str]]:
        """Hash-bucketed deterministic groups, STABLE UNDER FILE ADDITION.

        A file's group is md5(path) mod n_buckets, with n_buckets the
        smallest power of two ≥ files/group_size: appending files to the
        corpus leaves every existing file's bucket unchanged (until the
        bucket count next doubles — an amortized full refresh), so resume
        after an append recomputes only the buckets that actually gained
        files.  Positional chunking (the previous scheme) shifted every
        group's membership on any append, forcing a full re-extract of a
        10k-file corpus for one new file.  Buckets are Poisson-sized
        around ``group_size``; empty buckets keep their index (group ids
        stay stable) and are skipped at run time.
        """
        files = sorted(input_files)
        target = max(1, -(-len(files) // group_size))
        n_buckets = 1
        while n_buckets < target:
            n_buckets *= 2
        groups: List[List[str]] = [[] for _ in range(n_buckets)]
        for f in files:
            h = int(hashlib.md5(f.encode()).hexdigest()[:8], 16)
            groups[h % n_buckets].append(f)
        return groups

    def _manifest(self, name: str, gi: int) -> Optional[Dict]:
        """The group's manifest, or None when it is missing or unreadable
        (a torn write): either way the group recomputes."""
        try:
            with open(self._group_manifest(name, gi)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    @staticmethod
    def _partition_counts(gout: str) -> List[Dict]:
        """Rows per write partition, from the footers of the group's data
        files (the partition id is in each file's name).  Partitions that
        wrote no rows are left out."""
        counts: Dict[int, int] = {}
        for f in os.listdir(gout):
            m = _PART_FILE.match(f)
            if m:
                pid = int(m.group(1))
                rows = pq.read_metadata(os.path.join(gout, f)).num_rows
                counts[pid] = counts.get(pid, 0) + rows
        return [{"pid": p, "rows": r} for p, r in sorted(counts.items()) if r]

    def is_complete(
        self, name: str, gi: int, files: List[str], fingerprint: str
    ) -> bool:
        """Group ``gi`` of stage ``name`` has published output for exactly
        these files under this shared fingerprint."""
        m = self._manifest(name, gi)
        return (
            m is not None
            and m.get("fingerprint") == input_fingerprint(files, extra=fingerprint)
            and m.get("files") == files
            and os.path.exists(
                os.path.join(self._stage_dir(name), f"g{gi:05d}", "_SUCCESS")
            )
        )

    def _group(
        self,
        name: str,
        gi: int,
        files: List[str],
        fingerprint: str,
        build: Callable[[List[str]], DataFrame],
    ) -> str:
        """Materialize one group unless its checkpoint is valid; return the
        group's output directory."""
        gout = os.path.join(self._stage_dir(name), f"g{gi:05d}")
        if self.is_complete(name, gi, files, fingerprint):
            self.events.append({"stage": name, "group": gi, "action": "resumed"})
            return gout
        os.makedirs(self._stage_dir(name), exist_ok=True)
        t0 = time.time()
        build(files).write.mode("overwrite").parquet(gout)
        part_counts = self._partition_counts(gout)
        manifest = {
            "stage": name,
            "group": gi,
            "files": files,
            "fingerprint": input_fingerprint(files, extra=fingerprint),
            "output": gout,
            "rows": sum(p["rows"] for p in part_counts),
            "partitions": part_counts,
            "wall_sec": round(time.time() - t0, 3),
        }
        mpath = self._group_manifest(name, gi)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # atomic publish AFTER the data _SUCCESS
        self.events.append({"stage": name, "group": gi, "action": "computed"})
        return gout

    def stage(
        self,
        name: str,
        fingerprint: str,
        input_files: List[str],
        build: Callable[[List[str]], DataFrame],
        group_size: int = 8,
    ) -> DataFrame:
        """Run ``build(files)`` once per pending group; return the union scan
        of all group outputs.

        ``fingerprint`` is the SHARED fingerprint (dimension tables + code
        version) — each group combines it with a fingerprint of its OWN
        files, so a corpus append invalidates only the groups whose file
        list or file bytes actually changed, never the whole stage.  (A
        dimension-table change still invalidates everything — correct:
        every group's output depends on the dims.)"""
        groups = self.plan_groups(input_files, group_size)
        return self.spark.read.parquet(*(
            self._group(name, gi, files, fingerprint, build)
            for gi, files in enumerate(groups)
            if files  # empty hash bucket — stable index, nothing to run
        ))

    def whole(
        self,
        name: str,
        fingerprint: str,
        input_files: List[str],
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """A stage whose output depends on every input file: one group
        (index 0) over all of them (``input_files`` sorted, as
        ``list_parquet_files`` returns them), so touching any file
        recomputes it."""
        return self.spark.read.parquet(
            self._group(name, 0, input_files, fingerprint, lambda _fs: build())
        )


def list_parquet_files(path: str) -> List[str]:
    """Data files of a parquet file-or-directory (the stable partition units
    the partitioned runner groups)."""
    if os.path.isfile(path):
        return [path]
    out: List[str] = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


def run_checkpointed(
    spark: SparkSession,
    paths: Dict[str, str],
    checkpoint_dir: str,
    graph: bool = False,
    group_size: int = 8,
    nel_mode: str = "merged",
) -> Dict[str, DataFrame]:
    """The checkpointed pipeline: fused turns→triples with partition-level
    resume (input transcript files grouped; each group is one resumable
    unit), optionally + the graph tail.

    ``nel_mode`` ('merged' | 'ner_only') selects the mention detector of
    both kernels, as in ``run_pipeline``; it is part of the shared
    fingerprint, so a resume never reuses output made under the other mode.

    ``graph=True`` adds per-group ``links`` (the fused links kernel) and
    three whole-input stages: ``predicates``, ``entities``, ``edges`` — a
    kill in the graph tail never re-pays the extraction, and the
    predicates stage resumes independently.  Entities and edges are the two
    outputs of ONE eager ``canonicalize()`` call (the entity CC), so they
    form one recovery unit: a kill between the entities write and the
    edges write re-runs that clustering on restart (both stages' writes,
    not the upstream extraction).
    """
    from relationextractionpipeline_spark.operators import (
        canonicalize as canon_op,
        fused,
    )
    from relationextractionpipeline_spark.plans import pipeline as pl
    from relationextractionpipeline_spark.session import sized

    # dims-and-options shared fingerprint: the transcripts are
    # fingerprinted PER GROUP inside stage(), so appending corpus files
    # recomputes only the groups that gained files
    fp = input_fingerprint(
        [paths["entity_kb"], paths["figer_map"]], extra=f"nel_mode={nel_mode}"
    )
    runner = PartitionedStageRunner(spark, checkpoint_dir)
    files = list_parquet_files(paths["transcripts"])

    @functools.cache
    def broadcasts():
        # built on the first pending group: a full resume runs no job here
        return pl.build_broadcasts(
            spark,
            spark.read.parquet(paths["entity_kb"]),
            spark.read.parquet(paths["figer_map"]),
        )

    def per_group(name, kernel):
        # a group's scan is sized to its bytes: a ~26 KB group is one Python
        # task, not one per core (session.MIN_SPLIT_BYTES)
        return runner.stage(
            name,
            fp,
            files,
            lambda fs: kernel(
                sized(spark.read.parquet(*fs), fs), *broadcasts(),
                nel_mode=nel_mode,
            ),
            group_size=group_size,
        )

    triples = per_group("triples", pl.run_fused)
    out = {"triples": triples, "runner": runner}
    if not graph:
        return out
    links = per_group("links", fused.links_fused)
    # predicates first: the edges stage rewrites onto pred_canonical /
    # pred_id, so its build joins the materialized predicate map — the
    # checkpointed edges schema stays identical to materialize_graph's
    # (plans/pipeline.py), which every other mode produces
    pred_map = runner.whole(
        "predicates", fp, files, lambda: canon_op.canonicalize_predicates(triples)
    )
    # canonicalize() runs the iterative CC eagerly (Spark actions), so
    # only invoke it when at least one of its two outputs is missing —
    # a fully-resumed run must not pay the clustering again
    if all(
        runner.is_complete(s, 0, files, fp) for s in ("entities", "edges")
    ):
        ents_df = edges_df = None
    else:
        ents_df, edges_df = canon_op.canonicalize(triples, links)
    out.update(
        links=links,
        predicates=pred_map,
        entities=runner.whole("entities", fp, files, lambda: ents_df),
        edges=runner.whole(
            "edges",
            fp,
            files,
            lambda: edges_df.join(F.broadcast(pred_map), "pred", "left"),
        ),
    )
    return out


# older name of the same pipeline (kgbench/workloads.py calls it)
run_checkpointed_partitioned = run_checkpointed
