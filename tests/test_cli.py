"""The command-line job (``python -m relationextractionpipeline_spark``):
a checkpointed graph run, then a rerun that resumes from the manifests."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(tiny_paths, out, ck):
    cmd = [
        sys.executable, "-m", "relationextractionpipeline_spark",
        "--transcripts", tiny_paths["transcripts"],
        "--entity-kb", tiny_paths["entity_kb"],
        "--figer-map", tiny_paths["figer_map"],
        "--out", out, "--mode", "checkpointed", "--graph",
        "--checkpoint-dir", ck, "--group-size", "2", "--cpus", "2",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, REX_SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _manifest_mtimes(ck):
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(ck, "*", "*._manifest.json"))
    }


def test_cli_checkpointed_graph_run_resumes(tiny_paths, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    first = _run_cli(tiny_paths, out, ck)
    mtimes = _manifest_mtimes(ck)
    stages = {os.path.basename(os.path.dirname(p)) for p in mtimes}
    assert stages == {"triples", "links", "predicates", "entities", "edges"}

    second = _run_cli(tiny_paths, out, ck)
    assert first["triples"] == second["triples"] > 0
    assert _manifest_mtimes(ck) == mtimes  # the rerun rewrote no manifest

    assert "_pid" not in pq.read_schema(
        glob.glob(os.path.join(out, "triples", "*.parquet"))[0]
    ).names
    for table in ("entities", "edges", "predicates"):
        assert os.path.isdir(os.path.join(out, table)), table
