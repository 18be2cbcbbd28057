"""Session defaults: the input-split floor, the driver heap, and the
Python worker daemon (``pydaemon``) with the worker path it needs."""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from relationextractionpipeline_spark import pydaemon, session
from relationextractionpipeline_spark.plans import manifests, pipeline
from tests.test_pipeline import TRIPLE_KEY, _triple_set

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def split_conf(spark, total_bytes):
    """The CLI's input-split conf for ``total_bytes`` of input, for the
    duration of the block (it fans a plain scan out to the cores)."""
    conf = session.input_split_conf(total_bytes, spark.sparkContext.defaultParallelism)
    before = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sized_keeps_spark_fan_out_above_the_floor(spark, tmp_path):
    """An input above ``cores × MIN_SPLIT_BYTES`` keeps the partition count
    of a plain scan (here fanned out by the CLI's split conf), so the floor
    never leaves cores idle — for a directory and for a file list."""
    cores = spark.sparkContext.defaultParallelism
    rng = np.random.RandomState(7)
    d = str(tmp_path / "big")
    os.makedirs(d)
    for i in range(4):
        pd.DataFrame({"text": [rng.bytes(1000).hex() for _ in range(200)]}).to_parquet(
            os.path.join(d, f"part-{i}.parquet"), index=False
        )
    total = session.dir_bytes(d)
    assert total > cores * session.MIN_SPLIT_BYTES
    files = sorted(os.path.join(d, f) for f in os.listdir(d))
    with split_conf(spark, total):
        plain = spark.read.parquet(d).rdd.getNumPartitions()
        assert plain >= cores
        for scan, paths in ((spark.read.parquet(d), d),
                            (spark.read.parquet(*files), files)):
            assert session.sized(scan, paths).rdd.getNumPartitions() == plain


def test_default_driver_memory_is_half_of_memtotal_capped():
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = int(session.default_driver_memory().rstrip("m"))
    assert 1024 <= mb <= 16 * 1024
    assert mb <= max(1024, kib // 2048)


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("rex_zip_probe.py", source)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ reads zip directories lazily"
)
def test_daemon_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    """Under ``pydaemon``'s ``invalidate_caches`` an unchanged archive's
    directory is not re-read; a rewritten one (same size, new mtime) is,
    and a module re-imported from it has the new content."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "rex_zip_probe", raising=False)
    assert importlib.import_module("rex_zip_probe").VALUE == 1

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) <= 1  # the first call stamps the importer
    before = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == before

    st = os.stat(archive)
    _write_zip(archive, "VALUE = 2\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    assert reads.count(archive) > reads[:before].count(archive)
    del sys.modules["rex_zip_probe"]
    assert importlib.import_module("rex_zip_probe").VALUE == 2


def test_spark_workers_run_the_daemon_patch(spark):
    """The session's Python workers are forked by ``pydaemon``: on CPython
    before 3.13 their zipimporters carry its ``invalidate_caches``."""

    def probe(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"name": [code.co_name],
                                "file": [os.path.basename(code.co_filename)]})

    got = spark.range(1).mapInPandas(probe, "name string, file string").collect()
    if sys.version_info < (3, 13):
        assert {(r["name"], r["file"]) for r in got} == {
            ("_invalidate_caches", "pydaemon.py")
        }
    else:
        assert {r["file"] for r in got} == {"zipimport.py"}


# a driver script outside the repo: the package comes from --py-files, or
# from the root given as the second argument (as tools/ scripts do)
_DRIVER = """
import json, sys
sys.path[1:1] = sys.argv[2:]
from relationextractionpipeline_spark.plans import manifests, pipeline
from relationextractionpipeline_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
transcripts, kb, figer = pipeline.load_inputs(spark, json.loads(sys.argv[1]))
triples = pipeline.run_fused(transcripts, *pipeline.build_broadcasts(spark, kb, figer))
print(json.dumps({"triples": list(map(list, triples.toPandas()[%r].itertuples(index=False))),
                  "code": manifests.code_fingerprint()}))
"""


@pytest.fixture(scope="module")
def shipped(tmp_path_factory):
    """The --py-files zip, built by tools/package_pyfiles.sh, and a working
    directory outside the repo holding the driver script."""
    root = tmp_path_factory.mktemp("ship")
    archive = str(root / "rex_spark.zip")
    subprocess.run(
        ["sh", os.path.join(REPO, "tools", "package_pyfiles.sh"), archive],
        check=True, capture_output=True,
    )
    cwd = root / "cwd"
    cwd.mkdir()
    (cwd / "driver.py").write_text(_DRIVER % (TRIPLE_KEY,))
    return archive, str(cwd)


def _drive(cmd, cwd):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd, cwd=cwd, env=dict(env, REX_SPARK_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("launch", ["spark-submit", "python"])
def test_package_runs_from_outside_the_repo(spark, tiny_paths, shipped, launch):
    """The ship path: ``spark-submit --py-files`` of the packaged zip, and a
    plain ``python`` driver that puts the repo on its own ``sys.path``, both
    from a working directory outside the repo.  Their Python workers start
    from ``pydaemon`` and import the package, and the triples equal this
    session's; the zip's sources give the same checkpoint fingerprint."""
    archive, cwd = shipped
    driver = os.path.join(cwd, "driver.py")
    if launch == "spark-submit":
        cmd = ["spark-submit", "--master", "local[2]", "--driver-memory", "1g",
               "--py-files", archive, driver, json.dumps(tiny_paths)]
    else:
        cmd = [sys.executable, driver, json.dumps(tiny_paths), REPO]
    got = _drive(cmd, cwd)
    transcripts, kb, figer = pipeline.load_inputs(spark, tiny_paths)
    want = pipeline.run_fused(
        transcripts, *pipeline.build_broadcasts(spark, kb, figer)
    ).toPandas()
    assert {tuple(t) for t in got["triples"]} == _triple_set(want)
    assert len(got["triples"]) == len(want) > 0
    assert got["code"] == manifests.code_fingerprint()
