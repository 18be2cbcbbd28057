"""SparkSession factory with the engine's scale-oriented defaults.

Replaces the reference's hand-rolled parallelism (``multiprocessing.Pool`` +
round-robin batch files, ``main.py:51-61,144-151``; ``helper_functions.py:94-107``)
with Spark's scheduler: AQE on (runtime re-planning + skew-join splitting),
Arrow on (all Python stages are vectorized pandas UDFs), UTC session time.

Locally this runs ``local[N]`` (single JVM); on a real cluster the same
session conf ships via ``spark-submit --py-files``.  Two defaults apply to
``local*`` masters only, where every path the driver sees is the workers'
too: the driver-memory default, and Python workers forked by ``pydaemon``
(no per-task zip re-read) with this package's root on their path.
``extra_conf`` overrides either; a worker ``PYTHONPATH`` it passes is kept,
after the package root.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from relationextractionpipeline_spark import pydaemon

# the directory (or --py-files zip) that holds this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """Driver heap for a local session: half of ``MemTotal``, at most 16g.

    In local mode the driver JVM hosts every task, and one Python worker
    per core lives beside it; a 16g heap on a 15 GiB machine let the JVM
    grow until the kernel killed it.  The other half is left to the Python
    workers, the JVM's off-heap memory and the page cache.  Without
    ``/proc/meminfo`` (not Linux) it is 16g.
    """
    try:
        with open("/proc/meminfo") as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return "16g"
    return f"{max(1024, min(16 * 1024, kib // 2048))}m"


def get_spark(
    master: Optional[str] = None,
    app_name: str = "rex-spark",
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Dict[str, str]] = None,
) -> SparkSession:
    master = master or os.environ.get("REX_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        # local[N] → match cores; cluster → leave Spark/AQE defaults alone
        if master.startswith("local["):
            n = master[len("local["):-1]
            shuffle_partitions = os.cpu_count() if n == "*" else max(int(n), 1)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing, measured on the extract path (round 2, with
        # input splits sized by input_split_conf): 20k-row batches beat 10k
        # at every parallelism level (4c: ~par, 16c: +11%, 32c: +17%) and
        # hold 4→16-core scaling efficiency at 0.90 (10k drops to 0.73 —
        # too many tiny Arrow flushes per task; 50k loses wave balance).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("REX_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        # workers start from pydaemon, which must import before any
        # --py-files reach them: put this package's root (a directory, or
        # the shipped zip) ahead of the caller's worker path
        b = b.config("spark.python.daemon.module", pydaemon.__name__)
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_ROOT, extra_conf.get("spark.executorEnv.PYTHONPATH"))
            if p
        )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def dir_bytes(path: str) -> int:
    """Total bytes of a file or directory tree (input-size probe)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# Input-split floor for a Python crossing: no task of a per-row Python stage
# reads less than this many input bytes unless the whole input is smaller.
# Every Python task pays a fixed cost however few rows it has.  Trivial
# mapInPandas tasks on warm workers (local[4], 4-core VM, CPython 3.11.7),
# 64 tasks: with pyspark's own daemon 20.5-21.5 CPU-s, 17.5 of it in Python
# workers, nearly all the per-task re-read of pyspark.zip that pydaemon
# skips; with pydaemon 5.8-7.6 CPU-s, 3.1-3.2 in Python.  What is left is
# ~0.05 Python and ~0.05 JVM CPU-s per task (task set-up, the Arrow stream,
# scheduling): a 26 KB checkpoint group scanned as 4-7 tasks would still
# pay it 4-7 times, for no parallel gain on a fraction of a second of work,
# so sized() and this floor stay.
MIN_SPLIT_BYTES = 256 * 1024


def sized(df: DataFrame, paths: Union[str, List[str]]) -> DataFrame:
    """``df``, a scan of the parquet ``paths``, fanned out to the cores but
    never into tasks below ``MIN_SPLIT_BYTES``.

    Spark sizes a split as ``min(maxPartitionBytes, max(openCostInBytes,
    bytes / cores))``.  Below ``cores × MIN_SPLIT_BYTES`` the ``bytes /
    cores`` term undercuts the floor (a 26 KB checkpoint group scanned as
    5-7 tasks), so there a narrow ``coalesce`` caps the scan at
    ``ceil(bytes / MIN_SPLIT_BYTES)`` partitions.  It only ever removes
    tasks and adds no exchange; a larger input keeps Spark's fan-out.
    """
    paths = [paths] if isinstance(paths, str) else paths
    total = sum(dir_bytes(p) for p in paths)
    if total >= df.sparkSession.sparkContext.defaultParallelism * MIN_SPLIT_BYTES:
        return df
    return df.coalesce(max(1, -(-total // MIN_SPLIT_BYTES)))


def input_split_conf(
    total_bytes: int,
    cores: int,
    waves: int = 3,
    lo: int = MIN_SPLIT_BYTES,
    hi: int = 128 * 1024 * 1024,
) -> Dict[str, str]:
    """Split-size conf for a CPU-bound per-row stage: bytes are a bad proxy
    for cost, so size splits from the *actual input* such that every core
    gets ≥ ``waves`` task waves (smooths stragglers, hides Python-worker
    spin-up), clamped to [``MIN_SPLIT_BYTES``, 128MB].  The floor only
    holds for inputs above ``cores × MIN_SPLIT_BYTES``; ``sized``
    enforces it below that.

    This replaces a fixed maxPartitionBytes: a fixed 2MB was measured to
    leave local[16] at ~1 wave on the 22MB bench corpus (4→16 scaling
    efficiency 0.44); the same rule at 100 TB yields ~128MB splits — the
    right answer at both ends.  ``openCostInBytes=0`` because file-open cost
    is irrelevant next to the Python stage cost.
    """
    per = max(lo, min(hi, total_bytes // max(1, cores * waves)))
    return {
        "spark.sql.files.maxPartitionBytes": str(per),
        "spark.sql.files.openCostInBytes": "0",
    }
