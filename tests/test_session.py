"""Session defaults: the input-split floor and the driver heap."""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pandas as pd

from relationextractionpipeline_spark import session


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
