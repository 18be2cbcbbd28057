"""Shared fixtures: one local SparkSession, deterministic tiny/small corpora."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from relationextractionpipeline_spark.session import get_spark  # noqa: E402
from relationextractionpipeline_spark.sources import testgen  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master=os.environ.get("REX_TEST_MASTER", "local[4]"),
                  app_name="rex-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


class _BuiltQueries(dict):
    """Driver-contract query DataFrames at sf0.001 by name, each built on
    first use."""

    def __init__(self, spark):
        import __spark_entry__ as entrymod

        super().__init__()
        self._spark = spark
        self._queries = entrymod.queries()

    def __missing__(self, name):
        df = self[name] = self._queries[name](self._spark, "/root/testdata/sf0.001")
        return df


@pytest.fixture(scope="session")
def sf0001_queries(spark):
    """Every driver-contract query built once at sf0.001: the sweep that
    runs each (test_entry) and the one that audits each plan (test_plans)
    share the build, whose eager parts (canonical graph, iterative graph
    algorithms, model training) are most of either sweep's cost."""
    return _BuiltQueries(spark)


@pytest.fixture(scope="session")
def tiny_paths(tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("rexdata"))
    return testgen.materialize("tiny", data_dir)


@pytest.fixture(scope="session")
def tiny_pandas():
    return {
        "transcripts": testgen.gen_transcripts(testgen.SCALES["tiny"]),
        "entity_kb": testgen.gen_entity_kb(),
        "figer_map": testgen.gen_figer_map(),
    }
