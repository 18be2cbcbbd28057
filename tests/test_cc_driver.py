"""The bounded driver-side union-find fast path of connected_components must
return exactly what the distributed star loop returns — same (node,
component) rows, component = min id in the component — on chains, stars,
singleton-free edge sets and random graphs; and it must refuse an edge
list whose two endpoint columns differ in type."""

import random

import pytest

from relationextractionpipeline_spark.operators import cache, canonicalize


def _rows(df):
    return sorted((r["node"], r["component"]) for r in df.collect())


def _both_paths(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = canonicalize.connected_components(df, "src", "dst")
    fast_rows = _rows(fast)
    old = canonicalize._CC_DRIVER_MAX_EDGES
    canonicalize._CC_DRIVER_MAX_EDGES = 0  # force the distributed loop
    try:
        slow_rows = _rows(canonicalize.connected_components(df, "src", "dst"))
    finally:
        canonicalize._CC_DRIVER_MAX_EDGES = old
        cache.release_all(checkpoints=True)
    return fast_rows, slow_rows


def test_chain_and_star(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)]
    fast, slow = _both_paths(spark, edges)
    assert fast == slow
    comp = dict(fast)
    assert comp[4] == 1 and comp[13] == 10 and comp[21] == 20


def test_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    fast, slow = _both_paths(spark, edges)
    assert fast == slow


def test_min_label_is_component_min(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    fast, _ = _both_paths(spark, edges)
    comps = {}
    for node, c in fast:
        comps.setdefault(c, []).append(node)
    for c, members in comps.items():
        assert c == min(members)


def test_string_nodes(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y")]
    fast, slow = _both_paths(spark, edges)
    assert fast == slow
    comp = dict(fast)
    assert comp["c"] == "a" and comp["y"] == "x"


def test_mixed_endpoint_types_are_rejected(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "src long, dst string")
    with pytest.raises(TypeError, match="src is bigint but dst is string"):
        canonicalize.connected_components(df, "src", "dst")
    cache.release_all(checkpoints=True)
