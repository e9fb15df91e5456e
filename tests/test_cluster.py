"""Connected-components convergence tests: chains, stars, cliques
(SURVEY.md §7.2 M3)."""

import pytest
from pyspark.sql import functions as F

from libpostal_spark.operators.cluster import (
    connected_components,
    connected_components_driver,
    label_universe,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["fid1", "fid2"])
    labels = connected_components(df)
    return {r["fid"]: r["component"] for r in labels.collect()}


def test_chain(spark):
    # pathological long chain (worst case for naive propagation)
    n = 40
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    lab = _cc(spark, edges)
    assert set(lab.values()) == {"n000"}
    assert len(lab) == n + 1

def test_star(spark):
    edges = [("center", f"leaf{i}") for i in range(20)]
    lab = _cc(spark, edges)
    assert set(lab.values()) == {"center"}


def test_two_cliques(spark):
    a = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    lab = _cc(spark, a + b)
    assert set(lab[f"a{i}"] for i in range(4)) == {"a0"}
    assert set(lab[f"b{i}"] for i in range(4)) == {"b0"}


def test_self_loops_and_duplicates_ignored(spark):
    edges = [("x", "x"), ("x", "y"), ("y", "x"), ("x", "y")]
    lab = _cc(spark, edges)
    assert lab == {"x": "x", "y": "x"}


def test_label_universe_singletons(spark):
    edges = spark.createDataFrame([("a", "b")], ["fid1", "fid2"])
    labels = connected_components(edges)
    universe = spark.createDataFrame([("a",), ("b",), ("solo",)], ["fid"])
    full = label_universe(labels, universe)
    got = {r["fid"]: r["component"] for r in full.collect()}
    assert got == {"a": "a", "b": "a", "solo": "solo"}


def test_bridge_merges(spark):
    edges = [("a1", "a2"), ("b1", "b2"), ("a2", "b1")]
    lab = _cc(spark, edges)
    assert len(set(lab.values())) == 1


def test_encoded_and_string_paths_agree(spark):
    """The distributed long-id loop (scale path) and driver union-find on
    the raw fid strings must produce identical labels — min-fid component
    contract included."""
    import random

    rng = random.Random(3)
    nodes = [f"fid{i:04d}" for i in range(120)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(90)]
    df = spark.createDataFrame(edges, ["fid1", "fid2"])
    enc = {r["fid"]: r["component"]
           for r in connected_components(df).collect()}
    raw = {r["fid"]: r["component"]
           for r in connected_components_driver(df).collect()}
    assert enc == raw
    # labels are real min-fids
    for f, c in enc.items():
        assert c <= f
