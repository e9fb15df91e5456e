"""Connected-components convergence tests: chains, stars, cliques
(SURVEY.md §7.2 M3)."""

import pytest
from pyspark.sql import functions as F

from libpostal_spark.operators.cluster import (
    components,
    connected_components,
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
    """The router's two routes — the distributed long-id loop (scale path,
    forced with a zero driver budget) and driver union-find — produce
    identical labels on string ids AND on long ids, min-id component
    contract included (numeric min for long ids: 9 < 10 < 100)."""
    import random

    rng = random.Random(3)
    for nodes in ([f"fid{i:04d}" for i in range(120)], list(range(5, 125))):
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(90)]
        df = spark.createDataFrame(edges, ["fid1", "fid2"])
        dist = {r["fid"]: r["component"]
                for r in components(df, 0).collect()}
        driver = {r["fid"]: r["component"]
                  for r in components(df).collect()}
        assert dist == driver
        # labels are real min-ids
        for f, c in dist.items():
            assert c <= f


def test_components_empty_long_ids_keep_bigint(spark):
    """A zero-edge long-id frame takes the driver route; its labels keep a
    bigint fid (the edge schema's type), so they still join a bigint
    universe."""
    edges = spark.createDataFrame([], "fid1 bigint, fid2 bigint")
    labels = components(edges)
    assert labels.schema["fid"].dataType.simpleString() == "bigint"
    assert labels.schema["component"].dataType.simpleString() == "bigint"
    universe = spark.createDataFrame([(7,), (3,)], "fid bigint")
    got = {r["fid"]: r["component"]
           for r in label_universe(labels, universe).collect()}
    assert got == {7: 7, 3: 3}


def test_embedding_clusters_numeric_min_label(spark):
    """vec_ids 9, 10 and 100 in one component are labeled 9, the numeric
    min (string order would pick "10"); an unrelated vector stays a
    singleton."""
    from libpostal_spark.operators import similarity

    df = spark.createDataFrame(
        [(100, [1.0, 0.0]), (10, [1.0, 0.01]), (9, [1.0, 0.02]),
         (50, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = similarity.cosine_pairs(df, 0.99)
    got = {r["vec_id"]: (r["component"], r["is_canonical"])
           for r in similarity.embedding_clusters(df, pairs).collect()}
    assert got == {9: (9, True), 10: (9, False), 100: (9, False),
                   50: (50, True)}
