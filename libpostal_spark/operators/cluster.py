"""Distributed connected components: large-star / small-star.

The reference's C library stops at pairwise verdicts and leaves transitive
closure to the surrounding MapReduce system (/root/reference/README.md:603-625).
This module is that missing system, as the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): O(log n) rounds of pure DataFrame groupBy/join, each round followed
by ``localCheckpoint`` to cut lineage (an unbounded iterative plan otherwise
blows up the optimizer and re-executes the whole chain on failure).

The iterative loop runs over DICTIONARY-ENCODED long node ids: the
64-char fid strings would otherwise be shuffled every round — at 10^12
nodes that is ~8× the bytes of an 8-byte id. Encoding is one distinct +
monotonically_increasing_id pass (pinned with an eager localCheckpoint so
the non-deterministic ids are assigned exactly once), decoding is one join;
the component label is then re-derived as the lexicographic MIN FID within
each component, so the labels equal driver union-find's
(``connected_components_driver``; cross-checked in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (hi, lo) with hi > lo, distinct, no self-loops."""
    return (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to min(Γ(u) ∪ {u})."""
    nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "u")).select("u", "m")
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u: connect u and all its smaller neighbors to their min."""
    oriented = edges  # already (hi=a, lo=b): every neighbor v=b of u=a is smaller
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    emit_children = oriented.join(mins, "a").select(
        F.col("b").alias("a"), F.col("m").alias("b")
    )
    emit_center = mins.select(F.col("a"), F.col("m").alias("b"))
    return emit_children.unionAll(emit_center)


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("c"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def connected_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """(fid1, fid2) confirmed pairs → (fid, component) labels.

    component = lexicographic min fid of the component. Only nodes appearing
    in at least one pair are labeled; callers union in singletons (see
    ``label_universe``).

    Each round is lazily localCheckpoint'ed — the fingerprint action
    materializes it (one job per round) and cuts lineage so the iterative
    plan never grows. Edge partitioning is re-derived from the live edge
    count so late rounds (few edges) don't pay early-round task overhead.
    The loop shuffles 8-byte longs, not fid strings (see module docstring).
    """
    str_edges = _normalize(
        pairs.select(F.col("fid1").alias("a"), F.col("fid2").alias("b"))
    )
    nodes = (
        str_edges.select(F.col("a").alias("fid"))
        .unionAll(str_edges.select(F.col("b").alias("fid")))
        .distinct()
    )
    # monotonically_increasing_id is assignment-nondeterministic: pin it
    # ONCE with an eager localCheckpoint before anything consumes it
    mapping = nodes.withColumn(
        "nid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    ma = mapping.select(F.col("fid").alias("a"), F.col("nid").alias("na"))
    mb = mapping.select(F.col("fid").alias("b"), F.col("nid").alias("nb"))
    edges = (
        str_edges.join(ma, "a")
        .join(mb, "b")
        .select(
            F.greatest("na", "nb").alias("a"), F.least("na", "nb").alias("b")
        )
    )

    def _materialize(df: DataFrame, n_edges: int | None) -> DataFrame:
        if n_edges is not None:
            # ~500k edges per partition keeps tasks coarse; floor of 2
            p = max(2, min(df.sparkSession.sparkContext.defaultParallelism,
                           n_edges // 500_000 + 1))
            df = df.repartition(p)
        return df.localCheckpoint(eager=False)

    edges = _materialize(edges, None)
    prev = _fingerprint(edges)
    for _ in range(max_iter):
        edges = _materialize(_normalize(_small_star(_large_star(edges))), prev[0])
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    children = edges.select(F.col("a").alias("fid"), F.col("b").alias("component"))
    roots = edges.select(F.col("b").alias("fid")).distinct().withColumn(
        "component", F.col("fid")
    )
    labels = children.unionByName(roots).distinct()
    # decode: nid -> fid, then re-derive the component label as the MIN FID
    # of each long-component (nid order is arbitrary, fid order is the
    # contract)
    dec = mapping.select(F.col("nid").alias("fid"), F.col("fid").alias("f"))
    decoded = (
        labels.join(dec, "fid")
        .select(F.col("f").alias("fid"), F.col("component").alias("cnid"))
    )
    comp_min = decoded.groupBy("cnid").agg(F.min("fid").alias("component"))
    return decoded.join(comp_min, "cnid").select("fid", "component")


def connected_components_driver(pairs: DataFrame) -> DataFrame:
    """Union-find on the driver for SMALL confirmed-pair sets.

    The confirmed-pair graph after the exact-dedup contraction is orders of
    magnitude smaller than the input (only near-dup representative links);
    below ``PipelineConfig.cc_driver_max_edges`` it fits trivially on the
    driver and a single collect + union-find beats ~10 distributed rounds of
    shuffle jobs. Same output contract as ``connected_components``.
    """
    id_type = pairs.schema["fid1"].dataType.simpleString()
    return union_find_rows(
        pairs.select("fid1", "fid2").collect(), pairs.sparkSession,
        id_type=id_type if id_type in ("string", "long", "bigint") else None,
    )


def union_find_rows(rows, spark, id_type: str | None = None) -> DataFrame:
    """Driver union-find over already-collected (fid1, fid2) rows — the
    core of ``connected_components_driver``, split out so callers that
    already hold the edge rows (the pipeline's merged materialize+collect
    action) skip the second collect job.

    ``id_type`` fixes the output schema explicitly ("string"/"long");
    without it the type is inferred from the first node, which on an EMPTY
    edge list can only guess string — long-id callers (place dedupe) pass
    it so the zero-edge frame still joins against a bigint universe."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = find(r["fid1"]), find(r["fid2"])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = set()
    for r in rows:
        nodes.add(r["fid1"])
        nodes.add(r["fid2"])
    import pandas as pd

    out = pd.DataFrame(
        {"fid": list(nodes), "component": [find(n) for n in nodes]}
    )
    # Arrow-path createDataFrame (pandas input): one zero-copy batch instead
    # of the row-reflection local-relation path — measurably cheaper driver
    # time on every pipeline run that routes CC to the driver. The id type
    # follows the caller's rows (string fids from the pipeline, long ids
    # from the geo/place callers) — a hardcoded string schema would throw
    # the Arrow path back to row reflection for integer ids.
    idt = id_type or (
        "string" if (not nodes or isinstance(next(iter(nodes)), str)) else "long"
    )
    return spark.createDataFrame(out, schema=f"fid {idt}, component {idt}")


def connected_components_auto(
    pairs: DataFrame, n_edges: int | None, driver_max_edges: int
) -> DataFrame:
    """Route to driver union-find or distributed large/small-star by size."""
    if n_edges is None:
        n_edges = pairs.count()
    if n_edges <= driver_max_edges:
        return connected_components_driver(pairs)
    return connected_components(pairs)


def label_universe(labels: DataFrame, universe: DataFrame) -> DataFrame:
    """Left-join labels onto the full fid universe; unlabeled rows become
    singleton components (component = own fid)."""
    return (
        universe.select("fid")
        .join(labels, "fid", "left")
        .withColumn("component", F.coalesce("component", "fid"))
    )
