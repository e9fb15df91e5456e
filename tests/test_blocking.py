"""Blocking-stage tests: exact grouping, key families, bucket discipline."""

import pandas as pd
from pyspark.sql import functions as F

from libpostal_spark.config import SIMHASH_TABLES, PipelineConfig
from libpostal_spark.operators import blocking


def _files(spark, rows):
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return spark.createDataFrame(pdf)


def test_with_ids_sha_invariant(spark):
    files = _files(spark, [("r", "p", "c", "python", "hello world")])
    row = blocking.with_ids(files).collect()[0]
    import hashlib

    assert row["sha256"] == hashlib.sha256(b"hello world").hexdigest()
    assert row["fid"] == hashlib.sha256(b"r\x00p\x00c").hexdigest()


def test_exact_groups_star(spark, cfg):
    rows = [(f"r{i}", "p", "c", "python", "same content here") for i in range(5)]
    rows.append(("rx", "p", "c", "python", "different content"))
    sigs = blocking.signatures(_files(spark, rows), cfg)
    rep_sigs, exact_edges = blocking.exact_groups(blocking.exact_rep_frame(sigs, sigs))
    assert rep_sigs.count() == 2          # two distinct contents
    edges = exact_edges.collect()
    assert len(edges) == 4                # 5 copies → 4 star edges
    assert len({e["fid1"] for e in edges}) == 1  # all point at one rep


def test_key_family_counts(spark, cfg):
    long_text = " ".join(f"tok{i}" for i in range(300))
    sigs = blocking.signatures(_files(spark, [("r", "p", "c", "python", long_text)]), cfg)
    keys = blocking.blocking_keys(sigs, cfg)
    by_kind = {r["kind"]: r["cnt"] for r in keys.groupBy("kind").agg(F.count("*").alias("cnt")).collect()}
    assert by_kind[blocking.KIND_BAND] == cfg.bands
    assert by_kind[blocking.KIND_SIMHASH] == SIMHASH_TABLES
    assert by_kind.get(blocking.KIND_WINNOW, 0) >= 1  # 300 tokens > window


def test_key_stream_equals_family_listing(spark, cfg):
    """blocking_keys emits exactly the keys listed from the signature
    arrays; a null or empty family drops only its own keys."""
    rows = [
        ("a", [1, 2], [3], [4, 5]),
        ("b", None, [7, 8], []),
        ("c", [], None, [9]),
        ("d", [10], [11], None),
    ]
    rep = spark.createDataFrame(
        rows,
        "fid string, bands array<bigint>, simhash_keys array<bigint>, "
        "winnow array<bigint>",
    )
    keys = blocking.blocking_keys(rep, cfg)
    assert keys.dtypes == [
        ("fid", "string"), ("kid", "int"), ("khash", "bigint"), ("kind", "int")
    ]
    want = []
    for fid, bands, sim, win in rows:
        want += [(fid, blocking.KIND_BAND, i, h) for i, h in enumerate(bands or [])]
        want += [(fid, blocking.KIND_SIMHASH, i, h) for i, h in enumerate(sim or [])]
        want += [(fid, blocking.KIND_WINNOW, 0, h) for h in win or []]
    got = [
        (r["fid"], r["kind"], r["kid"], r["khash"]) for r in keys.collect()
    ]
    assert sorted(got) == sorted(want)


def _components(edges, nodes):
    """Driver-side union-find over (fid1, fid2) tuples, for assertions."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_oversized_bucket_salted_pairing(spark):
    """Buckets above max_bucket_size pair via √n salting: O(n^1.5) pairs (not
    O(n²), not O(n) star-only), every member in at least one within-group
    clique, star edges to the global min retained."""
    cfg = PipelineConfig(max_bucket_size=4)
    n = 100
    keys = spark.createDataFrame(
        [(f"f{i:03d}", 0, 0, 12345) for i in range(n)], ["fid", "kind", "kid", "khash"]
    )
    pairs, stats, _ = blocking.candidate_pairs(keys, cfg)
    got = [(r["fid1"], r["fid2"]) for r in pairs.collect()]
    # volume contract: well above star's n-1, well below all-pairs n(n-1)/2
    assert n - 1 < len(got) < 0.5 * n * (n - 1) / 2
    assert len(got) <= 4 * n ** 1.5
    # star edges to the global min survive
    assert sum(1 for a, _ in got if a == "f000") >= n - 1
    s = {r["kind"]: r for r in stats.collect()}
    assert s[0]["n_oversized"] == 1


def test_oversized_bucket_adversarial_min_fid_rep(spark):
    """The verdict's adversarial fixture: one hot key whose min-fid member is
    DISSIMILAR to everyone else (star-only pairing would lose the whole
    cluster because no member verifies against that rep). With salting, the
    pair graph minus every outlier edge must still connect all similar
    members into one component."""
    cfg = PipelineConfig(max_bucket_size=8)
    outlier = "a000"                      # min fid → becomes the star rep
    members = [f"b{i:03d}" for i in range(1, 150)]
    keys = spark.createDataFrame(
        [(f, 0, 0, 777) for f in [outlier] + members], ["fid", "kind", "kid", "khash"]
    )
    pairs, _, _ = blocking.candidate_pairs(keys, cfg)
    got = [(r["fid1"], r["fid2"]) for r in pairs.collect()]
    surviving = [(a, b) for a, b in got if outlier not in (a, b)]
    comp = _components(surviving, members)
    assert len(set(comp.values())) == 1   # all similar members connected
    # and the pair volume stays O(n^1.5)
    n = len(members) + 1
    assert len(got) <= 4 * n ** 1.5


def test_small_bucket_all_pairs(spark, cfg):
    keys = spark.createDataFrame(
        [(f"f{i}", 0, 0, 7) for i in range(4)], ["fid", "kind", "kid", "khash"]
    )
    pairs, _, _ = blocking.candidate_pairs(keys, cfg)
    assert pairs.count() == 6             # C(4,2)


def test_pairs_deduped_across_families(spark, cfg):
    keys = spark.createDataFrame(
        [("a", 0, 0, 7), ("b", 0, 0, 7), ("a", 1, 0, 9), ("b", 1, 0, 9)],
        ["fid", "kind", "kid", "khash"],
    )
    pairs, _, _ = blocking.candidate_pairs(keys, cfg)
    rows = pairs.collect()
    assert len(rows) == 1
    assert sorted(rows[0]["sources"]) == [0, 1]
