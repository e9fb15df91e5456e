"""Physical-plan quality checks — the .explain discipline as tests.

Pins the properties that matter at 100 TB: column pruning + filter pushdown
reach the parquet scan, the blocking window reuses the explicit repartition
(no second exchange), and whole-stage codegen covers the JVM-side verify
expressions.
"""

import re

import pytest
from pyspark.sql import functions as F

from libpostal_spark.functions import textstats as TS
from libpostal_spark.operators import blocking


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_column_pruning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", TS.token_count(F.col("text")).alias("n"))
    plan = _plan(q)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan
    # only the two referenced columns are read, not lang/source/n_chars
    assert "doc_id" in m.group(1) and "text" in m.group(1)
    assert "n_chars" not in m.group(1) and "source" not in m.group(1)


def test_parquet_filter_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 10).select("doc_id")
    plan = _plan(q)
    # constraint propagation is disabled session-wide (driver-time cost, see
    # session.py), so the inferred IsNotNull no longer appears — the filter
    # the user wrote must still reach the scan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id,10\)", plan), plan


def test_blocking_small_only_plan_pruned(spark, cfg):
    """With no oversized bucket (known from the materializing agg), the
    salt/star/rep-clique branches must be PRUNED from the plan: one cached
    self-join, no extra branches to plan or execute."""
    keys = spark.createDataFrame(
        [(f"f{i}", 0, 0, i % 7) for i in range(100)],
        ["fid", "kind", "kid", "khash"],
    )
    pairs, _, cached = blocking.candidate_pairs(keys, cfg)
    try:
        plan = _plan(pairs)
        n_scans = plan.count("InMemoryTableScan")
        assert 2 <= n_scans <= 4, plan     # small l/r (tree + detail listing)
        assert "Union" not in plan, plan   # no salt/star/rep branches planned
        key_exchanges = {
            m.group(1)
            for m in re.finditer(
                r"hashpartitioning\(kind[^\n]*khash[^\n]*plan_id=(\d+)", plan
            )
        }
        assert len(key_exchanges) <= 2, plan
        n_windows = len(re.findall(r"\n\(\d+\) Window", plan))
        assert n_windows <= 2, plan
    finally:
        if cached is not None:
            cached.unpersist()


def test_blocking_keyed_computed_once(spark, cfg):
    """candidate_pairs fans `keyed` out to 5+ branches (small l/r, star,
    salt l/r, reps) when oversized buckets EXIST; every branch must read
    the materialized cache — ONE full-stream shuffle + window total, not
    one replay per branch (the pre-cache plan had 7 identical exchanges)."""
    rows = [(f"f{i}", 0, 0, i % 7) for i in range(100)]
    rows += [(f"g{i}", 1, 0, 999) for i in range(cfg.max_bucket_size + 5)]
    keys = spark.createDataFrame(rows, ["fid", "kind", "kid", "khash"])
    pairs, _, cached = blocking.candidate_pairs(keys, cfg)
    try:
        plan = _plan(pairs)
        assert plan.count("InMemoryTableScan") >= 5, plan
        # the bucket-key repartition lives only inside the cached relation:
        # at most 2 textual occurrences (initial + AQE-final description of
        # the SAME cached plan), executed once
        key_exchanges = {
            m.group(1)
            for m in re.finditer(
                r"hashpartitioning\(kind[^\n]*khash[^\n]*plan_id=(\d+)", plan
            )
        }
        assert len(key_exchanges) <= 2, plan
        # windows: the cached relation's own cnt window (initial + AQE-final
        # description of the SAME cached plan) plus ONE rep window in the
        # star branch — the bucket-min string aggregate is deferred to
        # big-bucket rows only (r8), riding the cache's partitioning with
        # no exchange of its own (pinned by the exchange count above)
        n_windows = len(re.findall(r"\n\(\d+\) Window", plan))
        assert n_windows <= 3, plan
    finally:
        if cached is not None:
            cached.unpersist()


def test_verify_winnow_check_is_jvm_side(spark, cfg):
    """arrays_overlap runs inside the JVM plan (no extra Python stage)."""
    from libpostal_spark.operators import dedup, verify

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    sigs = blocking.signatures(dedup.docs_as_files(docs), cfg)
    rep, _ = blocking.exact_groups(blocking.exact_rep_frame(sigs, sigs))
    keys = blocking.blocking_keys(rep, cfg)
    pairs, _, _ = blocking.candidate_pairs(keys, cfg)
    out = verify.verified_pairs(pairs, rep, cfg)
    plan = _plan(out)
    assert "arrays_overlap" in plan          # JVM-side, no Python round-trip
    # ONE fused Arrow pair UDF, no second chained Python pass
    assert "pair_confirm_udf" in plan


def test_verify_confirm_udf_evaluated_once(spark, cfg):
    """The confirm filter reads the UDF's output struct: Catalyst must not
    copy pair_confirm_udf into the pushed-down filter, which would evaluate
    it (and ship both canons to Python) twice per candidate pair."""
    from libpostal_spark.operators import verify

    rep = spark.createDataFrame(
        [("a", "x y z", [1, 2]), ("b", "x y w", [2, 3]), ("c", "q", [9])],
        "fid string, canon string, winnow array<bigint>",
    )
    pairs = spark.createDataFrame(
        [("a", "b", 0, [0]), ("a", "c", 1, [1])],
        "fid1 string, fid2 string, source int, sources array<int>",
    )
    plan = _plan(verify.verified_pairs(pairs, rep, cfg))
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1, plan


def test_blocking_keys_one_generate(spark, cfg):
    """All three key families come from ONE scan + Generate (no Union)."""
    rep = spark.createDataFrame(
        [("a", [1, 2], [3], [4, 5])],
        "fid string, bands array<bigint>, simhash_keys array<bigint>, "
        "winnow array<bigint>",
    )
    plan = _plan(blocking.blocking_keys(rep, cfg))
    assert len(set(re.findall(r"Generate \((\d+)\)", plan))) == 1, plan
    assert "Union" not in plan, plan


def test_cosine_pairs_scale_route_plan(spark, monkeypatch):
    """Above MAX_EXACT_ROWS the route must produce the DISTRIBUTED
    LSH-bucketed plan: a key self-join with no driver-collected relation
    (the exact path's broadcast matrix + MapInPandas must be absent), at
    most one logical LSH-key exchange pair, and the Arrow pair-cosine
    re-rank present. The switch to the approximate path warns."""
    import warnings

    import numpy as np

    from libpostal_spark.operators import similarity

    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)
    ]
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # within the caps: the exact path, the reference for the recall check
    exact = similarity.cosine_pairs(embs, 0.9)

    monkeypatch.setattr(similarity, "MAX_EXACT_ROWS", 10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pairs = similarity.cosine_pairs(embs, 0.9)
        assert any("APPROXIMATE" in str(x.message) for x in w)

    plan = _plan(pairs)
    assert "MapInPandas" not in plan, plan       # exact path's kernel absent
    assert "ArrowEvalPython" in plan, plan       # pair re-rank is Arrow UDF
    assert re.search(r"Join|ShuffledHashJoin|SortMergeJoin", plan), plan
    key_exchanges = {
        m.group(1)
        for m in re.finditer(r"hashpartitioning\(key[^\n]*plan_id=(\d+)", plan)
    }
    assert len(key_exchanges) <= 2, plan

    # the clusters route over those pairs keeps the bucketed pair plan
    labels = similarity.embedding_clusters(embs, pairs)
    cplan = _plan(labels)
    assert "MapInPandas" not in cplan, cplan

    # both routes agree on the actual pairs at this scale (recall here is
    # exact because 8-dim vectors repeat across the LSH tables)
    got = {(r[0], r[1]) for r in pairs.collect()}
    want = {(r[0], r[1]) for r in exact.collect()}
    assert want, "fixture must produce at least one qualifying pair"
    assert got == want or np.mean([p in got for p in want]) >= 0.9


def test_cosine_pairs_byte_gate_routes_high_dim(spark, monkeypatch):
    """The exact path's cost is rows × dim × 8 broadcast bytes, not rows:
    a HIGH-DIM corpus under the row cap must still route to the LSH path
    when the byte estimate exceeds MAX_EXACT_BYTES, and the warning names
    the byte reason."""
    import warnings

    from libpostal_spark.operators import similarity

    dim = 64
    rows = [
        (i, [float((i * 3 + j) % 7 - 3) for j in range(dim)])
        for i in range(40)
    ]
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # 40 rows × 64 dim × 8 B = 20480 B > 10000 B cap; row cap NOT exceeded
    monkeypatch.setattr(similarity, "MAX_EXACT_BYTES", 10_000)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pairs = similarity.cosine_pairs(embs, 0.9)
        assert any("rows×dim×8" in str(x.message) for x in w)
    plan = _plan(pairs)
    assert "MapInPandas" not in plan, plan       # broadcast-matrix kernel absent
    assert "ArrowEvalPython" in plan, plan       # LSH path's pair re-rank


def test_ann_bruteforce_single_stage(spark):
    """cosine top-k is a pure column expression + TakeOrderedAndProject —
    no Python, no join, one scan."""
    from libpostal_spark.operators import similarity

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [0.1] * 64
    top = similarity.brute_force_topk(embs, q, k=5)
    plan = _plan(top)
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_gazetteer_matches_narrow_plan(spark):
    """phrase_class_matches must stay a narrow map: ONE Arrow UDF pass, the
    explode and (class, pattern) lookup JVM-side, and NO exchange — at 100 TB
    the operator costs exactly one scan, zero shuffles."""
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.operators.gazetteer import phrase_class_matches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = phrase_class_matches(docs, components=ALL_COMPONENTS)
    plan = _plan(q)
    assert "Exchange" not in plan, plan
    # one UDF NODE (formatted plans repeat each node in tree + details)
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1, plan
    assert "Generate" in plan, plan          # posexplode is JVM-side
    # only the two referenced columns are read
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "n_chars" not in m.group(1) and "source" not in m.group(1)


def test_canonicalize_by_language_narrow_plan(spark):
    from libpostal_spark.dictionaries import ALL_COMPONENTS
    from libpostal_spark.operators.gazetteer import canonicalize_by_language

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = canonicalize_by_language(docs, components=ALL_COMPONENTS)
    plan = _plan(q)
    assert "Exchange" not in plan, plan
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1, plan


def test_underlimit_take_fully_materializes_persist(spark):
    """pipeline.py merged limit(max+1).collect() invariant: when the take
    exhausts every partition (edge count <= budget), the persisted frame is
    FULLY cached — no partition is left to recompute in the later
    label-join stage. This is the load-bearing property that let the
    count() action be merged away (ADVICE r6)."""
    df = spark.range(0, 1000, 1, 8).withColumn(
        "payload", F.sha2(F.col("id").cast("string").cast("binary"), 256)
    ).persist()
    try:
        rows = df.limit(2000).collect()       # limit > total rows
        assert len(rows) == 1000
        infos = {
            i.id(): i
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        }
        cached = [
            (i.numCachedPartitions(), i.numPartitions())
            for i in infos.values()
        ]
        # the persisted RDD (InMemoryRelation materialization) is complete
        assert any(c == p and p >= 8 for c, p in cached), cached
    finally:
        df.unpersist()



def _nodes(plan, cached=()):
    """(simpleString, cached relations above) for every node of a JVM
    physical plan, walking into AQE stages and cached relations."""
    yield plan.simpleString(10_000), cached
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "ReusedExchangeExec":
        kids = [plan.child()]
    elif cls == "InMemoryTableScanExec":
        rel = plan.relation()
        kids, cached = [rel.cacheBuilder().cachedPlan()], cached + (rel,)
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from _nodes(k, cached)


def test_pipeline_run_plan_reads_one_cached_with_rep(spark, cfg):
    """The in-memory ``DedupPipeline.run(files)`` plan on a corpus with
    exact copies: ONE featurize UDF whose input is the rep-gated content,
    ONE confirm UDF, S3 (pairs), S5 (confirmed) and S7 (clusters) all read
    the single persisted ``with_rep`` frame (the result's ``signatures``),
    and no stage after S2 exchanges on sha256."""
    from libpostal_spark.corpus import generate_corpus
    from libpostal_spark.pipeline import DedupPipeline

    pdf = generate_corpus(
        n_base=20, dup_fraction=0.6, n_boilerplate_copies=5,
        n_clone_embed=2, seed=7,
    )
    assert pdf.content.duplicated().any()
    files = spark.createDataFrame(
        pdf[["repo", "path", "commit", "lang", "content"]]
    ).repartition(4)
    res = DedupPipeline(spark, cfg).run(files)

    def with_rep(rel) -> bool:
        out = rel.output().toString()
        return all(c in out for c in ("rep_fid#", "canon#", "winnow#"))

    try:
        nodes = {
            name: list(_nodes(
                getattr(res, name)._jdf.queryExecution().executedPlan()
            ))
            for name in ("signatures", "pairs", "confirmed", "clusters")
        }
        feat = re.compile(r"featurize_udf\((.*?)\)#(\d+)\]")
        calls = {
            m for ns in nodes.values() for s, _ in ns for m in feat.findall(s)
            if s.startswith("ArrowEvalPython")
        }
        assert len(calls) == 1, calls                 # one featurize UDF
        (arg, _), = calls
        assert re.fullmatch(
            r"CASE WHEN \(fid#\d+ = rep_fid#\d+\) THEN content#\d+ END", arg
        ), arg
        confirm = {
            s for s, _ in nodes["confirmed"]
            if s.startswith("ArrowEvalPython") and "pair_confirm_udf" in s
        }
        assert len(confirm) == 1, confirm             # one confirm UDF

        builders = set()
        for name in ("pairs", "confirmed", "clusters"):
            reads = False
            for s, cached in nodes[name]:
                reps = [r for r in cached if with_rep(r)]
                reads = reads or bool(reps)
                builders |= {
                    spark._jvm.System.identityHashCode(r.cacheBuilder())
                    for r in reps
                }
                if s.startswith("ArrowEvalPython") and "featurize_udf" in s:
                    assert reps, (name, s)            # never re-featurized
                if s.startswith("Exchange") and not reps:
                    assert "sha" not in s, (name, s)  # no sha256 shuffle
            assert reads, name                        # reads the cache
        assert len(builders) == 1, builders           # ONE with_rep cache
    finally:
        res.release()


def test_pipeline_run_job_count(spark, cfg):
    """One warm in-memory ``DedupPipeline.run(files)`` plus its labels on
    the driver runs a pinned number of Spark jobs. Every job is a fixed
    cost of a run (scheduling, planning, a round trip to the Python
    workers), so a new action must show up here and be argued for in
    review; lower the pin when an action goes."""
    from libpostal_spark.corpus import generate_corpus
    from libpostal_spark.pipeline import DedupPipeline

    pdf = generate_corpus(
        n_base=20, dup_fraction=0.6, n_boilerplate_copies=5,
        n_clone_embed=2, seed=7,
    )
    files = spark.createDataFrame(
        pdf[["repo", "path", "commit", "lang", "content"]]
    ).repartition(4).persist()
    files.count()
    sc = spark.sparkContext

    def run_with_labels():
        res = DedupPipeline(spark, cfg).run(files)
        try:
            return res.clusters.select("fid", "component").toArrow().num_rows
        finally:
            res.release()

    try:
        want_rows = run_with_labels()                   # warm-up
        group = "test_pipeline_run_job_count"
        sc.setJobGroup(group, group)
        try:
            assert run_with_labels() == want_rows
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        files.unpersist()
    assert len(jobs) == 17, sorted(jobs)
