"""Resumability: kill-and-resume yields identical output (SURVEY.md §5 item 3)."""

import pandas as pd
import pytest

from libpostal_spark.config import PipelineConfig
from libpostal_spark.corpus import generate_corpus
from libpostal_spark.pipeline import DedupPipeline
from tests.helpers import corpus_to_spark


@pytest.fixture()
def small_pdf():
    return generate_corpus(n_base=40, n_boilerplate_copies=5, n_clone_embed=2, seed=42)


def test_config_hash_stability_and_sensitivity():
    a = PipelineConfig()
    b = PipelineConfig()
    assert a.config_hash == b.config_hash
    c = PipelineConfig(k_shingle=7)
    assert a.config_hash != c.config_hash
    # non-semantic knobs don't invalidate checkpoints
    d = PipelineConfig(checkpoint_dir="/elsewhere", shuffle_partitions=64)
    assert a.config_hash == d.config_hash


def test_resume_identical_output(spark, small_pdf, tmp_path):
    files = corpus_to_spark(spark, small_pdf, 4)
    cfg = PipelineConfig()
    root = str(tmp_path / "ckpt")

    res1 = DedupPipeline(spark, cfg, checkpoint_root=root).run(files)
    first = sorted(
        (r["fid"], r["component"]) for r in res1.clusters.collect()
    )
    assert all(not m["resumed"] for m in res1.metrics)

    # simulate restart: new pipeline, same store root — stages must resume
    res2 = DedupPipeline(spark, cfg, checkpoint_root=root).run(files)
    second = sorted((r["fid"], r["component"]) for r in res2.clusters.collect())
    assert first == second
    resumed = {m["stage"]: m["resumed"] for m in res2.metrics}
    assert resumed["signatures"] and resumed["confirmed_pairs"] and resumed["components"]


def test_partial_resume_after_kill(spark, small_pdf, tmp_path):
    """Kill after stage 1 (only signatures checkpointed) → rerun completes
    from the checkpoint and matches a fresh end-to-end run."""
    import shutil, os

    files = corpus_to_spark(spark, small_pdf, 4)
    cfg = PipelineConfig()
    root = str(tmp_path / "ckpt2")

    full = DedupPipeline(spark, cfg, checkpoint_root=root).run(files)
    want = sorted((r["fid"], r["component"]) for r in full.clusters.collect())

    # "kill" after signatures: drop all later checkpoints
    for stage in ["band_buckets", "confirmed_pairs", "components"]:
        shutil.rmtree(os.path.join(root, stage), ignore_errors=True)

    res = DedupPipeline(spark, cfg, checkpoint_root=root).run(files)
    got = sorted((r["fid"], r["component"]) for r in res.clusters.collect())
    assert got == want
    resumed = {m["stage"]: m["resumed"] for m in res.metrics}
    assert resumed["signatures"] is True
    assert resumed["components"] is False


def test_changed_config_does_not_reuse(spark, small_pdf, tmp_path):
    files = corpus_to_spark(spark, small_pdf, 4)
    root = str(tmp_path / "ckpt3")
    DedupPipeline(spark, PipelineConfig(), checkpoint_root=root).run(files)
    res = DedupPipeline(
        spark, PipelineConfig(k_shingle=7), checkpoint_root=root
    ).run(files)
    assert all(not m["resumed"] for m in res.metrics)


def test_changed_input_does_not_reuse(spark, small_pdf, tmp_path):
    """ADVICE r1 (medium): same checkpoint root + same config but a DIFFERENT
    input table must invalidate every cached stage — not silently emit the
    previous dataset's clusters."""
    from libpostal_spark.corpus import generate_corpus

    root = str(tmp_path / "ckpt4")
    files_a = corpus_to_spark(spark, small_pdf, 4)
    DedupPipeline(spark, PipelineConfig(), checkpoint_root=root).run(files_a)

    other = generate_corpus(n_base=30, n_boilerplate_copies=3, n_clone_embed=2, seed=99)
    files_b = corpus_to_spark(spark, other, 4)
    res_b = DedupPipeline(spark, PipelineConfig(), checkpoint_root=root).run(files_b)
    assert all(not m["resumed"] for m in res_b.metrics)
    # and the output really is B's universe, not A's
    fids_b = {r["fid"] for r in res_b.clusters.collect()}
    from libpostal_spark.operators import blocking

    want_b = {r["fid"] for r in blocking.with_ids(files_b).select("fid").collect()}
    assert fids_b == want_b


def test_partition_level_resume(spark, tmp_path):
    """Kill-mid-stage at PARTITION granularity: with some partitions' data +
    manifest rows already present, only the missing partitions recompute."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import CheckpointStore

    root = str(tmp_path / "pt_ckpt")
    n_pt = 8
    rows = [(f"fid{i:03d}", i) for i in range(200)]
    input_df = spark.createDataFrame(rows, "fid string, v long")

    seen: list[str] = []

    def fn(sub):
        seen.extend(r["fid"] for r in sub.select("fid").collect())
        return sub.withColumn("out", F.col("v") * 2)

    store1 = CheckpointStore(spark, root, "cfg1")
    full = store1.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=n_pt)
    assert full.count() == 200
    assert len(seen) == 200
    assert store1.metrics[-1]["computed_partitions"] == n_pt

    # simulate a mid-stage kill: drop data + manifest rows for half the pts
    import shutil

    keep_pts = set(range(0, n_pt, 2))
    for p in range(n_pt):
        if p not in keep_pts:
            shutil.rmtree(f"{root}/sigs/config=cfg1/data/pt={p}", ignore_errors=True)
    manifest = spark.read.json(f"{root}/sigs/config=cfg1/manifest")
    kept = manifest.filter(F.col("pt").isin(sorted(keep_pts))).collect()
    shutil.rmtree(f"{root}/sigs/config=cfg1/manifest")
    spark.createDataFrame(kept, manifest.schema).write.mode("overwrite").json(
        f"{root}/sigs/config=cfg1/manifest"
    )

    seen.clear()
    store2 = CheckpointStore(spark, root, "cfg1")
    resumed = store2.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=n_pt)
    got = {(r["fid"], r["out"]) for r in resumed.collect()}
    assert got == {(f"fid{i:03d}", 2 * i) for i in range(200)}
    # only rows of the missing partitions were recomputed
    expect_missing = {
        r["fid"]
        for r in input_df.withColumn(
            "pt", F.expr(f"pmod(xxhash64(fid), {n_pt})")
        ).filter(~F.col("pt").isin(sorted(keep_pts))).select("fid").collect()
    }
    assert set(seen) == expect_missing
    assert 0 < len(seen) < 200
    m = store2.metrics[-1]
    assert m["resumed_partitions"] == len(keep_pts)
    assert m["computed_partitions"] == n_pt - len(keep_pts)

    # third run: everything complete — nothing recomputes
    seen.clear()
    store3 = CheckpointStore(spark, root, "cfg1")
    store3.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=n_pt)
    assert seen == []
    assert store3.metrics[-1]["resumed"] is True


def test_mid_stage_kill_recovers_committed_groups(spark, tmp_path):
    """A REAL mid-stage failure (not hand-crafted state): the compute fn dies
    after the first partition group committed. The rerun must resume from the
    committed groups and recompute only the rest."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import CheckpointStore

    root = str(tmp_path / "kill_ckpt")
    n_pt = 8
    input_df = spark.createDataFrame(
        [(f"fid{i:03d}", i) for i in range(200)], "fid string, v long"
    )

    calls = {"n": 0}
    seen: list[str] = []

    def dying_fn(sub):
        calls["n"] += 1
        if calls["n"] == 2:                  # first group commits, then "kill"
            raise RuntimeError("simulated executor loss")
        return sub.withColumn("out", F.col("v") * 2)

    store1 = CheckpointStore(spark, root, "cfgK")
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        store1.partitioned_stage(
            "sigs", input_df, dying_fn, "fpK", n_pt=n_pt, pts_per_commit=4
        )
    committed = set(store1.completed("sigs", "fpK", n_pt=n_pt))
    assert len(committed) == 4               # exactly the first group

    def good_fn(sub):
        seen.extend(r["fid"] for r in sub.select("fid").collect())
        return sub.withColumn("out", F.col("v") * 2)

    store2 = CheckpointStore(spark, root, "cfgK")
    out = store2.partitioned_stage(
        "sigs", input_df, good_fn, "fpK", n_pt=n_pt, pts_per_commit=4
    )
    got = {(r["fid"], r["out"]) for r in out.collect()}
    assert got == {(f"fid{i:03d}", 2 * i) for i in range(200)}
    # only the uncommitted partitions' rows were recomputed
    uncommitted = {
        r["fid"]
        for r in input_df.withColumn("pt", F.expr(f"pmod(xxhash64(fid), {n_pt})"))
        .filter(~F.col("pt").isin(sorted(committed)))
        .select("fid")
        .collect()
    }
    assert set(seen) == uncommitted
    assert 0 < len(seen) < 200


def test_stage_crash_between_data_and_manifest_never_serves_stale(
    spark, small_pdf, tmp_path
):
    """stage() wipes the manifest BEFORE overwriting data, so a kill between
    the two leaves data-without-manifest (recomputed next run) — never the
    old input's manifest paired with new data (served stale)."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import CheckpointStore

    root = str(tmp_path / "order_ckpt")
    df_a = spark.createDataFrame([(i, "A") for i in range(10)], "k long, tag string")
    df_b = spark.createDataFrame([(i, "B") for i in range(10)], "k long, tag string")

    store = CheckpointStore(spark, root, "cfgO")
    store.stage("s", lambda: df_a, input_fingerprint="fpA")

    # replay the FIXED crash window of a run with input B: manifest wiped,
    # B's data written, killed before B's manifest lands
    store._wipe_manifest("s")
    df_b.write.mode("overwrite").parquet(store._data_dir("s"))

    calls = []

    def fn():
        calls.append(1)
        return df_a

    out = CheckpointStore(spark, root, "cfgO").stage(
        "s", fn, input_fingerprint="fpA"
    )
    assert calls, "must recompute — no manifest row may survive the crash window"
    assert {r["tag"] for r in out.collect()} == {"A"}


def test_partitioned_stage_n_pt_change_recomputes(spark, tmp_path):
    """Changing checkpoint_partitions between runs changes the pmod domain;
    committed partitions from the old domain must not mix with the new one
    (ADVICE r2): a mismatch reads as nothing-completed and recomputes."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import CheckpointStore

    root = str(tmp_path / "npt_ckpt")
    input_df = spark.createDataFrame(
        [(f"fid{i:03d}", i) for i in range(100)], "fid string, v long"
    )

    def fn(sub):
        return sub.withColumn("out", F.col("v") * 2)

    store1 = CheckpointStore(spark, root, "cfgN")
    store1.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=4)
    assert store1.metrics[-1]["computed_partitions"] == 4

    store2 = CheckpointStore(spark, root, "cfgN")
    out = store2.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=8)
    assert store2.metrics[-1]["computed_partitions"] == 8  # full recompute
    got = sorted((r["fid"], r["out"]) for r in out.collect())
    assert len(got) == 100                                  # no dups, no drops
    assert got == sorted((f"fid{i:03d}", 2 * i) for i in range(100))

    # same n_pt again resumes cleanly
    store3 = CheckpointStore(spark, root, "cfgN")
    store3.partitioned_stage("sigs", input_df, fn, "fpA", n_pt=8)
    assert store3.metrics[-1]["resumed"] is True


def test_input_fingerprint_metadata_fast_path(spark, tmp_path):
    """File-backed frames fingerprint from the (path, size, mtime) listing —
    no content scan; stable across reloads, changed by a rewrite."""
    import time as _t

    from libpostal_spark.checkpoint import input_fingerprint

    p = str(tmp_path / "t.parquet")
    df = spark.createDataFrame([(i,) for i in range(50)], "v long")
    df.write.mode("overwrite").parquet(p)

    fp1 = input_fingerprint(spark.read.parquet(p))
    fp2 = input_fingerprint(spark.read.parquet(p))
    assert fp1 == fp2
    assert fp1.startswith("meta:")

    _t.sleep(1.1)  # mtime granularity
    df.write.mode("overwrite").parquet(p)
    fp3 = input_fingerprint(spark.read.parquet(p))
    assert fp3 != fp1

    # frames without file lineage fall back to the content scan
    mem = spark.createDataFrame([(1,)], "v long")
    assert not input_fingerprint(mem).startswith("meta:")


def test_input_fingerprint_distinguishes_plans_on_same_files(spark, tmp_path):
    """Code-review r3: two different frames over the SAME files (filtered
    vs full vs projected) must not share a metadata fingerprint — otherwise
    a filtered run's checkpoints would be served to the unfiltered run."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import input_fingerprint

    p = str(tmp_path / "pf.parquet")
    spark.createDataFrame(
        [(i, "py" if i % 2 else "js") for i in range(40)], "v long, lang string"
    ).write.parquet(p)

    full = input_fingerprint(spark.read.parquet(p))
    filtered = input_fingerprint(spark.read.parquet(p).filter(F.col("lang") == "py"))
    limited = input_fingerprint(spark.read.parquet(p).limit(3))
    projected = input_fingerprint(spark.read.parquet(p).select("v"))
    assert full.startswith("meta:")
    assert len({full, filtered, limited, projected}) == 4
    # and the same plan re-built from scratch still matches (resume works)
    assert filtered == input_fingerprint(
        spark.read.parquet(p).filter(F.col("lang") == "py")
    )


def test_partitioned_stage_zero_row_groups(spark, tmp_path):
    """A commit group (here: every group) that writes ZERO rows must read
    back as an empty frame, not die on parquet schema inference over a data
    dir with no part files."""
    from pyspark.sql import functions as F

    from libpostal_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "z_ckpt"), "cfgZ")
    empty = spark.createDataFrame([], "fid string, v long")
    out = store.partitioned_stage(
        "sigs", empty, lambda sub: sub.withColumn("out", F.col("v") * 2),
        "fpZ", n_pt=8, pts_per_commit=4,
    )
    assert out.count() == 0
    assert set(out.columns) == {"fid", "v", "out"}
    # and the resumed read of the same empty stage works too
    store2 = CheckpointStore(spark, str(tmp_path / "z_ckpt"), "cfgZ")
    out2 = store2.partitioned_stage(
        "sigs", empty, lambda sub: sub.withColumn("out", F.col("v") * 2),
        "fpZ", n_pt=8, pts_per_commit=4,
    )
    assert out2.count() == 0


def test_metrics_ledger_not_duplicated_on_reuse(spark, small_pdf, tmp_path):
    """Reusing one store across runs appends only the NEW rows to the
    metrics ledger, and each PipelineResult carries only its own run."""
    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.pipeline import DedupPipeline

    files = spark.createDataFrame(small_pdf)
    pipe = DedupPipeline(
        spark, PipelineConfig(), checkpoint_root=str(tmp_path / "m_ckpt")
    )
    r1 = pipe.run(files)
    r1.clusters.count()
    n1 = len(r1.metrics)
    r2 = pipe.run(files)
    r2.clusters.count()
    assert len(r2.metrics) == len(pipe.store.metrics) - n1
    assert r1.metrics[0] not in r2.metrics or n1 == 0
    ledger = spark.read.json(
        f"{tmp_path}/m_ckpt/metrics/config={pipe.cfg.config_hash}"
    )
    assert ledger.count() == len(pipe.store.metrics)
