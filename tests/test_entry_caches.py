"""Entry-point session memo (_memo): per-name LRU bound, dead-session
sweep, hits never rebuild, and the session-end release — including the
pipeline-result entry, whose cached frames are released on eviction."""

from types import SimpleNamespace


class _FakeDF:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def _spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _entry():
    import __spark_entry__ as E

    E._MEMO.clear()
    E._ivf_centroids.cache_clear()
    return E


def test_lru_eviction_unpersists_oldest():
    E = _entry()
    dfs = [_FakeDF() for _ in range(3)]
    for i, df in enumerate(dfs):
        E._memo(_spark("app1"), f"sf{i}", "sigs", lambda df=df: df)
    assert len(E._MEMO) == E._CACHE_LIMIT
    assert dfs[0].unpersisted and not dfs[2].unpersisted
    assert ("app1", "sf0", "sigs") not in E._MEMO


def test_dead_session_entries_dropped_without_unpersist():
    E = _entry()
    old = _FakeDF()
    E._memo(_spark("app1"), "sfA", "sigs", lambda: old)
    E._memo(_spark("app2"), "sfA", "sigs", _FakeDF)
    # the dead session's frame is dropped, not unpersisted (its JVM is gone)
    assert ("app1", "sfA", "sigs") not in E._MEMO and not old.unpersisted


def test_sibling_cache_eviction_keeps_sig_gate():
    E = _entry()
    sigs = _FakeDF()
    E._memo(_spark("app1"), "sfB", "sigs", lambda: (sigs, 7))
    # another name churns through other sf dirs and evicts its OWN sfB
    for sf in ("sfB", "sfC", "sfD"):
        E._memo(_spark("app1"), sf, "ann_sigs", _FakeDF)
    assert ("app1", "sfB", "ann_sigs") not in E._MEMO
    # the signatures entry, gate included, is untouched
    assert E._memo(_spark("app1"), "sfB", "sigs", None) == (sigs, 7)
    assert not sigs.unpersisted


def test_memo_hit_does_not_rebuild():
    E = _entry()
    calls = []

    def build():
        calls.append(1)
        return _FakeDF()

    first = E._memo(_spark("app1"), "sfA", "sigs", build)
    assert E._memo(_spark("app1"), "sfA", "sigs", build) is first
    assert calls == [1]


def test_release_callback_used():
    E = _entry()
    released = []
    for i in range(3):
        E._memo(
            _spark("app1"), f"sf{i}", "qvec", lambda i=i: i,
            release=released.append,
        )
    assert released == [0]


def _write_docs(root, n_dirs: int) -> list[str]:
    import pandas as pd

    dirs = []
    for i in range(n_dirs):
        d = root / f"sf{i}"
        d.mkdir()
        text = [f"alpha beta gamma delta {i}"] * 3 + ["epsilon zeta eta"]
        pd.DataFrame({
            "doc_id": list(range(len(text))),
            "text": text,
            "lang": "en",
            "source": "s",
        }).to_parquet(d / "documents.parquet")
        dirs.append(str(d))
    return dirs


def test_pipe_res_eviction_unpersists_its_frames(spark, tmp_path):
    """The production _pipe_res entry holds a PipelineResult: the per-name
    bound that evicts an sf dir's result unpersists every frame it cached."""
    E = _entry()
    dirs = _write_docs(tmp_path, 3)
    first = E._pipe_res(spark, dirs[0])
    frames = list(first.persisted)
    assert frames and all(df.storageLevel.useMemory for df in frames)
    assert first.signatures.storageLevel.useMemory
    for d in dirs[1:]:
        E._pipe_res(spark, d)
    app = spark.sparkContext.applicationId
    assert (app, dirs[0], "pipe_res") not in E._MEMO
    assert not any(df.storageLevel.useMemory for df in frames)
    assert [k[1] for k in E._MEMO] == dirs[1:]
    E.release_caches()


def test_release_caches_sweeps_everything(tmp_path):
    """The session-end hook (atexit-registered) must release every memoized
    build under every name and clear the IVF centroid lru_cache."""
    import numpy as np
    import pandas as pd

    E = _entry()
    dfs = [_FakeDF() for _ in range(3)]
    E._memo(_spark("app1"), "sfA", "sigs", lambda: (dfs[0], 7),
            release=lambda v: v[0].unpersist())
    E._memo(_spark("app1"), "sfA", "sigs_sha", lambda: dfs[1])
    E._memo(_spark("app1"), "sfA", "ann_sigs", lambda: dfs[2])
    pairs_cached = _FakeDF()
    E._memo(_spark("app1"), "sfA", "pairs", lambda: (None, pairs_cached),
            release=lambda v: v[1].unpersist())
    rng = np.random.default_rng(0)
    pd.DataFrame({
        "vec_id": range(16),
        "embedding": [rng.normal(size=4).tolist() for _ in range(16)],
    }).to_parquet(tmp_path / "embeddings.parquet")
    E._ivf_centroids(str(tmp_path))
    assert E._ivf_centroids.cache_info().currsize == 1

    E.release_caches()
    assert all(df.unpersisted for df in dfs)
    assert pairs_cached.unpersisted
    assert not E._MEMO
    assert E._ivf_centroids.cache_info().currsize == 0


def test_release_caches_runs_at_interpreter_exit():
    """The REAL atexit property, observed end-to-end: a fresh interpreter
    that imports the entry module and memoizes a fake frame must unpersist
    it during interpreter shutdown (this build's atexit._ncallbacks does not
    decrement on unregister, so handler bookkeeping cannot be asserted
    directly)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from types import SimpleNamespace as NS\n"
        "import __spark_entry__ as E\n"
        "class F:\n"
        "    def unpersist(self):\n"
        "        print('SWEPT-AT-EXIT')\n"
        "E._memo(NS(sparkContext=NS(applicationId='app')), 'sf', 'sigs', F)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert "SWEPT-AT-EXIT" in out.stdout
