"""The generator is deterministic per seed and keeps truth out of the input."""

import pandas as pd
import pytest

from perfbench import workloads

N_BASE = 60


@pytest.fixture(scope="module", params=workloads.WORKLOADS)
def name(request):
    return request.param


def test_same_seed_same_workload(tmp_path, name):
    a = workloads.load(name, 3, str(tmp_path / "a"), n_base=N_BASE)
    b = workloads.load(name, 3, str(tmp_path / "b"), n_base=N_BASE)
    pd.testing.assert_frame_equal(
        pd.read_parquet(a.files_path), pd.read_parquet(b.files_path)
    )
    pd.testing.assert_frame_equal(a.truth, b.truth)


def test_other_seed_other_workload(tmp_path, name):
    a = workloads.load(name, 3, str(tmp_path), n_base=N_BASE)
    b = workloads.load(name, 4, str(tmp_path), n_base=N_BASE)
    assert not pd.read_parquet(a.files_path).equals(pd.read_parquet(b.files_path))


def test_input_is_the_five_columns_only(tmp_path, name):
    wl = workloads.load(name, 3, str(tmp_path), n_base=N_BASE)
    files = pd.read_parquet(wl.files_path)
    assert list(files.columns) == workloads.INPUT_COLUMNS
    assert list(wl.truth.columns) == workloads.TRUTH_COLUMNS
    assert len(files) == wl.n_files


def test_truth_fids_match_the_input_rows(tmp_path, name):
    from libpostal_spark.corpus import fid_of

    wl = workloads.load(name, 3, str(tmp_path), n_base=N_BASE)
    files = pd.read_parquet(wl.files_path)
    fids = [fid_of(r, p, c) for r, p, c in
            zip(files["repo"], files["path"], files["commit"])]
    assert fids == list(wl.truth["fid"])
    assert wl.truth["fid"].is_unique


def test_cache_is_reused(tmp_path):
    a = workloads.load("near_dup", 3, str(tmp_path), n_base=N_BASE)
    mtime = (tmp_path / f"near_dup_b{N_BASE}_s3.files.parquet").stat().st_mtime_ns
    b = workloads.load("near_dup", 3, str(tmp_path), n_base=N_BASE)
    assert a.files_path == b.files_path
    assert (tmp_path / f"near_dup_b{N_BASE}_s3.files.parquet").stat().st_mtime_ns == mtime


def test_fork_heavy_copies_every_file_per_fork(tmp_path):
    wl = workloads.load("fork_heavy", 3, str(tmp_path), n_base=N_BASE)
    files = pd.read_parquet(wl.files_path)
    assert sorted(wl.truth["fork"].unique()) == list(range(workloads.FORKS))
    per_origin = wl.truth.groupby("origin")["fork"].nunique()
    assert (per_origin == workloads.FORKS).all()
    # a fork keeps path, commit and content and changes only the repo
    same_file = files.groupby(["path", "commit"])
    assert (same_file["content"].nunique() == 1).all()
    assert (same_file["repo"].nunique() == workloads.FORKS).all()


def test_unknown_workload(tmp_path):
    with pytest.raises(ValueError):
        workloads.load("query_suite", 1, str(tmp_path))
