"""The output check accepts the reference labelling and rejects a split or
merged one."""

import pytest

from libpostal_spark import eval as EV
from libpostal_spark.config import PipelineConfig
from perfbench import workloads
from perfbench.checks import Reference, label_digest

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def wl(tmp_path_factory):
    return workloads.load(
        "near_dup", 5, str(tmp_path_factory.mktemp("wl")), n_base=60
    )


@pytest.fixture(scope="module")
def ref(wl):
    return Reference(wl.truth, wl.contents, CFG)


@pytest.fixture(scope="module")
def good(wl):
    """The exhaustive reference labelling of the whole corpus."""
    pdf = wl.truth.assign(content=wl.contents.loc[wl.truth["fid"]].to_numpy())
    return EV.closure(EV.reference_pairs(pdf, CFG), sorted(pdf["fid"]))


def renamed(labels):
    """Name every component by its smallest fid, as ``clusters`` does."""
    members = {}
    for f, c in labels.items():
        members.setdefault(c, []).append(f)
    return {f: min(m) for m in members.values() for f in m}


def test_reference_labelling_passes(ref, good):
    v = ref.check(good)
    assert v.ok, v.problems
    assert v.recall == 1.0
    assert ref.true_pairs


def test_split_labelling_fails(ref, good, wl):
    # split the largest planted cluster: every file becomes a singleton
    biggest = wl.truth.groupby("cluster_id")["fid"].apply(list).map(len).idxmax()
    fids = set(wl.truth.loc[wl.truth.cluster_id == biggest, "fid"])
    v = ref.check(renamed({f: f if f in fids else c for f, c in good.items()}))
    assert not v.ok
    assert v.recall < 0.99


def test_merged_labelling_fails(ref, good, wl):
    # merge two planted negatives, which the reference rule keeps apart
    neg = list(wl.truth.loc[wl.truth.xform == "negative", "fid"][:2])
    joined = {good[n] for n in neg}
    v = ref.check(renamed({f: "" if c in joined else c for f, c in good.items()}))
    assert not v.ok
    assert v.recall == 1.0  # recall alone cannot see a merge
    assert any("merges" in p for p in v.problems)


def test_missing_file_and_bad_name_fail(ref, good):
    missing = dict(good)
    missing.pop(next(iter(missing)))
    assert not ref.check(missing).ok
    f = max(good)
    misnamed = dict(good)
    misnamed[f] = f + "x"
    assert any("min fid" in p for p in ref.check(misnamed).problems)


def test_digest_is_order_free(good):
    assert label_digest(good) == label_digest(dict(reversed(list(good.items()))))
    other = dict(good)
    f = next(iter(other))
    other[f] = f + "x"
    assert label_digest(other) != label_digest(good)
