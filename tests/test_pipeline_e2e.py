"""End-to-end correctness harness (SURVEY.md §5):

1. dup-pair recall >= 0.99 and precision >= 0.995 vs the exhaustive
   reference-rule clusters at the same shingle/signature config
2. partition-count invariance (cluster assignments identical at 2 vs 16
   input partitions — the sandbox proxy for multi-executor determinism)
3. per-row sha256(content) invariant preserved through all stages
4. planted transformation classes fold as designed
"""

import hashlib
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from libpostal_spark import eval as EV
from libpostal_spark.pipeline import DedupPipeline
from tests.helpers import corpus_to_spark


def pair_metrics(
    predicted: set[tuple[str, str]], truth: set[tuple[str, str]]
) -> dict[str, float]:
    tp = len(predicted & truth)
    recall = tp / len(truth) if truth else 1.0
    precision = tp / len(predicted) if predicted else 1.0
    return dict(
        recall=recall, precision=precision,
        tp=tp, truth=len(truth), predicted=len(predicted),
    )


def predicted_dup_pairs(result):
    """All (fid1 < fid2) pairs sharing a component of a pipeline result."""
    a = result.clusters.select(F.col("fid").alias("fid1"), "component")
    b = result.clusters.select(F.col("fid").alias("fid2"), "component")
    return a.join(b, "component").filter(F.col("fid1") < F.col("fid2")).select(
        "fid1", "fid2"
    )


def component_pairs(labels: dict[str, str]) -> set[tuple[str, str]]:
    """All intra-component (lo, hi) pairs from a fid→component mapping."""
    groups = defaultdict(list)
    for f, c in labels.items():
        groups[c].append(f)
    out: set[tuple[str, str]] = set()
    for members in groups.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                out.add((members[i], members[j]))
    return out


@pytest.fixture(scope="module")
def result(spark, cfg, corpus_pdf):
    files = corpus_to_spark(spark, corpus_pdf, 8)
    return DedupPipeline(spark, cfg).run(files)


@pytest.fixture(scope="module")
def truth(cfg, corpus_pdf):
    pairs = EV.reference_pairs(corpus_pdf, cfg)
    labels = EV.closure(pairs, sorted(corpus_pdf.fid))
    return pairs, component_pairs(labels)


def test_recall_precision(result, truth):
    _, truth_pairs = truth
    predicted = {
        (r["fid1"], r["fid2"]) for r in predicted_dup_pairs(result).collect()
    }
    m = pair_metrics(predicted, truth_pairs)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.995, m


def test_cluster_assignments_match_reference(result, truth, corpus_pdf):
    truth_pairs, _ = truth
    ref_labels = EV.closure(truth_pairs, sorted(corpus_pdf.fid))
    got = {r["fid"]: r["component"] for r in result.clusters.collect()}
    # same partition into clusters (component names are both min-fid, so
    # exact equality is required, not just same partition shape)
    assert got == ref_labels


def test_planted_equivalences_fold(result, corpus_pdf):
    """exact/ws/comment/case/unicode variants must share their base's
    component (they canonicalize to identical token streams)."""
    comp = {r["fid"]: r["component"] for r in result.clusters.collect()}
    merged = corpus_pdf[["fid", "cluster_id", "xform"]]
    for cid, grp in merged.groupby("cluster_id"):
        base = grp[grp.xform == "base"]
        if base.empty:
            continue
        base_comp = comp[base.fid.iloc[0]]
        for _, r in grp.iterrows():
            if r.xform in ("exact", "ws", "comment", "case", "unicode"):
                assert comp[r.fid] == base_comp, (r.xform, cid)


def test_clone_embed_clustered(result, corpus_pdf):
    comp = {r["fid"]: r["component"] for r in result.clusters.collect()}
    ce = corpus_pdf[corpus_pdf.xform == "clone_embed"]
    for cid, grp in ce.groupby("cluster_id"):
        comps = {comp[f] for f in grp.fid}
        assert len(comps) == 1, f"clone_embed cluster {cid} split"


def test_negatives_not_merged(result, corpus_pdf):
    comp = {r["fid"]: r["component"] for r in result.clusters.collect()}
    neg = corpus_pdf[corpus_pdf.xform == "negative"]
    neg_comps = [comp[f] for f in neg.fid]
    # each negative is its own planted cluster; none may share a component
    assert len(set(neg_comps)) == len(neg_comps)


def test_sha256_invariant(result, corpus_pdf):
    sig_rows = result.signatures.select("fid", "sha256").collect()
    want = {
        r.fid: hashlib.sha256(r.content.encode()).hexdigest()
        for r in corpus_pdf.itertuples()
    }
    assert len(sig_rows) == len(want)
    for r in sig_rows:
        assert r["sha256"] == want[r["fid"]]


def test_partition_count_invariance(spark, cfg, corpus_pdf, result):
    files2 = corpus_to_spark(spark, corpus_pdf, 2)
    res2 = DedupPipeline(spark, cfg).run(files2)
    a = {r["fid"]: r["component"] for r in result.clusters.collect()}
    b = {r["fid"]: r["component"] for r in res2.clusters.collect()}
    assert a == b


def test_no_oversized_allpairs_blowup(result):
    """Boilerplate adversary: identical tiny files never create pair blowup —
    the exact pass collapses them, so candidate pairs stay near-linear."""
    n_pairs = result.pairs.count()
    n_files = result.signatures.count()
    assert n_pairs < n_files * 10


@pytest.fixture(scope="module")
def fork_files(spark, corpus_pdf):
    """Exact copies: 40 distinct files, each copied into 3 repos."""
    base = corpus_pdf.drop_duplicates("content").head(40)
    forks = []
    for k in range(3):
        f = base[["repo", "path", "commit", "lang", "content"]].copy()
        f["repo"] = f["repo"] + f"_fork{k}"
        forks.append(f)
    import pandas as pd

    return spark.createDataFrame(pd.concat(forks, ignore_index=True))


_FEATURES = ["canon", "n_tokens", "n_shingles", "simhash", "bands",
             "simhash_keys", "winnow"]


def _check_rep_gate(res, full, fork_files):
    """Members' features are null; representatives' features equal the
    ungated signatures of the same rows."""
    sigs = {r["fid"]: r for r in res.signatures.collect()}
    assert len(sigs) == fork_files.count()
    reps = {}
    for r in sigs.values():
        reps[r["sha256"]] = min(reps.get(r["sha256"], r["fid"]), r["fid"])
    want = {r["fid"]: r for r in full.collect()}
    n_members = 0
    for fid, r in sigs.items():
        if fid == reps[r["sha256"]]:
            assert [r[c] for c in _FEATURES] == [want[fid][c] for c in _FEATURES]
        else:
            n_members += 1
            assert all(r[c] is None for c in _FEATURES), fid
    assert n_members == 2 * len(reps)


def test_exact_copies_featurized_once(spark, cfg, fork_files, tmp_path):
    """Only one representative per distinct content is featurized, on the
    in-memory and the checkpointed path, and the labels equal the ungated
    layer composition the benchmark traces."""
    import contextlib
    import types

    from libpostal_spark.operators import blocking
    from perfbench.layers import traced_layers

    full = blocking.signatures(fork_files, cfg)
    tracer = types.SimpleNamespace(span=lambda name: contextlib.nullcontext())
    want, _, cached = traced_layers(spark, fork_files, cfg, tracer)
    try:
        for root in (None, str(tmp_path / "ckpt")):
            res = DedupPipeline(spark, cfg, checkpoint_root=root).run(fork_files)
            try:
                _check_rep_gate(res, full, fork_files)
                got = {r["fid"]: r["component"] for r in res.clusters.collect()}
                assert got == want
            finally:
                res.release()
    finally:
        for df in cached:
            df.unpersist()


def test_reference_rule_canonicalizes_like_the_pipeline(spark):
    """The reference rule's shingles come from the canon the featurize UDF
    emits, also for a config that sets every canonicalization option
    (accented, spelled-number French text)."""
    import pandas as pd

    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.core.featurize import featurize
    from libpostal_spark.functions.udfs import make_featurize_udf

    cfg = PipelineConfig(
        transliterate=True, fold_spelled_numbers=True, numex_lang="fr"
    )
    pdf = pd.DataFrame({
        "fid": ["a", "b", "c"],
        "content": [
            "Le café coûte vingt-trois euros et la crème brûlée quarante deux",
            "Élodie a acheté deux cent quarante pommes à Noël pour la fête",
            "trois mille quatre cents élèves étudient à l'école de Besançon",
        ],
    })
    udf = make_featurize_udf(cfg)
    canon = {
        r["fid"]: r["canon"]
        for r in spark.createDataFrame(pdf)
        .select("fid", udf("content")["canon"].alias("canon"))
        .collect()
    }
    assert "cafe" in canon["a"].split() and "240" in canon["b"].split()
    shingles = featurize(pd.Series([canon[f] for f in pdf.fid]), cfg).shingles
    feats = EV.exact_features(pdf, cfg)
    for fid, sh in zip(pdf.fid, shingles):
        assert feats[fid][0] == frozenset(sh.tolist()), fid
