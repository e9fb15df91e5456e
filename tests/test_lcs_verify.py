"""Long-clone confirm: winnow hit -> exact suffix-automaton verification.

The reference-design 'per-partition suffix-array substring check for long
exact clones': a winnow fingerprint match flags a probable >=window-token
shared run; verify measures the run exactly (lcs_tokens) and only accepts if
it truly reaches winnow_window.
"""

from pyspark.sql import functions as F

from libpostal_spark.config import PipelineConfig
from libpostal_spark.operators import blocking, verify


def _run_confirm(spark, rows, cfg):
    import pandas as pd

    files = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    sigs = blocking.signatures(files, cfg)
    rep_sigs, _ = blocking.exact_groups(sigs)
    keys = blocking.blocking_keys(rep_sigs, cfg)
    pairs, _, cached = blocking.candidate_pairs(keys, cfg)
    out = verify.verified_pairs(pairs, rep_sigs, cfg).collect()
    if cached is not None:
        cached.unpersist()
    return out


def test_winnow_only_pair_verified_by_lcs(spark):
    """Two files sharing a 250-token block inside otherwise-different bodies:
    jaccard < threshold, so the pair is accepted ONLY via the measured run."""
    cfg = PipelineConfig()
    block = " ".join(f"shared{i}" for i in range(250))
    a = " ".join(f"alpha{i}" for i in range(400)) + " " + block
    b = block + " " + " ".join(f"beta{i}" for i in range(400))
    rows = [("r1", "a", "c", "python", a), ("r2", "b", "c", "python", b)]
    got = _run_confirm(spark, rows, cfg)
    assert len(got) == 1
    r = got[0]
    assert r["jaccard"] < cfg.jaccard_threshold          # not a whole-file dup
    assert r["lcs_tokens"] >= 250                        # the run, measured
    assert r["status"] == verify.STATUS_NEEDS_REVIEW


def test_jaccard_accepted_pairs_skip_lcs(spark):
    cfg = PipelineConfig()
    base = " ".join(f"tok{i} fill{i}" for i in range(120))
    rows = [
        ("r1", "a", "c", "python", base),
        ("r2", "b", "c", "python", base + " tiny change"),
    ]
    got = _run_confirm(spark, rows, cfg)
    assert len(got) == 1
    assert got[0]["jaccard"] >= cfg.jaccard_threshold
    assert got[0]["lcs_tokens"] == -1                    # skipped inside the UDF


def test_short_shared_run_not_confirmed(spark):
    """A shared run well below winnow_window with low jaccard must NOT
    produce a confirmed pair (no winnow fingerprint can span it)."""
    cfg = PipelineConfig()
    block = " ".join(f"shared{i}" for i in range(40))    # << winnow_window=96
    a = " ".join(f"alpha{i}" for i in range(400)) + " " + block
    b = block + " " + " ".join(f"beta{i}" for i in range(400))
    rows = [("r1", "a", "c", "python", a), ("r2", "b", "c", "python", b)]
    got = _run_confirm(spark, rows, cfg)
    assert got == []


def test_sub_guarantee_run_not_confirmed(spark):
    """ADVICE r2 pin: a shared run in [W, W+select-1) — here ~120 tokens —
    must NOT confirm, even when winnowing happens to select a fingerprint
    inside it. The accept bar is the GUARANTEE window (159 at defaults), the
    oracle's edge rule; anything shorter would make cluster membership
    depend on winnowing's selection randomness."""
    cfg = PipelineConfig()
    run = " ".join(f"shared{i}" for i in range(120))   # W=96 <= 120 < 159
    a = " ".join(f"alpha{i}" for i in range(400)) + " " + run
    b = run + " " + " ".join(f"beta{i}" for i in range(400))
    rows = [("r1", "a", "c", "python", a), ("r2", "b", "c", "python", b)]
    got = _run_confirm(spark, rows, cfg)
    assert got == []


def test_guarantee_run_confirmed_with_exact_length(spark):
    """A shared run at exactly the guarantee window confirms, and the
    reported lcs_tokens is the full measured run length."""
    cfg = PipelineConfig()
    n = cfg.winnow_guarantee                            # 159 at defaults
    run = " ".join(f"shared{i}" for i in range(n))
    a = " ".join(f"alpha{i}" for i in range(400)) + " " + run
    b = run + " " + " ".join(f"beta{i}" for i in range(400))
    rows = [("r1", "a", "c", "python", a), ("r2", "b", "c", "python", b)]
    got = _run_confirm(spark, rows, cfg)
    assert len(got) == 1
    assert got[0]["lcs_tokens"] == n
    assert got[0]["status"] == verify.STATUS_NEEDS_REVIEW


def test_max_run_reported_not_first(spark):
    """Two distinct shared runs (one sub-bar, one super-bar): the confirm
    must measure the MAXIMUM run, whatever order the window hashes sort in."""
    cfg = PipelineConfig()
    short = " ".join(f"s{i}" for i in range(120))
    long = " ".join(f"l{i}" for i in range(200))
    mid_a = " ".join(f"alpha{i}" for i in range(150))
    mid_b = " ".join(f"beta{i}" for i in range(150))
    a = short + " " + mid_a + " " + long
    b = long + " " + mid_b + " " + short
    rows = [("r1", "a", "c", "python", a), ("r2", "b", "c", "python", b)]
    got = _run_confirm(spark, rows, cfg)
    assert len(got) == 1
    assert got[0]["lcs_tokens"] >= 200


def test_max_run_across_alignments_of_repeated_block(spark):
    """Code-review r3 repro: when a shared block X repeats on one side, the
    maximal run may pair the SECOND occurrence of X with the other side's
    single occurrence (X+Y). The measurer must try all alignments, not just
    hash-sort-first, or the 160-token X+Y run is reported as 100 and the
    clone edge is dropped."""
    import pandas as pd

    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.core.featurize import pair_lcs_batch

    cfg = PipelineConfig()
    X = [f"x{i}" for i in range(100)]
    Y = [f"y{i}" for i in range(60)]
    junk = [f"j{i}" for i in range(50)]
    a = " ".join(X + Y)
    b = " ".join(X + junk + X + Y)
    # repeat across several randomized paddings so hash-sort order varies
    rows_a, rows_b = [], []
    for k in range(20):
        pad = [f"p{k}_{i}" for i in range(k + 3)]
        rows_a.append(" ".join(pad + X + Y))
        rows_b.append(" ".join(X + junk + X + Y + pad))
    got = pair_lcs_batch(pd.Series([a] + rows_a), pd.Series([b] + rows_b), cfg)
    assert int(got.min()) >= 160, list(map(int, got))
