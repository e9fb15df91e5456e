"""Long-clone confirm: winnow hit -> exact suffix-automaton verification.

The reference-design 'per-partition suffix-array substring check for long
exact clones': a winnow fingerprint match flags a probable >=window-token
shared run; verify measures the run exactly (lcs_tokens) and only accepts if
it truly reaches WINNOW_WINDOW.
"""

import random

import pandas as pd
from pyspark.sql import functions as F

from libpostal_spark.config import WINNOW_GUARANTEE, WINNOW_WINDOW, PipelineConfig
from libpostal_spark.core.featurize import pair_lcs_batch
from libpostal_spark.operators import blocking, verify


def _lcs_tokens(a: list, b: list) -> int:
    """Longest common token RUN (contiguous substring) via a suffix automaton
    over `a`, walked with `b` — O(|a|+|b|) per pair. The exact form of the
    reference-design "per-partition suffix-array substring check": winnow
    fingerprints only say a long shared run exists w.h.p.; this measures it
    exactly — the reference ``pair_lcs_batch`` is checked against below."""
    if not a or not b:
        return 0
    # suffix automaton (Blumer et al.) over token sequence a
    last, size = 0, 1
    link = [-1]
    length = [0]
    trans: list[dict] = [{}]
    for ch in a:
        cur = size
        size += 1
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = size
                size += 1
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # walk b through the automaton tracking current match length
    v, ln, best = 0, 0, 0
    for ch in b:
        while v and ch not in trans[v]:
            v = link[v]
            ln = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            ln += 1
            best = max(best, ln)
        else:
            v, ln = 0, 0
    return best


def _run_confirm(spark, rows, cfg):
    import pandas as pd

    files = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    sigs = blocking.signatures(files, cfg)
    rep_sigs, _ = blocking.exact_groups(blocking.exact_rep_frame(sigs, sigs))
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
    """A shared run well below WINNOW_WINDOW with low jaccard must NOT
    produce a confirmed pair (no winnow fingerprint can span it)."""
    cfg = PipelineConfig()
    block = " ".join(f"shared{i}" for i in range(40))    # << WINNOW_WINDOW=96
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
    n = WINNOW_GUARANTEE                                # 159
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


def _lcs_brute(a: list, b: list) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_suffix_automaton_lcs_matches_brute_force():
    rng = random.Random(3)
    for _ in range(300):
        vocab = [f"t{i}" for i in range(rng.choice([1, 2, 3, 8]))]
        a = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        b = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        assert _lcs_tokens(a, b) == _lcs_brute(a, b), (a, b)


def test_pair_lcs_batch_matches_suffix_automaton():
    """Seeded differential test of the vectorized run measurer against the
    exact suffix-automaton LCS. Decision-exact contract, per pair that is
    not budget-exhausted: no run below ``WINNOW_WINDOW`` is reported (0);
    a longest run below the accept bar (``WINNOW_GUARANTEE``) is reported
    exactly; a longest run at or above the bar is reported as a real run
    that also clears the bar (the measurer stops at the first verified run
    that reaches it, so with several super-bar runs it may not be the
    longest). Covers empty sides, 3-token vocabularies (heavy repetition,
    runs that extend past a planted block), up to three shared blocks of
    up to 400 tokens, and a block planted twice on one side whose longest
    run is only measured by aligning with the second copy."""
    cfg = PipelineConfig()
    W, bar = WINNOW_WINDOW, WINNOW_GUARANTEE
    rng = random.Random(11)

    def draw(vocab, n):
        return [rng.choice(vocab) for _ in range(n)]

    c1, c2, ref = [], [], []
    for k in range(300):
        vocab = [f"t{i}" for i in range(rng.choice([3, 3, 50, 1000]))]
        a = draw(vocab, 0 if k % 25 == 0 else rng.randint(0, 300))
        b = draw(vocab, 0 if k % 25 == 1 else rng.randint(0, 300))
        for _ in range(rng.randint(0, 3)):
            block = draw([f"s{i}" for i in range(rng.choice([3, 1000]))],
                         rng.randint(1, 400))
            # runs touching either end of a side are the extension edge cases
            ia = rng.choice([0, len(a), rng.randint(0, len(a))])
            ib = rng.choice([0, len(b), rng.randint(0, len(b))])
            a[ia:ia] = block
            b[ib:ib] = block
        if k % 4 == 0:
            # X+Y against X .. X+Y, |Y| < W: only the alignment with the
            # second copy measures the longest run
            x = draw([f"x{i}" for i in range(1000)], rng.randint(W, bar))
            y = draw([f"y{i}" for i in range(1000)], rng.randint(1, W - 1))
            ia = rng.randint(0, len(a))
            a[ia:ia] = x + y
            ib = rng.randint(0, len(b))
            b[ib:ib] = x + draw(vocab, rng.randint(1, 40)) + x + y
        c1.append(" ".join(a))
        c2.append(" ".join(b))
        ref.append(_lcs_tokens(a, b))
    out = pair_lcs_batch(pd.Series(c1), pd.Series(c2), cfg, with_flags=True)
    assert not out["exhausted"].any()
    bands = {"none": 0, "sub_bar": 0, "bar": 0}
    for i, (run, lcs) in enumerate(zip(out["run"].tolist(), ref)):
        if lcs < W:
            bands["none"] += 1
            assert run == 0, (i, run, lcs)
        elif lcs < bar:
            bands["sub_bar"] += 1
            assert run == lcs, (i, run, lcs)
        else:
            bands["bar"] += 1
            assert bar <= run <= lcs, (i, run, lcs)
    # every branch of the contract is exercised
    assert min(bands.values()) >= 10, bands
