"""Multi-word token alignments (operators/dedup.py multiword_alignment_expr)
vs a scalar mirror of the reference scan and the hand-derived goldens.

Reference: /root/reference/src/string_similarity.c:590-680 — the sequential
greedy scan, WITH its no-backtracking quirk, WITHOUT its stale-phrase_start
carry across short tokens (see the operator docstring).
"""

import random
import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from libpostal_spark.operators import dedup  # noqa: E402


def mw_ref(short_toks: list, long_toks: list) -> list:
    """Scalar mirror of the reference scan (fresh state per short token)."""
    outs = []
    for i, st in enumerate(short_toks):
        pos, start = 0, -1
        for j, tj in enumerate(long_toks):
            if tj and st[pos : pos + len(tj)] == tj:
                if start < 0:
                    start = j
                pos += len(tj)
                if pos == len(st) and j - start > 0:
                    outs.append((start, j - start + 1, i))
                    pos, start = 0, -1
            else:
                pos, start = 0, -1
    return outs


def mw_pair(s1: str, s2: str) -> list:
    t1, t2 = s1.lower().split(), s2.lower().split()
    if len(t1) == len(t2):
        return []
    short, long_ = (t1, t2) if len(t1) < len(t2) else (t2, t1)
    return mw_ref(short, long_)


def test_goldens_match_scalar_mirror():
    from __spark_entry__ import _MW_GOLDENS

    for s1, s2, n, als in _MW_GOLDENS:
        got = mw_pair(s1, s2)
        got_str = ",".join(f"{a}:{b}:{c}" for a, b, c in got)
        assert (len(got), got_str) == (n, als), (s1, s2, got)


def test_quirks():
    # no backtracking: the failed partial consumes the long token
    assert mw_pair("abc", "ab ab c") == []
    # single-token whole equality is never an alignment
    assert mw_pair("city", "new city") == []
    # multiple alignments for distinct short tokens
    assert mw_pair("ab cd", "a b c d") == [(0, 2, 0), (2, 2, 1)]
    # triple concatenation
    assert mw_pair("seaworldpark fun", "sea world park fun") == [(0, 3, 0)]


def _spark_eval(spark, pairs):
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, ["i", "s1", "s2"]).withColumn(
        "ta", F.expr(dedup._mw_tokens_expr("s1"))
    ).withColumn("tb", F.expr(dedup._mw_tokens_expr("s2")))
    out = dedup.multiword_alignments(df, "ta", "tb").select("i", "mw_alignments")
    return {
        r["i"]: [
            (o["long_start"], o["long_len"], o["short_idx"])
            for o in r["mw_alignments"]
        ]
        for r in out.collect()
    }


def test_spark_expr_matches_mirror_on_goldens(spark):
    from __spark_entry__ import _MW_GOLDENS

    pairs = [(a, b) for a, b, _, _ in _MW_GOLDENS]
    got = _spark_eval(spark, pairs)
    for i, (a, b) in enumerate(pairs):
        assert got[i] == mw_pair(a, b), (a, b, got[i])


def test_spark_expr_matches_mirror_fuzz(spark):
    rng = random.Random(7)
    vocab = ["a", "ab", "b", "ba", "abc", "c", "ca", "x"]
    pairs = []
    for _ in range(60):
        n1 = rng.randint(1, 5)
        n2 = rng.randint(1, 7)
        s1 = " ".join(rng.choice(vocab) for _ in range(n1))
        s2 = " ".join(rng.choice(vocab) for _ in range(n2))
        pairs.append((s1, s2))
    got = _spark_eval(spark, pairs)
    for i, (a, b) in enumerate(pairs):
        assert got[i] == mw_pair(a, b), (a, b, got[i], mw_pair(a, b))


