"""Integrated Soft-TFIDF scorer (phrase/acronym/multi-word arms +
positional ladder) — reference soft_tfidf.c:128-588 semantics."""

import math

import pytest

from libpostal_spark.operators import softtfidf_aligned as sa

LUT, MPL = sa.build_phrase_lookup()

GOLDENS = [
    ("cfg parser", "config parser", 10000, 2),
    ("data base conn", "database connection", 9856, 2),
    ("bam show", "brooklyn academy music show", 10000, 2),
    ("seaworld tickets", "sea world tickets", 10000, 2),
    ("international house", "internatl house", 9950, 2),
    ("21st main", "21 main", 9333, 2),
    ("zzz qqq", "rrr www", 0, 0),
    ("fn", "function impl", 7071, 1),
    ("data base", "database", 10000, 1),
    ("time out x y", "timeout a b c", 3536, 2),
]


def _score(s1, s2, **kw):
    t1, t2 = s1.split(), s2.split()
    return sa.score_pair(
        t1, [1.0] * len(t1), t2, [1.0] * len(t2), LUT, MPL, **kw
    )


def test_hand_traced_goldens():
    for s1, s2, e4, nm in GOLDENS:
        sim, m = _score(s1, s2)
        assert round(sim * 10000) == e4, (s1, s2, sim)
        assert m == nm, (s1, s2, m)


def test_symmetric_under_argument_order():
    # the scorer's internal swap makes the pair order irrelevant
    for s1, s2, _, _ in GOLDENS:
        a = _score(s1, s2)
        b = _score(s2, s1)
        assert a == pytest.approx(b)


def test_phrase_response_upgrade_prefers_canonical_entry():
    # "cfg" vs ["conf", "configuration"]: both candidate phrases share the
    # canonical; the canonical-form entry outranks the abbreviation entry
    # (SECOND_CANONICAL > NEITHER_CANONICAL, soft_tfidf.c:64-70 + :323-334)
    # so the contribution uses w("configuration"), not w("conf").
    t1, t2 = ["cfg"], ["conf", "configuration"]
    w1, w2 = [3.0], [5.0, 2.0]
    sim, m = sa.score_pair(t1, w1, t2, w2, LUT, MPL)
    exp = (3.0 * 2.0) / (3.0 * math.sqrt(25.0 + 4.0))
    assert sim == pytest.approx(exp)
    assert m == 1


def test_acronym_alignments_scan():
    assert sa.acronym_alignments_py(
        ["bam"], ["brooklyn", "academy", "music"]
    ) == [(0, 3, 0)]
    # sequential no-backtracking: a failed run consumes its tokens
    assert sa.acronym_alignments_py(["ab"], ["apple", "x", "banana"]) == []
    # period-stripped acronym token
    assert sa.acronym_alignments_py(
        ["b.a.m."], ["brooklyn", "academy", "music"]
    ) == [(0, 3, 0)]
    # single-char tokens never acronyms (reference ti.len == c1_len guard)
    assert sa.acronym_alignments_py(["a"], ["apple", "pie"]) == []


def test_multiword_alignments_scan():
    assert sa.multiword_alignments_py(["seaworld"], ["sea", "world"]) == [
        (0, 2, 0)
    ]
    # no-backtracking quirk preserved
    assert sa.multiword_alignments_py(["abc"], ["ab", "ab", "c"]) == []
    # single-token equality is never an alignment
    assert sa.multiword_alignments_py(["abc"], ["abc", "x"]) == []


def test_spark_operator_matches_kernel(spark):
    rows = []
    for i, (s1, s2, _, _) in enumerate(GOLDENS):
        rows.append((2 * i, s1))
        rows.append((2 * i + 1, s2))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    prs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(len(GOLDENS))],
        ["doc_id1", "doc_id2"],
    )
    out = {
        r["doc_id1"]: r
        for r in sa.soft_tfidf_aligned_pairs(
            docs, prs, weight_mode="unit"
        ).collect()
    }
    for i, (s1, s2, e4, nm) in enumerate(GOLDENS):
        r = out[2 * i]
        assert r["sim_e4"] == e4, (s1, s2, r)
        assert r["n_matched"] == nm


def test_spark_df_weight_mode(spark):
    # df weights: 'common' in every doc gets weight 10^6/3; rare tokens
    # 10^6. Verify against a locally recomputed score_pair call.
    texts = ["common rarex", "common rarey", "common rarex"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = {
        (r["doc_id1"], r["doc_id2"]): r
        for r in sa.soft_tfidf_aligned_pairs(docs).collect()
    }
    w_common = float(1_000_000 // 3)     # df = 3
    w_rarex = 500_000.0                  # df = 2 (docs 0 and 2)
    w_rarey = 1_000_000.0                # df = 1
    sim01, m01 = sa.score_pair(
        ["common", "rarex"], [w_common, w_rarex],
        ["common", "rarey"], [w_common, w_rarey], LUT, MPL,
    )
    assert out[(0, 1)]["sim_e4"] == round(sim01 * 10000)
    assert out[(0, 1)]["n_matched"] == m01
    # (1, 2) is the same token pairing with sides flipped; jw·w_a·w_b is
    # symmetric so the score is identical
    assert out[(1, 2)]["sim_e4"] == out[(0, 1)]["sim_e4"]
    assert out[(1, 2)]["n_matched"] == 2


def test_empty_and_missing_sides(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "   ")], ["doc_id", "text"]
    )
    r = sa.soft_tfidf_aligned_pairs(docs, weight_mode="unit").collect()[0]
    assert r["sim_e4"] == 0 and r["n_matched"] == 0
    assert r["status"] == "non_duplicate"


def test_weight_mode_validation(spark):
    docs = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        sa.soft_tfidf_aligned_pairs(docs, weight_mode="bogus")


def test_fuzzy_lattice_street_subset_rule(spark):
    # "fn" fully matches into "function impl" (1 == min token count):
    # street wrapper ⇒ likely before thresholds; name wrapper leaves the
    # 0.7071 score at needs_review
    docs = spark.createDataFrame(
        [(0, "fn"), (1, "function impl")], ["doc_id", "text"]
    )
    street = sa.fuzzy_dup_status_aligned_pairs(
        docs, subset_status="likely_duplicate", weight_mode="unit"
    ).collect()[0]
    name = sa.fuzzy_dup_status_aligned_pairs(
        docs, weight_mode="unit"
    ).collect()[0]
    assert street["fuzzy_status"] == "likely_duplicate"
    assert name["fuzzy_status"] == "needs_review"
    assert street["n_tokens1"] == 1 and street["n_tokens2"] == 2


def test_fuzzy_lattice_single_letter_demotion(spark):
    # 9 of 10 unit tokens match → sim_e4 lands exactly on 9000; the
    # {a}/{b} single-letter symmetric difference demotes threshold-LIKELY
    # to needs_review in both wrapper modes (dedupe.c:427-441)
    s1 = "a c1 c2 c3 c4 c5 c6 c7 c8 c9"
    s2 = "b c1 c2 c3 c4 c5 c6 c7 c8 c9"
    docs = spark.createDataFrame([(0, s1), (1, s2)], ["doc_id", "text"])
    r = sa.fuzzy_dup_status_aligned_pairs(
        docs, subset_status="likely_duplicate", weight_mode="unit"
    ).collect()[0]
    assert r["sim_e4"] == 9000
    assert r["single_letter_mismatch"] is True
    assert r["fuzzy_status"] == "needs_review"


def test_fuzzy_lattice_no_demotion_when_letters_shared(spark):
    # same single letter on both sides → empty symmetric difference → the
    # threshold-likely grade stands
    s1 = "a c1 c2 c3 c4 c5 c6 c7 c8 c9"
    docs = spark.createDataFrame([(0, s1), (1, s1)], ["doc_id", "text"])
    r = sa.fuzzy_dup_status_aligned_pairs(
        docs, weight_mode="unit"
    ).collect()[0]
    assert r["sim_e4"] == 10000
    assert r["single_letter_mismatch"] is False
    assert r["fuzzy_status"] == "likely_duplicate"
