"""Double Metaphone kernel tests (core/metaphone.py vs hand-traced goldens).

The golden table in __spark_entry__ was hand-derived from the reference rule
cascade (/root/reference/src/double_metaphone.c) — these tests pin the kernel
to it and to the kernel's batch/scalar/normalization contracts.
"""

import sys

import pytest

sys.path.insert(0, "/root/repo")

from libpostal_spark.core.metaphone import (  # noqa: E402
    double_metaphone,
    double_metaphone_batch,
)


def _goldens():
    from __spark_entry__ import _DM_GOLDENS

    return _DM_GOLDENS


def test_goldens_all_match():
    bad = []
    for name, pri, sec in _goldens():
        got = double_metaphone(name)
        if got != (pri, sec):
            bad.append((name, (pri, sec), got))
    assert not bad, f"{len(bad)} golden mismatches: {bad[:5]}"


def test_case_insensitive():
    for name, pri, sec in _goldens():
        assert double_metaphone(name.lower()) == (pri, sec)
        assert double_metaphone(name.title()) == (pri, sec)


def test_none_and_empty():
    assert double_metaphone(None) is None
    assert double_metaphone("") == ("", "")
    assert double_metaphone("   ") == ("", "")


def test_accented_sequences():
    # Ç → S (decomposed cedilla rule), Ñ → N (decomposed tilde rule),
    # plain decomposable accents are skipped as combining marks
    assert double_metaphone("François") == ("FRNS", "FRNSS")
    assert double_metaphone("Muñoz") == ("MNS", "MNS")
    assert double_metaphone("José") == ("JS", "HS")
    assert double_metaphone("Müller") == double_metaphone("Muller")


def test_leading_apostrophe_stripped():
    assert double_metaphone("'Smith")[0] == double_metaphone("Smith")[0]
    assert double_metaphone("ʻokina")[0] == double_metaphone("okina")[0]


def test_batch_matches_scalar_and_handles_nulls():
    names = [n for n, _, _ in _goldens()]
    vals = names + [None] + names[:3]
    out = double_metaphone_batch(vals)
    assert out[len(names)] is None
    for v, got in zip(vals, out):
        if v is not None:
            assert got == double_metaphone(v)


def test_non_letters_skipped():
    assert double_metaphone("smith-jones") == double_metaphone("smithjones")
    assert double_metaphone("o'neil")[0] == "ANL"


@pytest.mark.parametrize(
    "a,b",
    [
        ("Smith", "Schmidt"),       # S/X cross match
        ("Snider", "Schneider"),    # S/X cross match
        ("Arnow", "Arnoff"),        # W-final ~ FF
        ("Uomo", "Womo"),           # initial W ~ vowel
    ],
)
def test_cross_matching_pairs_share_a_code(a, b):
    pa, sa = double_metaphone(a)
    pb, sb = double_metaphone(b)
    assert {pa, sa} & {pb, sb}


