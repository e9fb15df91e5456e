"""numex goldens — reference-style expectations (test/test_numex.c pattern):
spelled-number composition, ordinals, Roman numerals, ambiguity gating."""

import pandas as pd
import pytest

from libpostal_spark.core.numex import (
    fold_spelled_numbers,
    fold_spelled_numbers_batch,
    roman_value,
)
from tests.helpers import canonicalize_one


@pytest.mark.parametrize(
    "toks,want",
    [
        (["three"], ["3"]),
        (["twenty", "three"], ["23"]),
        (["three", "hundred"], ["300"]),
        (["three", "hundred", "twenty", "one"], ["321"]),
        (["one", "thousand", "two", "hundred", "thirty", "four"], ["1234"]),
        (["seven", "hundred", "thousand"], ["700000"]),
        (["one", "hundred", "and", "two"], ["102"]),
        (["hundred"], ["hundred"]),            # bare multiplier: not a number run
        (["first"], ["1"]),
        (["twenty", "first"], ["21"]),
        (["hundredth"], ["hundredth"]),
        (["two", "hundredth"], ["200"]),
        (["zero"], ["0"]),
        (["nineteen", "eighty", "four"], ["19", "84"]),  # teens close before tens
        # 'and' swallowed ONLY when the next word EXTENDS the run — "two and
        # three" must not canonicalize identically to "two three"
        (["two", "and", "three"], ["2", "and", "3"]),
        (["two", "and", "zero"], ["2", "and", "0"]),
        (["two", "thousand", "and", "five"], ["2005"]),
        # ordinal unit after a closed multiplier composes like the cardinal
        (["two", "thousand", "first"], ["2001"]),
        (["two", "thousand", "and", "first"], ["2001"]),
    ],
)
def test_spelled_composition(toks, want):
    assert fold_spelled_numbers(toks) == want


def test_number_runs_embed_in_code_tokens():
    toks = "retry at most twenty three times else fail".split()
    assert fold_spelled_numbers(toks) == (
        "retry at most 23 times else fail".split()
    )
    # "and" only swallowed INSIDE a run
    toks = "one and done".split()
    assert fold_spelled_numbers(toks) == ["1", "and", "done"]


@pytest.mark.parametrize(
    "s,v",
    [("iv", 4), ("ix", 9), ("xiv", 14), ("xl", 40), ("mcmxciv", 1994),
     ("ii", 2), ("mmxxvi", 2026)],
)
def test_roman_values(s, v):
    assert roman_value(s) == v


def test_roman_gating():
    # single letters are identifiers, never numerals
    assert roman_value("i") is None and roman_value("m") is None
    # non-strict syntax rejected
    assert roman_value("iiii") is None and roman_value("vx") is None
    # strict-syntax words ARE parsed — which is exactly why roman folding
    # is opt-in (the reference's documented ambiguity class)
    assert roman_value("mix") == 1009
    toks = ["chapter", "xiv", "mix"]
    assert fold_spelled_numbers(toks, fold_roman=False) == toks
    assert fold_spelled_numbers(toks, fold_roman=True) == ["chapter", "14", "1009"]


def test_batch_prefilter_paths():
    s = pd.Series(["def foo(): pass", "wait twenty three ms", ""])
    out = fold_spelled_numbers_batch(s)
    assert out[0] == "def foo(): pass"          # untouched (no number words)
    assert out[1] == "wait 23 ms"
    assert out[2] == ""


def test_canonicalize_integration():
    got = canonicalize_one(
        "retryTwentyThree_times = maxDelay", fold_spelled_numbers=True
    )
    assert got == "retry 23 times = max delay"
