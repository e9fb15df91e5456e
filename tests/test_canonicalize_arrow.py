"""Equivalence pins for the Arrow (RE2/utf8proc) fast paths added in the
round-8 optimization pass: the outputs must be bit-identical to the pandas
reference implementations on every input shape, including the whitespace
characters where Python's re \\s and RE2's \\s disagree (\\x0b, \\x1c-\\x1f),
comment edge cases, and non-ASCII rows (which must take the Python path).
"""

import random
import string

import numpy as np
import pandas as pd
import pytest

from libpostal_spark.core import hashing as H
from libpostal_spark.core.canonicalize import (
    _canon_core,
    _canon_core_pandas,
    canonicalize_batch,
)
from libpostal_spark.core.featurize import (
    _tokenize_flat_pandas,
    tokenize_flat,
)

_ALPHABET = (
    string.ascii_letters
    + string.digits
    + "_ \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f"
    + "/*#-.,;(){}[]<>=+!\"'%&|\\^~`?:@$"
)

_EDGES = [
    "",
    "/*",
    "*/",
    "/* unterminated",
    "a/*x*/b",
    "/*a*//*b*/",
    "//line\nnext",
    "#c\n--d",
    "--",
    "#",
    "//",
    "HTTPServer fooBar XMLHttpRequest",
    "__a__b__",
    "1.2.3",
    "...",
    "a\x0bb",
    "a\x1cb\x1dc\x1ed\x1fe",
    "A1bC2d",
    "ABCDef",
    "aB" * 40,
]


def test_canon_core_arrow_equals_pandas_ascii_fuzz():
    rng = random.Random(17)
    cases = [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(0, 80)))
        for _ in range(3000)
    ] + _EDGES
    s = pd.Series(cases, dtype=object)
    exp = _canon_core_pandas(s.copy())
    got = _canon_core(s.copy())
    assert (exp.to_numpy() == got.to_numpy()).all()
    assert list(got.index) == list(s.index)


def test_canon_core_mixed_ascii_nonascii():
    cases = [
        "plain Ascii fooBar",
        "ÜberCount straße",  # non-ascii → python path
        "ΑΣ ΤΕΛΟΣ",          # greek final-sigma context rule
        "İstanbul",          # dotted capital I
        "mixed 中文 here",
        "",
        "tab\tsep",
    ]
    s = pd.Series(cases, dtype=object)
    exp = _canon_core_pandas(s.copy())
    got = _canon_core(s.copy())
    assert (exp.to_numpy() == got.to_numpy()).all()


def test_canonicalize_batch_index_preserved():
    s = pd.Series(["a b", "fooBar"], index=[7, 3], dtype=object)
    out = canonicalize_batch(s)
    assert list(out.index) == [7, 3]
    assert out.loc[3] == "foo bar"


def test_tokenize_flat_arrow_equals_pandas():
    rng = random.Random(5)
    cases = [
        "a b",
        "a  b",          # double space → empty token, kept by both
        " a",
        "b ",
        "",
        "x",
        "  ",
        "tok " * 50,
    ] + [
        " ".join(
            "".join(
                rng.choice(string.ascii_lowercase + "0123456789.")
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(rng.randint(0, 30))
        )
        for _ in range(1500)
    ]
    s = pd.Series(cases, dtype=object)
    for seed, mode in [(1, "blake2b"), (42, "sha256")]:
        f0, l0 = _tokenize_flat_pandas(s, seed, mode)
        f1, l1 = tokenize_flat(s, seed, mode)
        assert np.array_equal(f0, f1)
        assert np.array_equal(l0, l1)


def test_tokenize_flat_nan_and_empty():
    s = pd.Series([None, "", "a b", None], dtype=object)
    f0, l0 = _tokenize_flat_pandas(s, 9, "blake2b")
    f1, l1 = tokenize_flat(s, 9, "blake2b")
    assert np.array_equal(f0, f1)
    assert np.array_equal(l0, l1)
    assert list(l1) == [0, 0, 2, 0]


@pytest.mark.parametrize(
    "n_rows,max_len,k,cap",
    [
        (0, 0, 5, 0),
        (1, 0, 5, 0),
        (1, 1000, 5, 0),          # single long row
        (40000, 3, 5, 0),         # many tiny rows
        (5500, 400, 5, 20000),    # e2e-like rectangle shape
        (100, 50, 5, 7),          # cap active
        (7, 7, 7, 0),
        (2, 1, 1, 0),
    ],
)
def test_shingle_sets_rect_equals_lexsort(n_rows, max_len, k, cap):
    """The rectangle segmented-sort path must equal the dense lexsort path
    (exercised by the giant-row case) bit-for-bit."""
    rng = np.random.default_rng(n_rows * 31 + max_len)
    lengths = rng.integers(0, max_len + 1, size=n_rows).astype(np.int64)
    flat = rng.integers(0, 1 << 64, size=int(lengths.sum()), dtype=np.uint64)
    v, o = H.shingle_sets(flat, lengths, k, cap)
    # reference: dense global lexsort + dedupe + cap (the pre-round-8 form)
    with np.errstate(over="ignore"):
        prefix = H._prefix_sums(flat) if len(flat) else None
        h, row_id = H.window_hashes(flat, lengths, k, prefix=prefix)
        short = lengths < k
        if short.any():
            s, ppow = prefix if prefix is not None else H._prefix_sums(flat)
            starts = np.concatenate(([0], np.cumsum(lengths)))
            idx = np.nonzero(short)[0]
            if len(flat):
                safe = np.minimum(starts[idx], len(flat) - 1)
                whole = (s[starts[idx + 1]] - s[starts[idx]]) * ppow[safe]
                whole[lengths[idx] == 0] = np.uint64(0)
            else:
                whole = np.zeros(len(idx), dtype=np.uint64)
            whole = H.splitmix64(np.asarray(whole, dtype=np.uint64))
            h = np.concatenate([h, whole])
            row_id = np.concatenate([row_id, idx])
        order = np.lexsort((h, row_id))
        h, row_id = h[order], row_id[order]
        keep = np.ones(len(h), dtype=bool)
        if len(h) > 1:
            keep[1:] = (h[1:] != h[:-1]) | (row_id[1:] != row_id[:-1])
        h, row_id = h[keep], row_id[keep]
        counts = np.bincount(row_id, minlength=n_rows)
        if cap and counts.max(initial=0) > cap:
            rank = np.arange(len(h)) - np.repeat(
                np.concatenate(([0], np.cumsum(counts)))[:-1], counts
            )
            keep2 = rank < cap
            h, row_id = h[keep2], row_id[keep2]
            counts = np.bincount(row_id, minlength=n_rows)
        offsets = np.concatenate(([0], np.cumsum(counts)))
    assert np.array_equal(v, h.view(np.int64))
    assert np.array_equal(o, offsets)


def test_shingle_sets_skewed_batch_fallback_equals_rect_semantics():
    """One giant row among thousands of tiny ones pushes the rectangle past
    the 4x-payload guard → the dense lexsort fallback runs. Its output must
    match a per-row reference reduction exactly."""
    rng = np.random.default_rng(8)
    lengths = np.concatenate(
        [np.full(4000, 2, dtype=np.int64), np.array([50_000], dtype=np.int64)]
    )
    flat = rng.integers(0, 1 << 10, size=int(lengths.sum()), dtype=np.uint64)
    v, o = H.shingle_sets(flat, lengths, 3, 0)
    # reference: the same batch split so each half takes the rectangle path;
    # per-row results must agree exactly (row reductions are independent)
    cut = int(lengths[:4000].sum())
    v_a, o_a = H.shingle_sets(flat[:cut], lengths[:4000], 3, 0)
    v_b, o_b = H.shingle_sets(flat[cut:], lengths[4000:], 3, 0)
    assert np.array_equal(v, np.concatenate([v_a, v_b]))
    assert np.array_equal(o, np.concatenate([o_a, o_a[-1] + o_b[1:]]))


def test_shingle_sets_sentinel_value_row():
    """A row whose only shingle hashes to near-2^64 must survive the
    rectangle path's sentinel padding (the count bound, not the value,
    decides what is padding)."""
    # craft rows of < k tokens so the whole-row fallback fires; values are
    # arbitrary — the pin is old-path equality on a short+long mix
    lengths = np.array([2, 10, 0, 3], dtype=np.int64)
    rng = np.random.default_rng(0)
    flat = rng.integers(0, 1 << 64, size=15, dtype=np.uint64)
    v, o = H.shingle_sets(flat, lengths, 5, 0)
    assert len(o) == 5 and o[-1] == len(v)
    # every row is represented (short rows get the whole-row hash)
    cnts = np.diff(o)
    assert (cnts >= 1).all()


# ---------------------------------------------------------------- phrase loops

from libpostal_spark.core import canonicalize as C
from libpostal_spark.core.canonicalize import (
    phrase_match_count_matrix,
    rewrite_joined_batch,
)

_PHRASE_TOKENS = [
    "a", "b", "ab", "the", "data", "base", "data base", "no", "op", "no op",
    "café", "straße", "x", "0", "1.5", "sec",
]

_PHRASE_ORDERED = [
    ("data base", "database"),
    ("no op", "noop"),
    ("the", ""),            # deleting stopword (len change)
    ("sec", "second"),      # len change, growth
    ("ab", "ab"),           # equal length (count_substring branch)
    ("café", "cafe"),       # non-ASCII pattern, len change
    ("straße", "strasse"),  # non-ASCII, len change
    ("a", "z"),             # equal length single char
]


def _phrase_rows(rng, n):
    rows = []
    for _ in range(n):
        rows.append(
            " ".join(
                rng.choice(_PHRASE_TOKENS)
                for _ in range(rng.randint(0, 12))
            )
        )
    return rows


def test_phrase_match_count_matrix_arrow_equals_pandas():
    rng = random.Random(23)
    rows = _phrase_rows(rng, 300) + ["", "a", "data base data base", "ababab"]
    s = pd.Series(rows)
    got = phrase_match_count_matrix(s, _PHRASE_ORDERED)
    # force the pandas fallback by hiding pyarrow from the module
    orig = C._pa
    try:
        C._pa = None
        ref = phrase_match_count_matrix(s, _PHRASE_ORDERED)
    finally:
        C._pa = orig
    assert got.dtype == ref.dtype
    assert (got == ref).all()


def test_phrase_match_count_matrix_null_row_counts_zero():
    """A null row counts as '' on both paths — never a NaN cast to
    INT64_MIN by the pandas fallback."""
    s = pd.Series(["data base", None, "the a"], dtype=object)
    want = phrase_match_count_matrix(s.fillna(""), _PHRASE_ORDERED)
    assert (want[1] == 0).all()
    got = phrase_match_count_matrix(s, _PHRASE_ORDERED)
    orig = C._pa
    try:
        C._pa = None
        ref = phrase_match_count_matrix(s, _PHRASE_ORDERED)
    finally:
        C._pa = orig
    assert (got == want).all() and (ref == want).all()


def test_rewrite_joined_batch_arrow_equals_pandas():
    rng = random.Random(29)
    rows = _phrase_rows(rng, 300) + ["", "a", "the the the", "1.5 2 x 007"]
    s = pd.Series(rows)
    exp = dict(_PHRASE_ORDERED)
    got_s, got_m = rewrite_joined_batch(s, exp, count_matches=True)
    orig = C._pa
    try:
        C._pa = None
        ref_s, ref_m = rewrite_joined_batch(s, exp, count_matches=True)
    finally:
        C._pa = orig
    assert got_s.tolist() == ref_s.tolist()
    assert got_m.tolist() == ref_m.tolist()


def test_rewrite_joined_batch_arrow_surrogate_fallback():
    # a lone surrogate cannot cross into Arrow: the batch must fall back to
    # the pandas path (and not raise)
    s = pd.Series(["data base \udc80 the", "plain the row"])
    out, m = rewrite_joined_batch(
        s, {"data base": "database", "the": ""}, count_matches=True
    )
    assert out.iloc[1] == "plain row"
    assert m.iloc[1] == 1
    assert "database" in out.iloc[0]
