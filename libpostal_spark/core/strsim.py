"""Batch string-similarity kernels: Levenshtein, unrestricted
Damerau-Levenshtein, Jaro-Winkler.

Reference analogs: ``damerau_levenshtein_distance``
(/root/reference/src/string_similarity.c via src/damerau_levenshtein.c) and
``jaro_winkler_distance`` (/root/reference/src/jaro.c) — the reference's
per-pair C loops re-expressed as numpy kernels vectorized over the BATCH
axis: the dp recurrences stay explicit in (i, j) but every cell update is
one C-loop op across all pairs of an Arrow batch at once, so per-row Python
never runs in the hot path (the featurize-kernel discipline).

Variant notes (pinned by tests against DuckDB's built-ins, which the
harness oracle uses):
* Damerau-Levenshtein is the UNRESTRICTED (Lowrance–Wagner) distance —
  ``dl('ca','abc') == 2`` — not the restricted OSA variant (== 3).
* Jaro-Winkler uses the standard parameters: match window
  ``max(la,lb)//2 - 1``, prefix scale 0.1 capped at 4 chars, boost applied
  only when the Jaro similarity exceeds 0.7.

Strings are compared over their first ``max_len`` characters (default 32):
the dp cost is O(max_len²) per pair and these operators exist for SHORT
strings (identifiers, titles, address-like lines); for whole documents the
shingle-Jaccard pipeline is the correct tool.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# sentinel codepoints beyond the Unicode range: padding on either side can
# never equal a real character (or the other side's padding)
_SENT_A = 0x110000
_SENT_B = 0x110001


def _codes(s: pd.Series, max_len: int, sent: int) -> tuple[np.ndarray, np.ndarray]:
    """(B, max_len) int32 codepoint matrix padded with `sent`, plus true
    (clipped) lengths."""
    vals = s.fillna("").astype(str).to_numpy(dtype=object)
    lens = np.minimum([len(v) for v in vals], max_len).astype(np.int32)
    out = np.full((len(vals), max_len), sent, dtype=np.int64)
    for r, v in enumerate(vals):           # row-bounded: O(B) python, not O(B·n²)
        k = lens[r]
        if k:
            out[r, :k] = np.frombuffer(
                v[:k].encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
    return out, lens


def _compact_alphabet(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    uniq, inv = np.unique(np.concatenate([a.ravel(), b.ravel()]), return_inverse=True)
    am = inv[: a.size].reshape(a.shape).astype(np.int32)
    bm = inv[a.size :].reshape(b.shape).astype(np.int32)
    return am, bm, len(uniq)



def encode_pair(
    s1: pd.Series, s2: pd.Series, max_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Encode a pair of series once for several kernels: callers scoring the
    same (s1, s2) with jw + dl + abbreviation (the Soft-TFIDF ladder) pass
    the result via ``codes=`` and skip two of the three per-row encode
    loops — the only per-row Python in the pair-scoring hot path."""
    a, la = _codes(s1, max_len, _SENT_A)
    b, lb = _codes(s2, max_len, _SENT_B)
    return a, la, b, lb


def levenshtein_batch(s1: pd.Series, s2: pd.Series, max_len: int = 32, codes=None) -> np.ndarray:
    """Classic edit distance per pair, batch-vectorized (full dp matrix —
    per-pair answers are read at (la, lb), see the in-body note)."""
    a, la, b, lb = (
        codes if codes is not None else encode_pair(s1, s2, max_len)
    )
    B, m, n = len(la), a.shape[1], b.shape[1]
    if B == 0:
        return np.zeros(0, dtype=np.int64)
    rows = np.arange(B)
    # answers must be read at (la, lb) which a rolling dp overwrites, so
    # keep the full matrix: (B, m+1, n+1) int32 — 2048×33×33 ≈ 8.9 MB
    d = np.zeros((B, m + 1, n + 1), dtype=np.int32)
    d[:, :, 0] = np.arange(m + 1)[None, :]
    d[:, 0, :] = np.arange(n + 1)[None, :]
    for i in range(1, m + 1):
        ai = a[:, i - 1][:, None]                     # (B,1)
        cost = (ai != b).astype(np.int32)             # (B,n)
        for j in range(1, n + 1):
            d[:, i, j] = np.minimum(
                np.minimum(d[:, i - 1, j] + 1, d[:, i, j - 1] + 1),
                d[:, i - 1, j - 1] + cost[:, j - 1],
            )
    return d[rows, la, lb].astype(np.int64)


def damerau_levenshtein_batch(
    s1: pd.Series, s2: pd.Series, max_len: int = 32, codes=None
) -> np.ndarray:
    """UNRESTRICTED Damerau-Levenshtein (Lowrance–Wagner) per pair,
    batch-vectorized. The `da` last-occurrence table is a (B, alphabet)
    matrix over the batch's compact alphabet; the transposition gather
    d[k, l] is one fancy-index per cell across the batch."""
    a, la, b, lb = (
        codes if codes is not None else encode_pair(s1, s2, max_len)
    )
    B, m, n = len(la), a.shape[1], b.shape[1]
    if B == 0:
        return np.zeros(0, dtype=np.int64)
    am, bm, A = _compact_alphabet(a, b)
    rows = np.arange(B)
    maxdist = np.int32(m + n + 1)
    d = np.zeros((B, m + 2, n + 2), dtype=np.int32)
    d[:, 0, :] = maxdist
    d[:, :, 0] = maxdist
    d[:, 1:, 1] = np.arange(m + 1)[None, :]
    d[:, 1, 1:] = np.arange(n + 1)[None, :]
    da = np.zeros((B, A), dtype=np.int32)
    for i in range(1, m + 1):
        db = np.zeros(B, dtype=np.int32)
        ai = am[:, i - 1]
        eq_row = am[:, i - 1][:, None] == bm          # (B,n)
        for j in range(1, n + 1):
            bj = bm[:, j - 1]
            k = da[rows, bj]                          # last a-row of b[j-1]
            ell = db
            eq = eq_row[:, j - 1]
            cost = (~eq).astype(np.int32)
            trans = d[rows, k, ell] + (i - k - 1) + 1 + (j - ell - 1)
            v = np.minimum(
                np.minimum(d[:, i, j] + cost, d[:, i + 1, j] + 1),
                np.minimum(d[:, i, j + 1] + 1, trans),
            )
            d[:, i + 1, j + 1] = v
            db = np.where(eq, j, db)
        da[rows, ai] = i
    return d[rows, la + 1, lb + 1].astype(np.int64)


# affine-gap costs: a mismatch costs AG_MISMATCH, a gap of length k costs
# AG_GAP_OPEN + k·AG_GAP_EXTEND
AG_MISMATCH, AG_GAP_OPEN, AG_GAP_EXTEND = 2, 2, 1


def affine_gap_batch(
    s1: pd.Series, s2: pd.Series, max_len: int = 32
) -> np.ndarray:
    """Affine-gap alignment DISTANCE (Gotoh) per pair, batch-vectorized.

    Reference analog: the affine-gap scorer backing
    ``possible_abbreviation_with_affine_gap`` (/root/reference/src/affine_gap.c,
    used by src/soft_tfidf.c's match ladder) — abbreviations like
    "intl" → "international" cost one opened gap plus its extensions
    instead of per-character edits, so they score far closer than plain
    Levenshtein reports.

    Costs: match 0, mismatch AG_MISMATCH, and a gap of length k costs
    AG_GAP_OPEN + k·AG_GAP_EXTEND. Three-state Gotoh dp (M = ends in
    match/mismatch, X = gap consuming s2, Y = gap consuming s1) with
    rolling rows; the combined matrix is kept in full so per-row answers
    read at each pair's true lengths.
    """
    a, la, b, lb = encode_pair(s1, s2, max_len)
    B, m, n = len(la), a.shape[1], b.shape[1]
    if B == 0:
        return np.zeros(0, dtype=np.int64)
    rows = np.arange(B)
    INF = np.int32(10 ** 7)
    D = np.zeros((B, m + 1, n + 1), dtype=np.int32)
    gaps = AG_GAP_OPEN + AG_GAP_EXTEND * np.arange(max(m, n) + 1, dtype=np.int32)
    D[:, 0, 1:] = gaps[1 : n + 1][None, :]
    D[:, 1:, 0] = gaps[1 : m + 1][None, :]
    Mp = np.full((B, n + 1), INF, dtype=np.int32)
    Xp = np.full((B, n + 1), INF, dtype=np.int32)
    Yp = np.full((B, n + 1), INF, dtype=np.int32)
    Mp[:, 0] = 0
    Xp[:, 1:] = gaps[1 : n + 1][None, :]
    for i in range(1, m + 1):
        Mc = np.full((B, n + 1), INF, dtype=np.int32)
        Xc = np.full((B, n + 1), INF, dtype=np.int32)
        Yc = np.empty((B, n + 1), dtype=np.int32)
        Yc[:, 0] = gaps[i]
        best_p = np.minimum(np.minimum(Mp, Xp), Yp)
        Yc[:, 1:] = np.minimum(
            np.minimum(Mp[:, 1:], Xp[:, 1:]) + AG_GAP_OPEN + AG_GAP_EXTEND,
            Yp[:, 1:] + AG_GAP_EXTEND,
        )
        cost = (a[:, i - 1][:, None] != b).astype(np.int32) * AG_MISMATCH
        for j in range(1, n + 1):
            Mc[:, j] = best_p[:, j - 1] + cost[:, j - 1]
            Xc[:, j] = np.minimum(
                np.minimum(Mc[:, j - 1], Yc[:, j - 1]) + AG_GAP_OPEN + AG_GAP_EXTEND,
                Xc[:, j - 1] + AG_GAP_EXTEND,
            )
            D[:, i, j] = np.minimum(np.minimum(Mc[:, j], Xc[:, j]), Yc[:, j])
        Mp, Xp, Yp = Mc, Xc, Yc
    return D[rows, la, lb].astype(np.int64)


def _subseq_first(a, la, b, lb) -> np.ndarray:
    """a strictly shorter than b, nonempty, shares b's first character, and
    is a subsequence of b — vectorized pointer advance over b's columns."""
    B, n = len(la), b.shape[1]
    if B == 0:
        return np.zeros(0, dtype=bool)
    ptr = np.zeros(B, dtype=np.int64)
    idx = np.arange(B)
    for j in range(n):
        cur = a[idx, np.minimum(ptr, a.shape[1] - 1)]
        ptr = ptr + ((cur == b[:, j]) & (ptr < la)).astype(np.int64)
    return (ptr == la) & (la >= 1) & (la < lb) & (a[:, 0] == b[:, 0])


def is_abbreviation_batch(
    s1: pd.Series, s2: pd.Series, max_len: int = 32
) -> np.ndarray:
    """Abbreviation-candidate check per pair: s1 (len ≥ 2, strictly shorter)
    shares s2's first character and is a subsequence of s2 — the
    deterministic core of the reference's possible-abbreviation rung
    ("intl" → "international"). Vectorized pointer advance over s2's
    columns."""
    a, la, b, lb = encode_pair(s1, s2, max_len)
    return _subseq_first(a, la, b, lb) & (la >= 2)


def abbrev_flags_batch(
    s1: pd.Series, s2: pd.Series, max_len: int = 32, codes=None
) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric (abbreviation, strict) flags per pair for the Soft-TFIDF
    full match ladder.

    Reference parity (/root/reference/src/string_similarity.c:289-318):

    * ``possible_abbreviation``: the affine-gap optimum matches every
      character of the shorter side (``num_matches == min_len``) and the
      first characters agree. Engine core: the shorter side is a
      first-char-sharing subsequence of the longer — identical on every
      hand-checked golden; unlike :func:`is_abbreviation_batch` this keeps
      the reference's no-minimum-length contract, so a single-character
      prefix ("1" ⊂ "1st") qualifies.
    * ``possible_abbreviation_strict``: one side is a full prefix of the
      other, OR the pair abbreviates and also shares its LAST character
      (common prefix > 0 is implied by the abbreviation flag).

    Returns (abrv, strict) bool arrays; strict is only meaningful where
    abrv holds (exactly how the ladder consults it).
    """
    a, la, b, lb = (
        codes if codes is not None else encode_pair(s1, s2, max_len)
    )
    B = len(la)
    if B == 0:
        z = np.zeros(0, dtype=bool)
        return z, z
    abrv = _subseq_first(a, la, b, lb) | _subseq_first(b, lb, a, la)
    rows = np.arange(B)
    min_len = np.minimum(la, lb)
    k = min(a.shape[1], b.shape[1])
    # sentinel codes differ per side, so padding never matches and the
    # cumulative-product prefix length is naturally capped at min_len
    prefix = (a[:, :k] == b[:, :k]).cumprod(axis=1).sum(axis=1)
    nonempty = (la > 0) & (lb > 0)
    last_eq = nonempty & (
        a[rows, np.maximum(la - 1, 0)] == b[rows, np.maximum(lb - 1, 0)]
    )
    strict = (nonempty & (prefix == min_len)) | (abrv & last_eq)
    return abrv, strict


def jaro_winkler_batch(
    s1: pd.Series, s2: pd.Series, max_len: int = 32, codes=None
) -> np.ndarray:
    """Jaro-Winkler similarity per pair, batch-vectorized: the greedy
    leftmost match scan runs as m argmax passes over a masked (B, n)
    window, transposition counting compacts each side's matches with one
    stable argsort gather. The Winkler boost (prefix scale 0.1 over up to
    4 shared leading chars) applies above a Jaro score of 0.7."""
    a, la, b, lb = (
        codes if codes is not None else encode_pair(s1, s2, max_len)
    )
    B, m, n = len(la), a.shape[1], b.shape[1]
    if B == 0:
        return np.zeros(0, dtype=np.float64)
    rows = np.arange(B)
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # (B,)
    jidx = np.arange(n)[None, :]
    used = np.zeros((B, n), dtype=bool)
    a_match = np.full((B, m), -1, dtype=np.int64)     # matched b-INDEX per a-pos
    for i in range(m):
        in_win = (jidx >= (i - win)[:, None]) & (jidx <= (i + win)[:, None])
        cand = (a[:, i][:, None] == b) & in_win & ~used
        j_star = np.argmax(cand, axis=1)
        found = cand[rows, j_star]
        used[rows[found], j_star[found]] = True
        a_match[found, i] = j_star[found]
    n_match = (a_match >= 0).sum(axis=1)              # (B,)
    # transpositions: a-side matched chars in a-order vs b-side matched
    # chars in b-order; stable argsort moves matches to the front in order
    a_chars = np.where(a_match >= 0, a, -1)
    order_a = np.argsort(a_match < 0, axis=1, kind="stable")
    a_seq = np.take_along_axis(a_chars, order_a, axis=1)       # (B,m)
    b_chars = np.where(used, b, -1)
    order_b = np.argsort(~used, axis=1, kind="stable")
    b_seq = np.take_along_axis(b_chars, order_b, axis=1)       # (B,n)
    width = min(m, n)
    half_t = ((a_seq[:, :width] != b_seq[:, :width])
              & (a_seq[:, :width] >= 0)).sum(axis=1)
    t = half_t // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        mm = n_match.astype(np.float64)
        jaro = np.where(
            n_match > 0,
            (mm / np.maximum(la, 1) + mm / np.maximum(lb, 1) + (mm - t) / np.where(mm == 0, 1, mm)) / 3.0,
            0.0,
        )
    prefix = ((a[:, :4] == b[:, :4]) & (a[:, :4] != _SENT_A)).cumprod(axis=1).sum(axis=1)
    prefix = np.minimum(prefix, np.minimum(la, lb))
    jw = np.where(
        jaro > 0.7,
        jaro + prefix * 0.1 * (1.0 - jaro),
        jaro,
    )
    return np.where((la == 0) | (lb == 0), 0.0, jw)
