"""One-pass batch featurizer: canonical strings → all dedup features.

Bridges the pandas/Arrow batch world to the numpy hashing core. The token
vocabulary is hashed once per batch via ``pd.factorize`` (source code has a
small vocabulary relative to token count), then every feature — shingle set,
MinHash signature, LSH band hashes, SimHash, SimHash table keys, winnowed
substring fingerprints — is derived from the same flat uint64 token-hash
array with global numpy ops.

Reference analog: one call to ``near_dupe_hashes`` per record emitted every
key family at once (/root/reference/src/near_dupe.c:643-1216); here one batch
pass emits every key family for every row at once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..config import (
    MAX_SHINGLES_PER_DOC,
    SIMHASH_BITS,
    SIMHASH_TABLES,
    WINNOW_GUARANTEE,
    WINNOW_SELECT,
    WINNOW_WINDOW,
    PipelineConfig,
)
from . import hashing as H
from .canonicalize import canonicalize_batch


def canonicalize(content: pd.Series, cfg: PipelineConfig) -> pd.Series:
    """Raw content → canon strings under ``cfg``: the one mapping from the
    config's canonicalization options to ``canonicalize_batch``, shared by
    the featurize and band-keys UDFs and the reference rule (eval)."""
    return canonicalize_batch(
        content,
        expansions=dict(cfg.token_expansions) if cfg.token_expansions else None,
        transliterate=cfg.transliterate,
        fold_spelled_numbers=cfg.fold_spelled_numbers,
        numex_lang=cfg.numex_lang,
    )


@dataclass
class BatchFeatures:
    n_tokens: np.ndarray          # int32 per row
    shingles: list                # list of int64 np arrays (sorted distinct)
    minhash: np.ndarray           # (n, num_perm) uint64
    bands: np.ndarray             # (n, bands) int64
    simhash: np.ndarray           # (n,) int64
    simhash_keys: np.ndarray      # (n, tables) int64
    winnow: list                  # list of int64 np arrays (sorted distinct)


try:  # pragma: no cover - import guard
    import pyarrow as _pa
    import pyarrow.compute as _pc
except ImportError:  # pragma: no cover
    _pa = None


def _tokenize_flat_pandas(
    canon: pd.Series, seed: int, hash_mode: str
) -> tuple[np.ndarray, np.ndarray]:
    """Reference pandas implementation (fallback for content Arrow cannot
    hold, e.g. lone surrogates)."""
    toks = canon.fillna("").str.split(" ")
    # empty string splits to [''] — normalize to []
    lengths = toks.map(len).to_numpy(dtype=np.int64)
    empty = canon.fillna("").str.len().to_numpy() == 0
    lengths[empty] = 0
    exploded = toks[~pd.Series(empty, index=toks.index)].explode()
    if len(exploded) == 0:
        return np.empty(0, dtype=np.uint64), lengths
    codes, uniques = pd.factorize(exploded.to_numpy(dtype=object))
    uniq_hashes = H.hash_tokens_unique(
        np.asarray(uniques, dtype=object), seed, hash_mode
    )
    flat = uniq_hashes[codes]
    return flat, lengths


def tokenize_flat(
    canon: pd.Series, seed: int, hash_mode: str = "blake2b"
) -> tuple[np.ndarray, np.ndarray]:
    """canon strings → (flat token-hash uint64 array, per-row lengths).

    Arrow path: one ``split_pattern`` + ``dictionary_encode`` per batch —
    the vocabulary dedup runs in Arrow's C++ hash table instead of a pandas
    explode + factorize over per-row Python lists (measured ~4x on the e2e
    corpus; identical flat hashes and lengths, pinned in
    tests/test_canonicalize_arrow.py). Per-token semantics match Python
    ``str.split(" ")`` exactly, including empty tokens from repeated spaces;
    an all-empty row contributes 0 tokens (the [''] normalization).
    """
    if _pa is None:
        return _tokenize_flat_pandas(canon, seed, hash_mode)
    s = canon.fillna("")
    try:
        arr = _pa.array(s.to_numpy(dtype=object), type=_pa.large_string())
    except (_pa.ArrowInvalid, _pa.ArrowTypeError):
        return _tokenize_flat_pandas(canon, seed, hash_mode)
    lst = _pc.split_pattern(arr, " ")
    raw_len = _pc.list_value_length(lst).to_numpy(zero_copy_only=False)
    raw_len = raw_len.astype(np.int64)
    empty = _pc.equal(_pc.binary_length(arr), 0).to_numpy(
        zero_copy_only=False
    )
    lengths = raw_len.copy()
    lengths[empty] = 0
    d = _pc.dictionary_encode(_pc.list_flatten(lst))
    codes = d.indices.to_numpy(zero_copy_only=False)
    if empty.any():
        codes = codes[np.repeat(~empty, raw_len)]
    if len(codes) == 0:
        return np.empty(0, dtype=np.uint64), lengths
    uniques = d.dictionary.to_numpy(zero_copy_only=False)
    uniq_hashes = H.hash_tokens_unique(
        np.asarray(uniques, dtype=object), seed, hash_mode
    )
    return uniq_hashes[codes], lengths


def featurize(canon: pd.Series, cfg: PipelineConfig) -> BatchFeatures:
    flat, lengths = tokenize_flat(canon, cfg.seed, cfg.hash_mode)
    # ONE prefix pass over the flat batch shared by every rolling-hash
    # consumer (k-gram shingles, the short-row fallback, winnow windows) —
    # previously computed up to 3x per batch in the hot featurize path
    prefix = H._prefix_sums(flat) if len(flat) else None
    sh_vals, sh_off = H.shingle_sets(
        flat, lengths, cfg.k_shingle, MAX_SHINGLES_PER_DOC, prefix=prefix
    )
    sig = H.minhash_signatures(sh_vals, sh_off, cfg.num_perm, cfg.seed)
    bands = H.band_hashes(sig, cfg.bands, cfg.rows_per_band)
    simhash = H.simhash_values(sh_vals, sh_off)
    sim_keys = H.simhash_table_keys(simhash, SIMHASH_TABLES, SIMHASH_BITS)
    wn_vals, wn_off = H.winnow_fingerprints(
        flat, lengths, WINNOW_WINDOW, WINNOW_SELECT, prefix=prefix
    )
    n = len(lengths)
    shingles = [sh_vals[sh_off[i] : sh_off[i + 1]] for i in range(n)]
    winnow = [wn_vals[wn_off[i] : wn_off[i + 1]] for i in range(n)]
    return BatchFeatures(
        n_tokens=lengths.astype(np.int32),
        shingles=shingles,
        minhash=sig,
        bands=bands,
        simhash=simhash,
        simhash_keys=sim_keys,
        winnow=winnow,
    )


def featurize_bands(
    canon: pd.Series, cfg: PipelineConfig, n_bands: int
) -> np.ndarray:
    """(n × n_bands) int64: ONLY the first ``n_bands`` MinHash band keys.

    The lean featurizer for consumers that key on a band subset (streaming
    ``bands_limit``): same tokenize + shingle pass, but the MinHash loop
    evaluates just the n_bands·rows_per_band needed permutations
    (limit_perm keeps the full-width parameter stream, so the values equal
    the full featurizer's first columns bit-for-bit) and SimHash / winnow /
    per-row shingle lists are skipped entirely — those key families aren't
    consumed. ~8x less signature math at bands_limit=4 of 32.
    """
    flat, lengths = tokenize_flat(canon, cfg.seed, cfg.hash_mode)
    sh_vals, sh_off = H.shingle_sets(
        flat, lengths, cfg.k_shingle, MAX_SHINGLES_PER_DOC
    )
    sig = H.minhash_signatures(
        sh_vals, sh_off, cfg.num_perm, cfg.seed,
        limit_perm=n_bands * cfg.rows_per_band,
    )
    return H.band_hashes(sig, n_bands, cfg.rows_per_band)


def pair_jaccard_batch(
    c1: pd.Series, c2: pd.Series, cfg: PipelineConfig
) -> pd.Series:
    """Exact shingle-set Jaccard for aligned canon-string pairs.

    Batch-dedups the union of both columns (a representative appearing in
    many candidate pairs is shingled once), then intersects per pair.
    Semantics identical to jaccard(shingle_sets(c1), shingle_sets(c2)).
    """
    n = len(c1)
    if n == 0:
        return pd.Series([], dtype="float64")
    all_canon = pd.concat([c1, c2], ignore_index=True).fillna("")
    uniq, inv = np.unique(all_canon.to_numpy(dtype=object), return_inverse=True)
    flat, lengths = tokenize_flat(
        pd.Series(uniq, dtype=object), cfg.seed, cfg.hash_mode
    )
    vals, off = H.shingle_sets(
        flat, lengths, cfg.k_shingle, MAX_SHINGLES_PER_DOC
    )
    sets = [vals[off[j] : off[j + 1]] for j in range(len(uniq))]
    out = np.empty(n, dtype=np.float64)
    i1, i2 = inv[:n], inv[n:]
    for i in range(n):
        a, b = sets[i1[i]], sets[i2[i]]
        if len(a) == 0 and len(b) == 0:
            out[i] = 1.0
            continue
        inter = len(np.intersect1d(a, b, assume_unique=True))
        out[i] = inter / (len(a) + len(b) - inter)
    return pd.Series(out)


def pair_lcs_batch(
    c1: pd.Series, c2: pd.Series, cfg: PipelineConfig, with_flags: bool = False
):
    """Verified shared-run length per aligned canon-string pair (vectorized).

    Returns, per pair, the length of a maximal common token run of at least
    ``WINNOW_WINDOW`` tokens — 0 if none exists. Decision-exact: a run of
    >= W tokens exists iff some W-token window of one side equals a W-token
    window of the other, so we intersect rolling W-window hashes (computed
    ONCE per unique canon for the whole batch), then verify matched
    windows token-for-token (hash collisions rejected) and extend each run
    outward to its full length. ALL (pa, pb) alignments of equal window
    hashes are candidates (per-diagonal span pruning keeps this bounded),
    so below the accept bar (``WINNOW_GUARANTEE``) the reported length is
    the MAXIMUM verified run. The search stops at the first verified run
    that reaches the bar, so a pair with several runs at or above it
    reports one of them, not necessarily the longest; verify's accept
    decision is the same either way. tests/test_lcs_verify.py checks this
    contract against an exact suffix-automaton LCS (~10ms/pair in pure
    Python, once the confirm-stage bottleneck).

    ``with_flags=True`` returns a DataFrame (run, exhausted) instead of the
    bare run series: ``exhausted`` marks pairs whose alignment budget ran
    out before every candidate alignment was tried, so a (theoretical)
    adversarial pair of thousands of repeated sub-bar blocks that
    under-reports its max run is VISIBLE data, not a silent cap — the
    per-pair analog of the bucket_stats ledger.
    """
    from . import hashing as H

    n = len(c1)
    W = WINNOW_WINDOW
    if n == 0:
        empty = pd.Series([], dtype="int32")
        if with_flags:
            return pd.DataFrame(
                {"run": empty, "exhausted": pd.Series([], dtype=bool)}
            )
        return empty
    all_canon = pd.concat([c1, c2], ignore_index=True).fillna("")
    uniq, inv = np.unique(all_canon.to_numpy(dtype=object), return_inverse=True)
    flat, lengths = tokenize_flat(pd.Series(uniq, dtype=object), cfg.seed, cfg.hash_mode)
    wh, row = H.window_hashes(flat, lengths, W)
    bounds = np.searchsorted(row, np.arange(len(uniq) + 1))
    toks = [u.split(" ") if u else [] for u in uniq]
    # per-unique window-hash slice (index within slice == token offset) plus
    # a sorted view for fast intersection
    slices, orders, sorteds = [], [], []
    for i in range(len(uniq)):
        arr = wh[bounds[i] : bounds[i + 1]]
        order = np.argsort(arr, kind="stable")
        slices.append(arr)
        orders.append(order)
        sorteds.append(arr[order])

    target = WINNOW_GUARANTEE

    def run_len(i1: int, i2: int) -> tuple[int, bool]:
        """(MAX verified common-run length, budget-exhausted flag); early
        exit once the length reaches the accept bar. A pair can carry
        several distinct runs — e.g. a 120-token and a 200-token clone —
        and the confirm rule needs the maximum, not the run around
        whichever window hash sorts first. Verified spans are tracked so
        co-run window matches aren't re-extended."""
        sa, sb = sorteds[i1], sorteds[i2]
        if len(sa) == 0 or len(sb) == 0:
            return 0, False
        a, b = toks[i1], toks[i2]
        best = 0
        # ALL window-hash matches, not just intersect1d's first-occurrence
        # pairing: a window value repeated on either side has several
        # (pa, pb) alignments and the maximal run may live on any diagonal.
        sb_arr = sorteds[i2]
        lo_idx = np.searchsorted(sb_arr, sorteds[i1], side="left")
        hi_idx = np.searchsorted(sb_arr, sorteds[i1], side="right")
        # spans already verified, PER DIAGONAL (pb - pa): a later match on
        # the same diagonal inside a measured span is redundant, but the
        # same pa on a different diagonal is a different alignment and must
        # still be tried (the round-3 covered-by-pa-only skip dropped those
        # and under-reported the max run)
        covered: dict[int, list[tuple[int, int]]] = {}
        # bounded-attempts guard: with real (collision-free) hashes every
        # attempted alignment verifies and extends, so runs >= the accept
        # bar exit on their first alignment; exhausting the budget requires
        # thousands of REPEATED sub-bar (96..158-token) blocks on both
        # sides. Beyond the budget we return the best run measured so far —
        # bounded work per pair, never a hung executor.
        budget = 4096
        for m in np.nonzero(hi_idx > lo_idx)[0]:
            pa = int(orders[i1][m])
            for bm in range(int(lo_idx[m]), int(hi_idx[m])):
                if budget <= 0:
                    return best, True
                budget -= 1
                pb = int(orders[i2][bm])
                diag = pb - pa
                if any(s <= pa < e for s, e in covered.get(diag, ())):
                    continue
                if a[pa : pa + W] != b[pb : pb + W]:
                    continue                   # hash collision: reject
                lo = 0
                while (
                    pa - lo - 1 >= 0
                    and pb - lo - 1 >= 0
                    and a[pa - lo - 1] == b[pb - lo - 1]
                ):
                    lo += 1
                hi = W
                while (
                    pa + hi < len(a)
                    and pb + hi < len(b)
                    and a[pa + hi] == b[pb + hi]
                ):
                    hi += 1
                covered.setdefault(diag, []).append((pa - lo, pa + hi))
                best = max(best, lo + hi)
                if best >= target:
                    return best, False         # decision-sufficient
        return best, False

    i1s, i2s = inv[:n], inv[n:]
    cache: dict[tuple[int, int], tuple[int, bool]] = {}
    out = np.empty(n, dtype=np.int32)
    exhausted = np.zeros(n, dtype=bool)
    for i in range(n):
        key = (int(i1s[i]), int(i2s[i]))
        if key not in cache:
            cache[key] = run_len(*key)
        out[i], exhausted[i] = cache[key]
    if with_flags:
        return pd.DataFrame({"run": out, "exhausted": exhausted})
    return pd.Series(out)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-distinct shingle arrays (tests/goldens).

    Production verify batches this through ``pair_jaccard_batch`` (same
    semantics, vectorized with per-batch canon dedup;
    /root/reference/src/jaccard.c:3-69 is the scalar analog).
    """
    if len(a) == 0 and len(b) == 0:
        return 1.0
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter / (len(a) + len(b) - inter)
