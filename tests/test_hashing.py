"""Hashing-core unit tests: determinism, batch-independence, LSH math,
winnow guarantee (the test strategy of SURVEY.md §5 item 1)."""

import numpy as np
import pandas as pd
import pytest

import libpostal_spark.core.hashing as H
from libpostal_spark.config import (
    SIMHASH_BITS,
    SIMHASH_HAMMING_MAX,
    SIMHASH_TABLES,
    WINNOW_GUARANTEE,
    WINNOW_WINDOW,
    PipelineConfig,
)
from libpostal_spark.core.featurize import featurize, jaccard, tokenize_flat

CFG = PipelineConfig()


def _feat(texts):
    return featurize(pd.Series(texts), CFG)


def test_modular_inverse():
    assert (int(H._P) * int(H._Q)) % (1 << 64) == 1


def test_splitmix_bijective_sample():
    x = np.arange(10000, dtype=np.uint64)
    y = H.splitmix64(x)
    assert len(np.unique(y)) == len(x)


def test_token_hash_stable_across_calls():
    u = np.array(["foo", "bar", "baz"], dtype=object)
    a = H.hash_tokens_unique(u, seed=42)
    b = H.hash_tokens_unique(u, seed=42)
    assert np.array_equal(a, b)
    c = H.hash_tokens_unique(u, seed=43)
    assert not np.array_equal(a, c)


def test_window_hash_position_independent():
    """Same token run at different offsets/rows hashes identically."""
    flat1, len1 = tokenize_flat(pd.Series(["a b c d e f g h"]), CFG.seed)
    flat2, len2 = tokenize_flat(pd.Series(["x y z a b c d e f g h"]), CFG.seed)
    h1, _ = H.window_hashes(flat1, len1, 5)
    h2, _ = H.window_hashes(flat2, len2, 5)
    assert set(h1.tolist()) <= set(h2.tolist())


def test_shingles_exact_dup_identical():
    f = _feat(["a b c d e f g", "a b c d e f g"])
    assert np.array_equal(f.shingles[0], f.shingles[1])


def test_shingles_short_row_fallback():
    f = _feat(["a b", "a b", "a c", ""])
    assert len(f.shingles[0]) == 1
    assert np.array_equal(f.shingles[0], f.shingles[1])
    assert not np.array_equal(f.shingles[0], f.shingles[2])
    assert len(f.shingles[3]) == 1  # empty rows share one sentinel shingle


def test_batch_independence():
    texts = [f"tok{i} " * 20 + "common run of tokens here" for i in range(30)]
    full = _feat(texts)
    for lo, hi in [(0, 10), (10, 30), (5, 6)]:
        part = _feat(texts[lo:hi])
        for i in range(hi - lo):
            assert np.array_equal(full.shingles[lo + i], part.shingles[i])
            assert np.array_equal(full.minhash[lo + i], part.minhash[i])
            assert np.array_equal(full.bands[lo + i], part.bands[i])
            assert full.simhash[lo + i] == part.simhash[i]
            assert np.array_equal(full.winnow[lo + i], part.winnow[i])


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(7)
    base = [f"w{int(i)}" for i in rng.integers(0, 5000, 400)]
    variant = list(base)
    for i in rng.integers(0, len(variant), 40):
        variant[i] = f"v{int(i)}"
    f = _feat([" ".join(base), " ".join(variant)])
    true_j = jaccard(f.shingles[0], f.shingles[1])
    est = float(np.mean(f.minhash[0] == f.minhash[1]))
    assert abs(est - true_j) < 0.15  # 128 perms → se ≈ sqrt(j(1-j)/128) ≈ 0.04


def test_band_collision_for_similar():
    f = _feat(["a b c d e f g h i j k l m n o p q r s t"] * 2)
    assert np.array_equal(f.bands[0], f.bands[1])


def test_simhash_hamming_small_for_similar():
    rng = np.random.default_rng(3)
    base = [f"w{int(i)}" for i in rng.integers(0, 5000, 500)]
    variant = list(base)
    variant[10] = "changed"
    f = _feat([" ".join(base), " ".join(variant)])
    x = np.uint64(f.simhash[0]) ^ np.uint64(f.simhash[1])
    hamming = bin(int(x)).count("1")
    assert hamming <= 6


def test_simhash_table_keys_pigeonhole():
    s = np.array([0x0123456789ABCDEF, 0x0123456789ABCDEF], dtype=np.int64)
    k = H.simhash_table_keys(s, tables=4)
    assert np.array_equal(k[0], k[1])
    # flip one bit → still 3 of 4 chunks shared
    s2 = np.array([0x0123456789ABCDEF, 0x0123456789ABCDEE], dtype=np.int64)
    k2 = H.simhash_table_keys(s2, tables=4)
    assert (k2[0] == k2[1]).sum() == 3


def test_simhash_constants_keep_pigeonhole_guarantee():
    """The table keys split the signature evenly, and a hamming distance
    up to SIMHASH_HAMMING_MAX leaves at least one chunk unflipped."""
    assert SIMHASH_BITS % SIMHASH_TABLES == 0
    assert SIMHASH_TABLES >= SIMHASH_HAMMING_MAX + 1


@pytest.mark.parametrize("run_len", [159, 200, 400])
def test_winnow_guarantee(run_len):
    """Common run >= window+select-1 tokens ⇒ >=1 shared fingerprint."""
    assert run_len >= WINNOW_GUARANTEE
    rng = np.random.default_rng(run_len)
    common = " ".join(f"c{int(i)}" for i in rng.integers(0, 10000, run_len))
    a = " ".join(f"a{int(i)}" for i in rng.integers(0, 10000, 300)) + " " + common
    b = common + " " + " ".join(f"b{int(i)}" for i in rng.integers(0, 10000, 300))
    f = _feat([a, b])
    assert len(np.intersect1d(f.winnow[0], f.winnow[1])) >= 1


def test_winnow_no_fp_for_disjoint():
    rng = np.random.default_rng(11)
    a = " ".join(f"a{int(i)}" for i in rng.integers(0, 10000, 500))
    b = " ".join(f"b{int(i)}" for i in rng.integers(0, 10000, 500))
    f = _feat([a, b])
    assert len(np.intersect1d(f.winnow[0], f.winnow[1])) == 0


def test_winnow_short_rows_empty():
    f = _feat(["a b c", " ".join(f"t{i}" for i in range(WINNOW_WINDOW - 1))])
    assert len(f.winnow[0]) == 0
    assert len(f.winnow[1]) == 0


def test_max_shingles_cap():
    flat, lengths = tokenize_flat(
        pd.Series([" ".join(f"t{i}" for i in range(100))]), CFG.seed, CFG.hash_mode
    )
    _, off = H.shingle_sets(flat, lengths, CFG.k_shingle, 10)
    assert off[1] - off[0] == 10


def test_minhash_limit_perm_is_prefix_stable():
    """limit_perm evaluates the FIRST k permutations of the FULL parameter
    stream: the lean bands-only featurizer (streaming bands_limit) keys
    into the same LSH universe as the full featurizer, bit-for-bit."""
    import numpy as np

    from libpostal_spark.core.hashing import minhash_signatures

    rng = np.random.default_rng(7)
    values = rng.integers(0, 1 << 63, size=200, dtype=np.uint64).view(np.int64)
    offsets = np.array([0, 13, 13, 50, 120, 200])
    full = minhash_signatures(values, offsets, 128, seed=42)
    lean = minhash_signatures(values, offsets, 128, seed=42, limit_perm=16)
    assert lean.shape == (5, 16)
    assert (lean == full[:, :16]).all()
    # and a SHORTER parameter draw would NOT match (the b-stream shifts) —
    # the reason limit_perm exists instead of just passing num_perm=16
    naive = minhash_signatures(values, offsets, 16, seed=42)
    assert not (naive == full[:, :16]).all()


def test_featurize_bands_equals_full_prefix():
    import numpy as np
    import pandas as pd

    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.core.featurize import featurize, featurize_bands

    cfg = PipelineConfig()
    canon = pd.Series(
        ["def f x return x + 1", "class a pass", "", "import os sys json re"]
    )
    full = featurize(canon, cfg)
    lean = featurize_bands(canon, cfg, n_bands=4)
    assert lean.shape == (4, 4)
    assert (np.asarray(full.bands)[:, :4] == lean).all()
