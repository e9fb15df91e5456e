"""Pipeline configuration.

One flat dataclass, mirroring the reference's flat options structs
(``libpostal_normalize_options_t``, src/libpostal.h:110-136):
like the reference, it holds only the values a caller picks. Values fixed
in code are the module constants below.

``config_hash`` keys every checkpoint table so a changed config never silently
reuses stale intermediate state (the resume ledger joins on it). It covers
the semantic constants too, so editing one also invalidates checkpoints.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

# fuzzy-dedupe grade thresholds: likely_dupe_threshold / needs_review_threshold
# (the reference's src/libpostal.c:185-193)
LIKELY_THRESHOLD = 0.9
NEEDS_REVIEW_THRESHOLD = 0.7

# --- SimHash pass (recall booster for near-exact files) ---
SIMHASH_BITS = 64
SIMHASH_TABLES = 4           # split signature into T chunks; pairs share a chunk
# pigeonhole guarantee: hamming(simhash_a, simhash_b) <= SIMHASH_HAMMING_MAX
# forces at least one shared chunk key, hence candidacy — requires
# SIMHASH_BITS % SIMHASH_TABLES == 0 and SIMHASH_TABLES >= SIMHASH_HAMMING_MAX + 1
# (both pinned in tests/test_hashing.py)
SIMHASH_HAMMING_MAX = 3

# --- winnowed substring pass (long exact clones; MOSS-style winnowing) ---
# guarantees a shared fingerprint for any common token run of length
# >= WINNOW_WINDOW + WINNOW_SELECT - 1  (96+64-1 = 159 < the 200-token
# clone_embed floor in FIXTURES.md §2.8)
WINNOW_WINDOW = 96           # tokens per rolling fingerprint window
WINNOW_SELECT = 64           # winnowing selection window (over window hashes)
# The run length at which a shared selected fingerprint is GUARANTEED. This
# is also the verify accept bar: shorter shared runs are only
# probabilistically winnow-visible, so accepting them would make cluster
# membership depend on which fingerprints winnowing happened to select —
# the bar keeps the engine's edge rule deterministic and equal to the
# oracle's.
WINNOW_GUARANTEE = WINNOW_WINDOW + WINNOW_SELECT - 1

# buckets above max_bucket_size pair via salting up to this size; beyond it,
# star+rep-clique only (O(n)); n^1.5 pair volume is the salting contract
MAX_SALTED_BUCKET = 1_000_000
# permutation cap analog (EXCESSIVE_PERMUTATIONS, src/expand.c:29) — bounds
# per-row memory
MAX_SHINGLES_PER_DOC = 20000


@dataclass(frozen=True)
class PipelineConfig:
    # --- shingling (analog of near-dupe quadgrams, src/near_dupe.c:266-281) ---
    k_shingle: int = 5           # token k-grams over the canonical token stream
                                 # (rows shorter than k fall back to a whole-doc shingle)
    # token-hash function: "blake2b" (production) or "sha256" — the
    # oracle-REPLAYABLE mode: DuckDB can compute sha256 natively, so an
    # external SQL twin can rebuild every downstream hash (rolling shingle
    # hashes, MinHash permutations, SimHash, band keys) with HUGEINT
    # mod-2^64 arithmetic. Identical machinery either way; only the 64-bit
    # base hash of each unique token differs.
    hash_mode: str = "blake2b"
    # Latin-ASCII transliteration (NFD + strip combining marks + fold table;
    # analog of the reference's CLDR Latin-ASCII transform,
    # /root/reference/src/transliterate.c:669). Off by default: source-code
    # identifiers are overwhelmingly ASCII and the fold costs a pass over
    # non-ASCII rows only.
    transliterate: bool = False

    # --- MinHash / LSH (replaces near_dupe_hashes' hand-built key families) ---
    num_perm: int = 128          # signature length
    bands: int = 32              # b
    rows_per_band: int = 4       # r; b*r must equal num_perm
    # P(collide at jaccard t) = 1-(1-t^r)^b; at t=0.7, b=32,r=4 → 0.99985

    # --- canonicalization options (analog of libpostal_normalize_options_t) ---
    # abbrev → canonical token rewrites applied after tokenization (the code
    # analog of address-dictionary expansion); empty by default — expanding
    # e.g. ("cfg","config") equates identifiers that differ only by the
    # abbreviation, exactly like "St" ≡ "Street" in the reference
    token_expansions: tuple = ()
    # numex: spelled-out English numbers → numeric tokens with real
    # left-to-right composition ("three hundred twenty one" → 321; analog
    # of src/numex.c:1260)
    fold_spelled_numbers: bool = False
    # numex rule-table language: "en" (core/numex.py), "fr"/"de"/"es"
    # (core/numex_ml.py), "it"/"pt"/"nl"/"ru" (core/numex_ml2.py), or
    # "zh"/"ja" (core/numex_cjk.py — Han numerals; run with
    # transliterate=False so the pinyin fold doesn't consume the
    # numerals first) — the reference applies the table of the language
    # in effect (src/numex.c:1260, data src/numex_data.c)
    numex_lang: str = "en"

    # --- verify (analog of is_dupe thresholds, src/libpostal.c:185-193) ---
    jaccard_threshold: float = NEEDS_REVIEW_THRESHOLD

    # --- skew handling (boilerplate adversary, FIXTURES.md §2.9) ---
    max_bucket_size: int = 64        # buckets larger than this pair via salting

    # --- clustering ---
    # confirmed-pair sets at or below this size cluster via driver-side
    # union-find (one collect); larger sets run distributed
    # large-star/small-star. Post-exact-contraction pair counts are tiny
    # relative to input rows, so this threshold is rarely exceeded below
    # ~10^8 input files.
    cc_driver_max_edges: int = 2_000_000

    seed: int = 42

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) != num_perm ({self.num_perm})"
            )

    @property
    def config_hash(self) -> str:
        """16-hex digest over every semantics-affecting field and constant
        (checkpoint key). The constants hash under the field names they
        had when they were config fields, and the two number folds that
        are no longer offered hash as off, so the digest of every config
        is the same as before they left the dataclass."""
        d = asdict(self)
        d.pop("cc_driver_max_edges")     # CC routing must not change results
        d.update(
            likely_threshold=LIKELY_THRESHOLD,
            simhash_bits=SIMHASH_BITS,
            simhash_tables=SIMHASH_TABLES,
            simhash_hamming_max=SIMHASH_HAMMING_MAX,
            winnow_window=WINNOW_WINDOW,
            winnow_select=WINNOW_SELECT,
            max_salted_bucket=MAX_SALTED_BUCKET,
            max_shingles_per_doc=MAX_SHINGLES_PER_DOC,
            fold_numbers=False,
            fold_roman_numerals=False,
        )
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = PipelineConfig()
