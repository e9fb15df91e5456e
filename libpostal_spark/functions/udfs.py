"""Pandas UDF wrappers around the numpy cores.

The engine's entire Python surface is these vectorized UDFs — everything
else is JVM-side DataFrame expressions. This mirrors how the reference is
"one big UDF library" consumed from a MapReduce driver (SURVEY.md §2.9), but
batched over Arrow instead of row-at-a-time C calls.

Design note (scale): the featurize UDF emits only the FIXED-WIDTH
features — band hashes, simhash, simhash table keys, winnow fingerprints,
counts — plus the canon string, a lean ~300 B/row signature profile. The
verify stage re-derives shingle sets from canon strings for just the
candidate pairs (make_pair_confirm_udf, per-batch dedup): pay CPU per pair,
not bytes per row — storing per-row shingle arrays costs more in cache and
join-shuffle bytes than the Python work it saves. The raw 128-perm MinHash
signature can be emitted for debugging/parity with FIXTURES.md §4 via
emit_minhash=True.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..core.canonicalize import canonicalize_batch
from ..core.featurize import (
    canonicalize,
    featurize,
    pair_jaccard_batch,
    pair_lcs_batch,
)


def feature_schema(emit_minhash: bool = False) -> T.StructType:
    fields = [
        T.StructField("canon", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("n_shingles", T.IntegerType()),
        T.StructField("simhash", T.LongType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
        T.StructField("simhash_keys", T.ArrayType(T.LongType())),
        T.StructField("winnow", T.ArrayType(T.LongType())),
    ]
    if emit_minhash:
        fields.append(T.StructField("minhash", T.ArrayType(T.LongType())))
    return T.StructType(fields)


def make_canonicalize_udf(
    expansions: dict[str, str] | None = None,
    transliterate: bool = False,
    fold_spelled_numbers: bool = False,
    fold_roman: bool = False,
    numex_lang: str = "en",
    translit_lang: str | None = None,
):
    """content:string -> canon:string (vectorized; analog of
    expand_address_root, /root/reference/src/expand.c:1653-1655). Pass an
    expansion dictionary (single tokens and multi-token phrases; see
    libpostal_spark.dictionaries) to fold abbreviation variants, the analog
    of dictionary-driven expansion in expand_address; transliterate /
    fold_spelled_numbers / fold_roman switch on the Latin-ASCII and numex
    stages (same flags as PipelineConfig)."""

    @F.pandas_udf(T.StringType())
    def canonicalize_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in it:
            yield canonicalize_batch(
                content,
                expansions=expansions,
                transliterate=transliterate,
                fold_spelled_numbers=fold_spelled_numbers,
                fold_roman=fold_roman,
                numex_lang=numex_lang,
                translit_lang=translit_lang,
            )

    return canonicalize_udf


def make_canonicalize_routed_numex_udf():
    """(content, lang) -> canon with per-ROW numex-language routing in ONE
    Arrow UDF — the production analog of the reference applying the numex
    table of the language IN EFFECT per record (the language classifier's
    output selects the table, src/numex.c:1260): inside each batch the
    rows are grouped by their lang value and each group folds vectorized
    with that language's rule table.  One UDF evaluation per row, however
    many languages are live — a CASE chain of per-language UDFs would
    evaluate EVERY branch's UDF on every batch (Spark does not
    short-circuit UDF branches).

    Per-language stage settings mirror the per-arm harness configs: every
    language folds spelled and roman numerals; non-Latin-numeral languages (zh/ja) skip the transliterate stage (the
    Han-pinyin fold would consume the numerals before numex), English
    needs no transliteration, every other language runs it.  Unknown lang
    values fall back to the English table.
    """
    from ..core.numex import KNOWN_NUMEX_LANGS

    def _cfg(lv: str) -> dict:
        lang = lv if lv in KNOWN_NUMEX_LANGS else "en"
        return dict(
            fold_spelled_numbers=True,
            fold_roman=True,
            transliterate=lang not in ("en", "zh", "ja"),
            numex_lang=lang,
        )

    @F.pandas_udf(T.StringType())
    def routed_udf(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for content, lang in it:
            out = pd.Series("", index=content.index, dtype=object)
            for lv in lang.fillna("").unique():
                m = (lang.fillna("") == lv).to_numpy()
                out[m] = canonicalize_batch(content[m], **_cfg(lv))
            yield out

    return routed_udf


def make_featurize_udf(cfg: PipelineConfig, emit_minhash: bool = False):
    """content:string -> struct(canon + fixed-width signature features).

    Canonicalization and featurization run in ONE Arrow pass — the raw
    content crosses into Python once and only the (smaller) canon string
    plus fixed-width features cross back.
    """

    @F.pandas_udf(feature_schema(emit_minhash))
    def featurize_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for content in it:
            canon = canonicalize(content, cfg)
            f = featurize(canon, cfg)
            out = {
                "canon": canon,
                "n_tokens": f.n_tokens,
                "n_shingles": np.asarray(
                    [len(s) for s in f.shingles], dtype=np.int32
                ),
                "simhash": f.simhash,
                "bands": list(f.bands),
                "simhash_keys": list(f.simhash_keys),
                "winnow": f.winnow,
            }
            if emit_minhash:
                out["minhash"] = list(f.minhash.view(np.int64))
            yield pd.DataFrame(out)

    return featurize_udf


def make_band_keys_udf(cfg: PipelineConfig, n_bands: int):
    """content:string -> array<long>: canonicalize + ONLY the first
    ``n_bands`` MinHash band keys (core/featurize.featurize_bands). The
    lean streaming featurizer: a bands_limit consumer pays for exactly the
    key family it reads — same canon stage, ~1/8 of the signature math at
    4 of 32 bands, and bit-identical keys to the full featurizer's prefix
    (limit_perm parameter-stream invariant, pinned in tests)."""
    from ..core.featurize import featurize_bands

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in it:
            canon = canonicalize(content, cfg)
            yield pd.Series(list(featurize_bands(canon, cfg, n_bands)))

    return band_keys_udf


def make_strsim_udf(max_len: int = 32):
    """(s1, s2) -> struct(lev, dl, jw): classic Levenshtein, UNRESTRICTED
    Damerau-Levenshtein, and Jaro-Winkler similarity over the first
    max_len chars — one Arrow pass through the batch kernels in
    core/strsim.py (reference analogs: src/damerau_levenshtein.c,
    src/jaro.c)."""
    from ..core import strsim

    schema = T.StructType(
        [
            T.StructField("lev", T.LongType()),
            T.StructField("dl", T.LongType()),
            T.StructField("jw", T.DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def strsim_udf(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for s1, s2 in it:
            codes = strsim.encode_pair(s1, s2, max_len)
            yield pd.DataFrame(
                {
                    "lev": strsim.levenshtein_batch(s1, s2, max_len, codes=codes),
                    "dl": strsim.damerau_levenshtein_batch(s1, s2, max_len, codes=codes),
                    "jw": strsim.jaro_winkler_batch(s1, s2, max_len, codes=codes),
                }
            )

    return strsim_udf


def make_ladder_udf(max_len: int = 32):
    """(tok_a, tok_b) -> struct(jw, dl, abrv, strict): everything the
    Soft-TFIDF FULL match ladder (reference src/soft_tfidf.c:240-465)
    needs per candidate token pair, in ONE Arrow pass — Jaro-Winkler,
    unrestricted Damerau-Levenshtein, and the symmetric
    possible-abbreviation / strict flags from core/strsim.py."""
    from ..core import strsim

    schema = T.StructType(
        [
            T.StructField("jw", T.DoubleType()),
            T.StructField("dl", T.LongType()),
            T.StructField("abrv", T.BooleanType()),
            T.StructField("strict", T.BooleanType()),
        ]
    )

    @F.pandas_udf(schema)
    def ladder_udf(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for s1, s2 in it:
            codes = strsim.encode_pair(s1, s2, max_len)
            abrv, strict = strsim.abbrev_flags_batch(
                s1, s2, max_len, codes=codes
            )
            yield pd.DataFrame(
                {
                    "jw": strsim.jaro_winkler_batch(s1, s2, max_len, codes=codes),
                    "dl": strsim.damerau_levenshtein_batch(s1, s2, max_len, codes=codes),
                    "abrv": abrv,
                    "strict": strict,
                }
            )

    return ladder_udf


def make_affine_gap_udf():
    """(s1, s2) -> struct(gap_cost, is_abbrev): Gotoh affine-gap alignment
    distance + the abbreviation-candidate check over each string's first
    32 chars (core/strsim.py; reference analogs src/affine_gap.c and
    soft_tfidf.c's abbreviation rung)."""
    from ..core import strsim

    schema = T.StructType(
        [
            T.StructField("gap_cost", T.LongType()),
            T.StructField("is_abbrev", T.BooleanType()),
        ]
    )

    @F.pandas_udf(schema)
    def affine_gap_udf(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for s1, s2 in it:
            yield pd.DataFrame(
                {
                    "gap_cost": strsim.affine_gap_batch(s1, s2, max_len=32),
                    "is_abbrev": strsim.is_abbreviation_batch(
                        s1, s2, max_len=32),
                }
            )

    return affine_gap_udf


def make_double_metaphone_udf():
    """name:string -> struct(primary, secondary): full-length Double
    Metaphone codes (core/metaphone.py; reference
    src/double_metaphone.c:1-980, emitted as name blocking keys at
    src/near_dupe.c:389). Each Arrow batch computes distinct values once."""
    from ..core.metaphone import double_metaphone_batch

    schema = T.StructType(
        [
            T.StructField("primary", T.StringType()),
            T.StructField("secondary", T.StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def double_metaphone_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for names in it:
            codes = double_metaphone_batch(names)
            yield pd.DataFrame(
                {
                    "primary": [c[0] if c else None for c in codes],
                    "secondary": [c[1] if c else None for c in codes],
                }
            )

    return double_metaphone_udf


def make_pair_confirm_udf(cfg: PipelineConfig):
    """(canon1, canon2, substring_hit) -> struct(jaccard, lcs_tokens).

    ONE Arrow pass for the whole pairwise confirm: exact shingle-set Jaccard
    for every row (pair_jaccard_batch, per-batch canon dedup) plus the
    substring verifier (pair_lcs_batch: rolling-window hash intersect +
    exact token verify + extension) for the rows that need it — winnow hits
    whose jaccard is below the confirm threshold. lcs_tokens is a verified
    shared run, not necessarily the longest: the verifier stops at the
    first run that reaches ``WINNOW_GUARANTEE``, so a pair accepted on it
    reports at least that bar. lcs_tokens = -1 marks rows
    where the run check was skipped; lcs_exhausted marks rows whose
    alignment budget ran out (truncated verification is visible data — the
    no-silent-caps contract). Fused because two chained pandas UDFs
    would ship every pair's canon strings across the Arrow boundary twice.
    """
    schema = T.StructType(
        [
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("lcs_tokens", T.IntegerType()),
            T.StructField("lcs_exhausted", T.BooleanType()),
        ]
    )

    @F.pandas_udf(schema)
    def pair_confirm_udf(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for c1, c2, hit in it:
            jac = pair_jaccard_batch(c1, c2, cfg)
            lcs = pd.Series(np.full(len(c1), -1, dtype=np.int32))
            exh = pd.Series(np.zeros(len(c1), dtype=bool))
            need = (
                (jac < cfg.jaccard_threshold).to_numpy()
                & hit.fillna(False).to_numpy(dtype=bool)
            )
            if need.any():
                res = pair_lcs_batch(c1[need], c2[need], cfg, with_flags=True)
                lcs[need] = res["run"].to_numpy()
                exh[need] = res["exhausted"].to_numpy()
            yield pd.DataFrame(
                {"jaccard": jac, "lcs_tokens": lcs, "lcs_exhausted": exh}
            )

    return pair_confirm_udf


def make_expand_udf(
    expansions: dict[str, str] | None, max_expansions: int = 64
):
    """content -> struct(canon_full, canon_root, n_matches, n_alternatives).

    The expand_address alternation surface: full (unexpanded) + root (all
    dictionary matches replaced) forms plus the capped cross-product size.
    The alternatives LIST itself is available via
    core.canonicalize.expand_alternatives_tokens; this UDF projects the
    SQL-twinnable summary for the harness.

    Fully vectorized for single-alternative dictionaries (every shipped
    one): canon_root is the chained doubled-space REPLACE pass
    (rewrite_joined_batch — the same C-loop computation the SQL twin runs),
    n_matches its running match count, and n_alternatives = min(2^m, cap)
    because each of the m matched segments contributes {replacement,
    original}. Dictionaries with '|' multi-alternative values fall back to
    the exact per-row enumeration (expand_alternatives_tokens) — that path
    must count len(alts)+1 options per segment, which a REPLACE chain
    cannot express.
    """
    from ..core.canonicalize import (
        expand_alternatives_tokens,
        rewrite_joined_batch,
    )

    schema = T.StructType(
        [
            T.StructField("canon_full", T.StringType()),
            T.StructField("canon_root", T.StringType()),
            T.StructField("n_matches", T.IntegerType()),
            T.StructField("n_alternatives", T.IntegerType()),
        ]
    )
    # vectorized only when the REPLACE chain provably equals the
    # enumeration semantics: no '|' multi-alternative values (option counts
    # differ) and no token shared between keys and values — a shared token
    # would let a later pattern match text produced by an earlier
    # replacement (the chain cascades, enumeration never re-matches)
    exp = expansions or {}
    key_toks = {t for k in exp for t in k.split(" ")}
    val_toks = {t for v in exp.values() for t in v.replace("|", " ").split(" ")}
    vectorized = not any("|" in v for v in exp.values()) and not (
        key_toks & val_toks
    )

    @F.pandas_udf(schema)
    def expand_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for content in it:
            base = canonicalize_batch(content)
            if vectorized:
                root, m = rewrite_joined_batch(
                    base, expansions, count_matches=True
                )
                cap_bits = max(0, (max_expansions - 1).bit_length())
                na = np.minimum(
                    np.left_shift(1, np.minimum(m.to_numpy(), cap_bits + 1)),
                    max_expansions,
                )
                yield pd.DataFrame(
                    {
                        "canon_full": base,
                        "canon_root": root,
                        "n_matches": m.astype("int32"),
                        "n_alternatives": pd.array(na, dtype="int32"),
                    }
                )
                continue
            full, root, nm, na = [], [], [], []
            for b in base:
                toks = b.split(" ") if b else []
                forms, m = expand_alternatives_tokens(toks, expansions, max_expansions)
                full.append(b)
                root.append(forms[0])
                nm.append(m)
                na.append(len(forms))
            yield pd.DataFrame(
                {
                    "canon_full": full,
                    "canon_root": root,
                    "n_matches": pd.array(nm, dtype="int32"),
                    "n_alternatives": pd.array(na, dtype="int32"),
                }
            )

    expand_udf.vectorized = vectorized
    return expand_udf
