"""Integrated Soft-TFIDF scorer with phrase, acronym, and multi-word arms.

The reference's flagship fuzzy scorer is
``soft_tfidf_similarity_with_phrases_and_acronyms``
(/root/reference/src/soft_tfidf.c:128-588): a positional, scan-ordered
per-token match ladder over TWO aligned token sequences, with three extra
arms the plain ladder (``operators/softtfidf.py``) does not have:

* **phrase-canonical** (``soft_tfidf.c:323-334`` + ``:72-126``): both
  tokens sit inside dictionary phrases whose expansions share a canonical
  form ("cfg" ↔ "config", "data base" ↔ "database"); contribution is
  ``√(Σ w² over phrase1)·√(Σ w² over phrase2)``, and phrase continuation
  tokens on side 1 are skipped (``:305-308``);
* **acronym** (``soft_tfidf.c:344-356``, alignments from
  /root/reference/src/acronyms.c:94-215): a token of the shorter side whose
  characters spell the initials of a contiguous token run on the longer
  side ("bam" ↔ "brooklyn academy music"); contribution
  ``max(w_a, ‖w_phrase‖)²`` with the difference of squares added to the
  SMALLER side's norm (``:507-536``);
* **multi-word** (``soft_tfidf.c:358-372``, alignments from
  /root/reference/src/string_similarity.c:590-680): a concatenation token
  vs its spelled-out run ("seaworld" ↔ "sea world"), scored exactly like
  the acronym arm (``:484-506``).

Falling through those, the normal ladder runs per scan position: equal /
JW ≥ 0.9 (len ≥ 4) with the last-abbreviating-token boost and norm
offsets / Damerau-Levenshtein ≤ 1 (len ≥ 4) / standalone affine-gap
abbreviation with the strict 0.99 floor / ordinal suffix — the same rungs
as ``soft_tfidf_full_pairs`` but with the reference's POSITIONAL
first/last tie-breaks (scan order = token position, not lexicographic).

Faithfulness notes (each a deliberate, documented engineering decision):

* **Side swap** (``soft_tfidf.c:130-149``): side 1 is the side with fewer
  tokens (tie: smaller total character length). Acronym/multi-word
  alignments are computed in the post-swap orientation; the reference
  computes them pre-swap in ``dedupe.c:376-378``, but its alignment
  functions swap internally on the same token-count criterion and return
  NULL on equal counts, so the orientations coincide in every reachable
  case.
* **Dictionary model**: phrase entries come from
  ``dictionaries.DEFAULT_CODE_EXPANSIONS`` (abbreviation → one canonical)
  plus implicit canonical-form entries (every canonical value is its own
  dictionary phrase, the analog of libpostal's canonical dictionary rows).
  Each entry has exactly one expansion, so the reference's expansion-pair
  loop degenerates to a single canonical comparison; the response lattice
  (BOTH > FIRST > SECOND > NEITHER canonical, ``soft_tfidf.c:64-70``)
  is kept and drives the best-phrase upgrade.
* **DL variant**: the reference's in-scorer Damerau
  (``string_similarity.c:356-408``) is a quirky OSA-with-sliding-column;
  this operator uses the repo's unrestricted DL kernel (bit-equal to
  DuckDB). The rung only consumes ``dist ≤ 1``, where every edit-distance
  variant coincides (a distance-1 pair differs by exactly one atomic
  edit).
* **Acronym scan**: periods/hyphens inside the acronym token are stripped
  before the scan (the reference skips them mid-scan,
  ``acronyms.c:185-194``); stopword-skipping inside runs is not
  implemented (the code-domain dictionary has no stopword class).

Scale shape: token/weight arrays are built distributively (pos-explode +
broadcast weight join + re-agg — no driver collect); the numeric kernels
(JW / DL / abbreviation flags) run ONCE per Arrow batch over the flattened
candidate token pairs of every row in the batch; the remaining per-pair
control flow is O(_MAX_TOKENS²) comparisons on precomputed values. No
shuffle beyond the pair join and the per-doc token agg.
"""

from __future__ import annotations

import math
import re
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import LIKELY_THRESHOLD, NEEDS_REVIEW_THRESHOLD
from .softtfidf import ORDINAL_TOKEN_RE, _W_SCALE

_MAX_TOKENS = 16           # positional token cap per record
_MAX_LEN = 32              # chars per token the string kernels compare
_JW_MIN = 0.9
_JW_MIN_LEN = 4            # jaro_winkler_min_length (soft_tfidf.c:11)
_DL_MAX = 1                # damerau_levenshtein_max (:12)
_DL_MIN_LEN = 4            # damerau_levenshtein_min_length (:13)
_STRICT_MIN_LEN = 4        # strict_abbreviation_min_length (:15)
_STRICT_SIM = 0.99         # strict_abbreviation_sim (:16)

_ORD_RE = re.compile(ORDINAL_TOKEN_RE)

# canonical-match response lattice (soft_tfidf.c:64-70)
_NO_MATCH, _NEITHER, _SECOND, _FIRST, _BOTH = 0, 1, 2, 3, 4


def build_phrase_lookup() -> tuple[dict, int]:
    """(phrase-token-tuple → (canonical, is_canonical_entry), max phrase
    token length) over ``DEFAULT_CODE_EXPANSIONS``. Canonical values
    become implicit canonical-form entries."""
    from ..dictionaries import DEFAULT_CODE_EXPANSIONS

    lut: dict[tuple, tuple[str, bool]] = {}
    for key, canon in DEFAULT_CODE_EXPANSIONS:
        lut[tuple(key.split())] = (canon, key == canon)
    for _, canon in DEFAULT_CODE_EXPANSIONS:
        lut.setdefault(tuple(canon.split()), (canon, True))
    max_len = max((len(k) for k in lut), default=1)
    return lut, max_len


def _phrase_spans(toks: list, lut: dict, max_len: int) -> list:
    """Leftmost-longest dictionary phrase spans: (start, len, canonical,
    is_canonical) — the trie search of address_dictionary.c:286-311."""
    spans = []
    i, n = 0, len(toks)
    while i < n:
        for ln in range(min(max_len, n - i), 0, -1):
            hit = lut.get(tuple(toks[i : i + ln]))
            if hit is not None:
                spans.append((i, ln, hit[0], hit[1]))
                i += ln
                break
        else:
            i += 1
    return spans


def _memberships(spans: list, n: int) -> list:
    mem = [-1] * n
    for idx, sp in enumerate(spans):
        for j in range(sp[0], sp[0] + sp[1]):
            mem[j] = idx
    return mem


def _canonical_response(sp1, toks1, sp2, toks2) -> int:
    """phrases_have_same_canonical (soft_tfidf.c:24-117) for
    single-expansion entries."""
    s1, l1, canon1, can1 = sp1
    s2, l2, canon2, can2 = sp2
    if can1 and can2:
        if l1 == l2 and l1 > 0 and toks1[s1 : s1 + l1] == toks2[s2 : s2 + l2]:
            return _BOTH
        return _NO_MATCH
    if not can1 and not can2:
        return _NEITHER if canon1 == canon2 else _NO_MATCH
    if can1:
        return _FIRST if " ".join(toks1[s1 : s1 + l1]) == canon2 else _NO_MATCH
    return _SECOND if " ".join(toks2[s2 : s2 + l2]) == canon1 else _NO_MATCH


def acronym_alignments_py(t1: list, t2: list) -> list:
    """(start, len, short_idx) spans on t2 whose token initials spell
    t1[short_idx] — the acronyms.c:94-215 scan: sequential, no
    backtracking, multiple alignments per token allowed; periods/hyphens
    in the acronym token pre-stripped (see module docstring)."""
    out = []
    for i, raw in enumerate(t1):
        a = raw.replace(".", "").replace("-", "")
        if len(a) < 2:
            continue
        pos, start = 0, -1
        for j, b in enumerate(t2):
            if pos < len(a) and b and b[0] == a[pos]:
                if start < 0:
                    start = j
                pos += 1
            elif pos < len(a):
                pos, start = 0, -1
                continue
            if pos == len(a):
                out.append((start, j - start + 1, i))
                pos, start = 0, -1
    return out


def multiword_alignments_py(t1: list, t2: list) -> list:
    """(start, len, short_idx) spans on t2 whose concatenation spells
    t1[short_idx] — the same scan as operators/dedup.py
    multiword_alignment_expr (string_similarity.c:590-680): greedy, no
    backtracking, fresh state per short token, single-token equality never
    an alignment."""
    out = []
    for i, st in enumerate(t1):
        pos, start = 0, -1
        for j, tj in enumerate(t2):
            if tj and st[pos : pos + len(tj)] == tj:
                if start < 0:
                    start = j
                pos += len(tj)
                if pos == len(st) and j - start > 0:
                    out.append((start, j - start + 1, i))
                    pos, start = 0, -1
            else:
                pos, start = 0, -1
    return out


def score_pair(
    t1: list,
    w1: list,
    t2: list,
    w2: list,
    lut: dict,
    max_phrase_len: int,
    sim_of=None,
) -> tuple[float, int]:
    """One pair through the full integrated scorer; returns (sim,
    n_matched). ``sim_of(i, j) -> (jw, dl, abrv, strict)`` supplies the
    numeric kernels in POST-SWAP orientation; when None a scalar fallback
    computes them (tests)."""
    if len(t1) > len(t2) or (
        len(t1) == len(t2)
        and sum(len(t) for t in t1) > sum(len(t) for t in t2)
    ):
        t1, w1, t2, w2 = t2, w2, t1, w1
        if sim_of is not None:
            inner = sim_of
            sim_of = lambda i, j: inner(j, i, True)  # noqa: E731

    n1, n2 = len(t1), len(t2)
    if n1 == 0 or n2 == 0:
        return 0.0, 0

    if sim_of is None:
        sim_of = _scalar_sim_factory(t1, t2)

    phr1 = _phrase_spans(t1, lut, max_phrase_len)
    phr2 = _phrase_spans(t2, lut, max_phrase_len)
    mem1 = _memberships(phr1, n1)
    mem2 = _memberships(phr2, n2)
    if n1 != n2:
        acr = acronym_alignments_py(t1, t2)
        mw = multiword_alignments_py(t1, t2)
    else:
        acr, mw = [], []
    acr_mem = _memberships(acr, n2)
    mw_mem = _memberships(mw, n2)

    total = 0.0
    n1_off = 0.0
    n2_off = 0.0
    matched = 0

    for i in range(n1):
        a = t1[i]
        p1 = phr1[mem1[i]] if mem1[i] >= 0 else None
        if p1 is not None and i > p1[0]:
            continue  # phrase continuation token (soft_tfidf.c:305-308)
        la = len(a)
        use_jw = la >= _JW_MIN_LEN
        use_dl = la >= _DL_MIN_LEN
        use_strict = la >= _STRICT_MIN_LEN
        a_ord = bool(_ORD_RE.match(a))

        max_sim, argmax = 0.0, 0
        min_dist, argmin, argmin_sim = la, 0, 0.0
        last_ab, last_ab_sim, have_ab = 0, 0.0, False
        last_ord, have_ord = 0, False
        have_eq = False
        best_resp = _NO_MATCH
        have_phrase, argmax_phrase = False, None
        have_acr, acr_phrase = False, None
        have_mw, mw_phrase = False, None

        for j in range(n2):
            b = t2[j]
            if p1 is not None and mem2[j] >= 0:
                p2 = phr2[mem2[j]]
                resp = _canonical_response(p1, t1, p2, t2)
                if resp > best_resp:
                    best_resp = resp
                    argmax = j
                    argmax_phrase = p2
                    max_sim = 1.0
                    have_phrase = True
                    continue
            if a == b:
                max_sim, argmax, have_eq = 1.0, j, True
                break
            if acr_mem[j] >= 0 and acr[acr_mem[j]][2] == i:
                acr_phrase = acr[acr_mem[j]]
                max_sim, argmax, have_acr = 1.0, j, True
                break
            if mw_mem[j] >= 0 and mw[mw_mem[j]][2] == i:
                mw_phrase = mw[mw_mem[j]]
                max_sim, argmax, have_mw = 1.0, j, True
                break
            jw, dl, abrv, strict = sim_of(i, j)
            if jw > max_sim:
                max_sim, argmax = jw, j
            if use_dl and 0 <= dl < min_dist:
                min_dist, argmin, argmin_sim = dl, j, jw
            if abrv:
                last_ab, last_ab_sim, have_ab = j, jw, True
                if use_strict and strict and last_ab_sim < _STRICT_SIM:
                    last_ab_sim = _STRICT_SIM
            if a_ord:
                if a.startswith(b):
                    last_ord, have_ord = j, True
            elif _ORD_RE.match(b) and b.startswith(a):
                last_ord, have_ord = j, True

        if not have_acr and not have_phrase and not have_mw:
            if have_eq or (use_jw and max_sim >= _JW_MIN):
                t2s = w2[argmax]
                if have_ab and argmax == last_ab:
                    ab_sim = max(last_ab_sim, max_sim)
                    if w1[i] >= t2s:
                        n2_off += w1[i] * w1[i] - t2s * t2s
                        mx = w1[i]
                    else:
                        n1_off += t2s * t2s - w1[i] * w1[i]
                        mx = t2s
                    total += ab_sim * mx * mx
                else:
                    total += max_sim * w1[i] * t2s
                matched += 1
            elif use_dl and min_dist <= _DL_MAX:
                t2s = w2[argmin]
                if have_ab and argmin == last_ab:
                    argmin_sim = max(last_ab_sim, argmin_sim)
                total += argmin_sim * w1[i] * t2s
                matched += 1
            elif have_ab:
                total += last_ab_sim * w1[i] * w2[last_ab]
                matched += 1
            elif have_ord:
                total += 1.0 * w1[i] * w2[last_ord]
                matched += 1
        elif have_phrase:
            s2, l2 = argmax_phrase[0], argmax_phrase[1]
            p2_sq = sum(w2[p] * w2[p] for p in range(s2, s2 + l2))
            p1_sq = sum(
                w1[p] * w1[p] for p in range(p1[0], p1[0] + p1[1])
            )
            total += math.sqrt(p1_sq) * math.sqrt(p2_sq)
            matched += p1[1]
        elif have_mw or have_acr:
            sp = mw_phrase if have_mw else acr_phrase
            ph_sq = sum(
                w2[p] * w2[p] for p in range(sp[0], sp[0] + sp[1])
            )
            norm_ph = math.sqrt(ph_sq)
            if w1[i] >= norm_ph:
                n2_off += w1[i] * w1[i] - ph_sq
                mx = w1[i]
            else:
                n1_off += ph_sq - w1[i] * w1[i]
                mx = norm_ph
            total += mx * mx
            matched += 1

    norm = math.sqrt(
        sum(w * w for w in w1) + n1_off
    ) * math.sqrt(sum(w * w for w in w2) + n2_off)
    if norm <= 0.0:
        return 0.0, matched
    sim = total / norm
    return (1.0 if sim > 1.0 else sim), matched


def _scalar_sim_factory(t1: list, t2: list):
    """Per-call batch-kernel wrapper for a single pair (test/fallback
    path; the Spark operator precomputes whole-Arrow-batch kernels)."""
    from ..core import strsim

    n2 = len(t2)
    aa, bb = [], []
    for a in t1:
        for b in t2:
            aa.append(a)
            bb.append(b)
    s1, s2 = pd.Series(aa, dtype=object), pd.Series(bb, dtype=object)
    codes = strsim.encode_pair(s1, s2, _MAX_LEN)
    jw = strsim.jaro_winkler_batch(s1, s2, _MAX_LEN, codes=codes)
    dl = strsim.damerau_levenshtein_batch(s1, s2, _MAX_LEN, codes=codes)
    ab, st = strsim.abbrev_flags_batch(s1, s2, _MAX_LEN, codes=codes)

    def sim_of(i, j, _swapped=False):
        k = i * n2 + j
        return float(jw[k]), int(dl[k]), bool(ab[k]), bool(st[k])

    return sim_of


def _make_scorer_udf(lut: dict, max_phrase_len: int):
    from ..core import strsim

    schema = T.StructType(
        [
            T.StructField("sim", T.DoubleType()),
            T.StructField("n_matched", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def scorer(
        it: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for t1s, w1s, t2s, w2s in it:
            rows = len(t1s)
            # post-swap orientation per row, then ONE kernel call over the
            # flattened candidate token pairs of the whole Arrow batch
            pairs_t1, pairs_w1, pairs_t2, pairs_w2 = [], [], [], []
            for r in range(rows):
                a = list(t1s.iloc[r]) if t1s.iloc[r] is not None else []
                b = list(t2s.iloc[r]) if t2s.iloc[r] is not None else []
                wa = list(w1s.iloc[r]) if w1s.iloc[r] is not None else []
                wb = list(w2s.iloc[r]) if w2s.iloc[r] is not None else []
                if len(a) > len(b) or (
                    len(a) == len(b)
                    and sum(len(t) for t in a) > sum(len(t) for t in b)
                ):
                    a, b, wa, wb = b, a, wb, wa
                pairs_t1.append(a)
                pairs_w1.append(wa)
                pairs_t2.append(b)
                pairs_w2.append(wb)
            flat_a, flat_b, offsets = [], [], []
            off = 0
            for a, b in zip(pairs_t1, pairs_t2):
                offsets.append(off)
                for x in a:
                    for y in b:
                        flat_a.append(x)
                        flat_b.append(y)
                off += len(a) * len(b)
            if flat_a:
                s1 = pd.Series(flat_a, dtype=object)
                s2 = pd.Series(flat_b, dtype=object)
                codes = strsim.encode_pair(s1, s2, _MAX_LEN)
                jw = strsim.jaro_winkler_batch(s1, s2, _MAX_LEN, codes=codes)
                dl = strsim.damerau_levenshtein_batch(s1, s2, _MAX_LEN, codes=codes)
                ab, stc = strsim.abbrev_flags_batch(s1, s2, _MAX_LEN, codes=codes)
            sims = np.zeros(rows, dtype=np.float64)
            nm = np.zeros(rows, dtype=np.int64)
            for r in range(rows):
                a, b = pairs_t1[r], pairs_t2[r]
                base, n2 = offsets[r], len(b)

                def sim_of(i, j, _swapped=False, _base=base, _n2=n2):
                    k = _base + i * _n2 + j
                    return (
                        float(jw[k]),
                        int(dl[k]),
                        bool(ab[k]),
                        bool(stc[k]),
                    )

                s, m = score_pair(
                    a,
                    pairs_w1[r],
                    b,
                    pairs_w2[r],
                    lut,
                    max_phrase_len,
                    sim_of=sim_of,
                )
                sims[r] = s
                nm[r] = m
            yield pd.DataFrame({"sim": sims, "n_matched": nm})

    return scorer


def soft_tfidf_aligned_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    weight_mode: str = "df",
) -> DataFrame:
    """Integrated Soft-TFIDF over candidate pairs (module docstring for
    semantics). ``weight_mode``: 'df' = ⌊10⁶/df⌋ token weights from the
    corpus (the repo's integer tf-idf model, broadcast-joined); 'unit' =
    all weights 1.0 (the hand-golden mode — no corpus dependence, no
    extra shuffle). Default pairs: adjacent doc ids.

    Output: doc_id1, doc_id2, n_matched, sim_e4 (round(sim·10⁴)),
    soft_tfidf, status.
    """
    if weight_mode not in ("df", "unit"):
        raise ValueError(f"weight_mode must be df|unit, got {weight_mode!r}")
    lut, max_phrase_len = build_phrase_lookup()

    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    if pairs is None:
        a = ids.select(F.col("doc_id").alias("doc_id1"))
        b = ids.select(
            (F.col("doc_id") - 1).alias("doc_id1"),
            F.col("doc_id").alias("doc_id2"),
        )
        pairs = a.join(b, "doc_id1").select("doc_id1", "doc_id2")

    toks_expr = (
        "slice(filter(split(lower(trim(text)), '\\\\s+'),"
        f" t -> length(t) > 0), 1, {_MAX_TOKENS})"
    )
    feat = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(toks_expr).alias("toks"),
    )
    if weight_mode == "unit":
        feat = feat.withColumn(
            "ws", F.expr("transform(toks, t -> cast(1.0 as double))")
        )
    else:
        tok = feat.select(
            "doc_id", F.posexplode("toks").alias("pos", "token")
        )
        wtab = (
            tok.select("doc_id", "token")
            .distinct()
            .groupBy("token")
            .agg(F.count("*").alias("df"))
            .withColumn(
                "w",
                F.floor(F.lit(_W_SCALE) / F.col("df")).cast("double"),
            )
            .select("token", "w")
        )
        warr = (
            tok.join(F.broadcast(wtab), "token")
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ).alias("pw")
            )
            .select(
                "doc_id",
                F.expr("transform(pw, x -> x.w)").alias("ws"),
            )
        )
        feat = feat.join(warr, "doc_id", "left").withColumn(
            "ws",
            F.coalesce(F.col("ws"), F.expr("cast(array() as array<double>)")),
        )

    fa = feat.select(
        F.col("doc_id").alias("doc_id1"),
        F.col("toks").alias("t1"),
        F.col("ws").alias("ww1"),
    )
    fb = feat.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("toks").alias("t2"),
        F.col("ws").alias("ww2"),
    )
    joined = pairs.join(fa, "doc_id1").join(fb, "doc_id2")
    udf = _make_scorer_udf(lut, max_phrase_len)
    out = joined.withColumn(
        "m", udf(F.col("t1"), F.col("ww1"), F.col("t2"), F.col("ww2"))
    )
    sim_e4 = F.round(F.col("m.sim") * 10000).cast("long")
    # status from the integer e4 domain (repo convention): float-noise at
    # a threshold boundary (e.g. 9/(√10·√10) = 0.8999999999999999) must
    # not flip the grade the rounded score implies
    return out.select(
        "doc_id1",
        "doc_id2",
        F.col("m.n_matched").alias("n_matched"),
        sim_e4.alias("sim_e4"),
        F.round(F.col("m.sim"), 4).alias("soft_tfidf"),
        F.when(
            sim_e4 >= int(LIKELY_THRESHOLD * 10000),
            F.lit("likely_duplicate"),
        )
        .when(
            sim_e4 >= int(NEEDS_REVIEW_THRESHOLD * 10000),
            F.lit("needs_review"),
        )
        .otherwise(F.lit("non_duplicate"))
        .alias("status"),
    )


def fuzzy_dup_status_aligned_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    subset_status: str = "non_duplicate",
    weight_mode: str = "df",
) -> DataFrame:
    """The reference's full ``is_fuzzy_duplicate`` composition
    (/root/reference/src/dedupe.c:340-484) over the INTEGRATED scorer —
    the exact pairing the reference ships (``:400-413`` calls
    ``soft_tfidf_similarity_with_phrases_and_acronyms``): subset rule
    (``num_matches == min token count`` ⇒ ``subset_status``, dedupe.c
    :415-417), 0.9/0.7 thresholds, and single-letter symmetric-difference
    demotion (``:427-441``), all in the integer e4 domain via the shared
    ``fuzzy_lattice_status`` used by the sorted-set variant.

    Token counts here are POSITIONAL (first ``_MAX_TOKENS`` whitespace
    tokens, duplicates counted) — the aligned scorer's token model, and
    the reference's (it passes the raw token arrays). Output:
    doc_id1/2, n_matched, n_tokens1/2, sim_e4, single_letter_mismatch,
    fuzzy_status.
    """
    from .softtfidf import fuzzy_lattice_status

    base = soft_tfidf_aligned_pairs(docs, pairs, weight_mode=weight_mode)
    toks_expr = (
        "slice(filter(split(lower(trim(text)), '\\\\s+'),"
        f" t -> length(t) > 0), 1, {_MAX_TOKENS})"
    )
    feat = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(toks_expr).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("nt"),
        F.array_sort(
            F.array_distinct(
                F.expr(
                    "filter(toks, t -> length(t) = 1 and t rlike '^\\\\p{L}$')"
                )
            )
        ).alias("letters"),
    )
    out = (
        base.join(
            feat.select(
                F.col("doc_id").alias("doc_id1"),
                F.col("nt").alias("nt1"),
                F.col("letters").alias("l1"),
            ),
            "doc_id1", "left",
        )
        .join(
            feat.select(
                F.col("doc_id").alias("doc_id2"),
                F.col("nt").alias("nt2"),
                F.col("letters").alias("l2"),
            ),
            "doc_id2", "left",
        )
        .withColumn("nt1", F.coalesce("nt1", F.lit(0)).cast("long"))
        .withColumn("nt2", F.coalesce("nt2", F.lit(0)).cast("long"))
        .withColumn(
            "l1", F.coalesce("l1", F.expr("cast(array() as array<string>)"))
        )
        .withColumn(
            "l2", F.coalesce("l2", F.expr("cast(array() as array<string>)"))
        )
    )
    symdiff = (F.size(F.array_except("l1", "l2")) > 0) & (
        F.size(F.array_except("l2", "l1")) > 0
    )
    subset = F.col("n_matched") == F.least("nt1", "nt2")
    status = fuzzy_lattice_status(
        F.col("sim_e4"), subset, symdiff, subset_status
    )
    return (
        out.withColumn("single_letter_mismatch", symdiff)
        .withColumn("fuzzy_status", status)
        .select(
            "doc_id1", "doc_id2", "n_matched",
            F.col("nt1").alias("n_tokens1"),
            F.col("nt2").alias("n_tokens2"),
            "sim_e4", "soft_tfidf",
            "single_letter_mismatch", "fuzzy_status",
        )
    )
