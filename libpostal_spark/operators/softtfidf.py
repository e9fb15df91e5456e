"""Soft-TFIDF pairwise scoring (Cohen/Ravikumar/Fienberg), distributed.

Reference analog: ``soft_tfidf_similarity`` —
/root/reference/src/soft_tfidf.c:128-588, the reference's fuzzy duplicate
scorer: for each token of record A, find the best Jaro-Winkler match above
a closeness threshold among record B's tokens, and sum tf-idf-weighted
similarity over those matches, normalized by the records' weight norms.
Thresholds then grade the pair exactly like ``is_dupe``
(/root/reference/src/libpostal.c:185-193).

Determinism design (what makes this operator ORACLE-CHECKABLE): every
accumulated quantity is an INTEGER —

* token weight  w(t)   = floor(1_000_000 / df(t))   (df = capped-set doc
  frequency; exact in both engines because the double quotient of two
  small ints is correctly rounded and can only be integral when exact),
* match quality jw_e4  = floor(jw(a, b) · 10^4)     (the JW kernel is
  bit-equal to DuckDB's built-in, tests/test_strsim.py),
* pair score    Σ w_a · w_b · jw_e4                 (≤ ~5·10^17: int64),
* norms         Σ w²                                 (int64),

so sums are order-independent (no float-accumulation nondeterminism), and
the float finish — soft_e4 = floor(score / (sqrt(na2)·sqrt(nb2))) — is a
fixed tree of IEEE correctly-rounded ops over identical integers followed
by floor (deterministic on bit-identical doubles, immune to the engines'
differing round() tie conventions); the displayed similarity is
soft_e4 / 10^4, again exact.

Scale shape: token sets are CAPPED at ``MAX_TOKENS`` per record (sorted
distinct prefix — deterministic), so the per-pair candidate product is
O(MAX_TOKENS²) flat; df/weights form a small broadcastable table; the JW
kernel runs one Arrow batch pass over the exploded candidate pairs. At
10^12 rows every stage is a bounded explode + hash agg — no quadratic
blowup in record length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import LIKELY_THRESHOLD, NEEDS_REVIEW_THRESHOLD

# Cohen et al. "CLOSE(θ, A, B)" closeness bar on the inner JW
JW_CLOSE_E4 = 9000
_W_SCALE = 1_000_000
MAX_TOKENS = 10    # token-set cap per record (see "Scale shape" above)
JW_MAX_LEN = 16    # chars per token the JW/DL kernels compare


def _capped_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, token) pairs: first MAX_TOKENS of the sorted distinct lowercase
    whitespace tokens per doc — a deterministic bounded token set."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.filter(
                            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                            lambda t: F.length(t) > 0,
                        )
                    )
                ),
                1,
                MAX_TOKENS,
            )
        ).alias("token"),
    )
    return toks


def _weighted_cand(
    docs: DataFrame,
    pairs: DataFrame | None,
    toks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared scaffolding for the Soft-TFIDF operators: default
    adjacent-id pairs, the exploded per-pair token-candidate product with
    tf-idf weights on both sides, and the per-doc integer weight norms.
    Pass ``toks`` (a ``_capped_token_sets`` frame for the same docs)
    to share one tokenization across composed operators."""
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    if pairs is None:
        a = ids.select(F.col("doc_id").alias("doc_id1"))
        b = ids.select((F.col("doc_id") - 1).alias("doc_id1"),
                       F.col("doc_id").alias("doc_id2"))
        pairs = a.join(b, "doc_id1").select("doc_id1", "doc_id2")

    if toks is None:
        toks = _capped_token_sets(
            docs.withColumn("doc_id", F.col("doc_id").cast("long"))
        )
    # df over the capped universe; weights are a SMALL table (distinct
    # tokens) — broadcast into every consumer
    wtab = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .withColumn("w", F.floor(F.lit(_W_SCALE) / F.col("df")).cast("long"))
        .select("token", "w")
    )
    wt = toks.join(F.broadcast(wtab), "token").select(
        F.col("doc_id"), "token", "w"
    )
    # per-side weight norms (integer Σ w²)
    norms = wt.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))

    ta = wt.select(
        F.col("doc_id").alias("doc_id1"),
        F.col("token").alias("tok_a"),
        F.col("w").alias("w_a"),
    )
    tb = wt.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("token").alias("tok_b"),
        F.col("w").alias("w_b"),
    )
    cand = pairs.join(ta, "doc_id1").join(tb, "doc_id2")
    return pairs, cand, norms


#: engine analog of the reference's numex ordinal-suffix detection
#: (src/numex.c ordinal_suffix) narrowed to English digit+suffix tokens
ORDINAL_TOKEN_RE = r"^[0-9]+(st|nd|rd|th)$"


def soft_tfidf_full_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    affine_gap_abbreviations: bool = True,
    ordinal_suffixes: bool = True,
    with_no_abbrev_twin: bool = False,
) -> DataFrame:
    """Soft-TFIDF with the reference's FULL default match ladder
    (/root/reference/src/soft_tfidf.c:240-465, defaults :9-17), per
    candidate pair and per A-side token, in priority order:

    1. **equal** — an identical B token scores 1.0 (the reference breaks
       its scan there, so no abbreviation state interacts with it);
    2. **Jaro-Winkler** — ``len(a) ≥ 4`` and best JW ≥ 0.9; the best B is
       the FIRST maximum in sorted-token scan order. If that B is also the
       LAST abbreviating B (``:425-447``): sim = max(jw, abbrev_sim) and
       the contribution uses max(w_a, w_b)² with the difference of squares
       added to the smaller side's norm (the reference's norm offsets);
    3. **Damerau-Levenshtein** — ``len(a) ≥ 4`` and min distance ≤ 1
       (recorded only below ``len(a)``, the reference's initial bound);
       scores the argmin-B's JW, abbrev-boosted if the argmin is the last
       abbreviating B;
    4. **abbreviation** (``possible_affine_gap_abbreviations``, default
       ON) — scores jw(a, last abbreviating B), raised to 0.99 when
       ``len(a) ≥ 4`` and the pair is a STRICT abbreviation;
    5. **ordinal suffix** — a has an ordinal suffix and B is a full prefix
       of it (or vice versa); scores 1.0. Under default options this rung
       is shadowed by rung 4 exactly as in the reference (a full prefix is
       always a possible abbreviation — here including single-character
       prefixes, reference parity); it becomes reachable with
       ``affine_gap_abbreviations=False``.

    "Last"/"first" tie-breaks follow the reference's scan order, which for
    this operator's sorted-distinct capped token sets is lexicographic.
    All accumulation is integer (see module docstring); the norm offsets
    are integer differences of squares, applied before the float finish.

    Output: doc_id1, doc_id2, n_matched, soft_e4, soft_tfidf, status.

    ``with_no_abbrev_twin=True`` (requires abbreviations ON) appends
    ``n_matched_noab``/``soft_e4_noab`` — the result the
    ``affine_gap_abbreviations=False`` mode would produce — derived from
    the SAME per-token aggregates in the same pass: the abbreviation
    flags never influence the JW argmax or DL argmin aggregates, so the
    off-mode contribution is just the un-boosted arm of each rung with
    zero norm offsets. One plan instead of two (the harness query's
    both-modes oracle recomputes the off mode independently, which keeps
    this derivation honest).
    """
    from ..functions.udfs import make_ladder_udf

    if with_no_abbrev_twin and not affine_gap_abbreviations:
        raise ValueError(
            "with_no_abbrev_twin requires affine_gap_abbreviations=True"
        )

    pairs, cand, norms = _weighted_cand(docs, pairs)
    m = make_ladder_udf(JW_MAX_LEN)(F.col("tok_a"), F.col("tok_b"))
    ordm = (
        (
            F.col("tok_a").rlike(ORDINAL_TOKEN_RE)
            & F.col("tok_a").startswith(F.col("tok_b"))
        )
        | (
            F.col("tok_b").rlike(ORDINAL_TOKEN_RE)
            & F.col("tok_b").startswith(F.col("tok_a"))
        )
        if ordinal_suffixes
        else F.lit(False)
    )
    cand = (
        cand.withColumn("m", m)
        .withColumn("jw_e4", F.floor(F.col("m.jw") * 10000).cast("long"))
        .withColumn("dl", F.col("m.dl"))
        .withColumn(
            "abrv",
            F.col("m.abrv") if affine_gap_abbreviations else F.lit(False),
        )
        .withColumn("strict", F.col("m.strict"))
        .withColumn("ordm", ordm)
        .drop("m")
    )
    # one hash-agg per (pair, A-token): every rung's argmax/argmin/last
    # via min_by/max_by with null-skipped conditional ordering keys
    dl_ok = F.col("dl") < F.length("tok_a")
    per_tok = cand.groupBy("doc_id1", "doc_id2", "tok_a", "w_a").agg(
        F.bool_or(F.col("tok_b") == F.col("tok_a")).alias("have_eq"),
        F.max("jw_e4").alias("max_jw"),
        F.min_by(
            F.struct("tok_b", "w_b"),
            F.struct((-F.col("jw_e4")).alias("nj"), F.col("tok_b")),
        ).alias("jb"),
        F.bool_or("abrv").alias("have_ab"),
        F.max_by(
            F.struct("jw_e4", "strict", "w_b", "tok_b"),
            F.when(F.col("abrv"), F.col("tok_b")),
        ).alias("ab"),
        F.min(F.when(dl_ok, F.col("dl"))).alias("min_dl"),
        F.min_by(
            F.struct("jw_e4", "w_b", "tok_b"),
            F.when(dl_ok, F.struct(F.col("dl"), F.col("tok_b"))),
        ).alias("db"),
        F.bool_or("ordm").alias("have_ord"),
        F.max_by(
            F.struct("w_b"), F.when(F.col("ordm"), F.col("tok_b"))
        ).alias("ob"),
    )

    use_strict = F.length("tok_a") >= 4   # strict_abbreviation_min_length
    ab_sim = F.when(
        F.col("ab.strict") & use_strict,
        F.greatest(F.col("ab.jw_e4"), F.lit(9900)),  # strict_abbreviation_sim
    ).otherwise(F.col("ab.jw_e4"))
    use_jw = F.length("tok_a") >= 4       # jaro_winkler_min_length
    r1 = F.col("have_eq") | (use_jw & (F.col("max_jw") >= F.lit(JW_CLOSE_E4)))
    boost = (
        F.col("have_ab")
        & ~F.col("have_eq")
        & (F.col("jb.tok_b") == F.col("ab.tok_b"))
    )
    wmax = F.greatest(F.col("w_a"), F.col("ab.w_b"))
    c1 = F.when(
        boost, F.greatest(ab_sim, F.col("max_jw")) * wmax * wmax
    ).otherwise(F.col("max_jw") * F.col("w_a") * F.col("jb.w_b"))
    o1 = F.when(
        boost & (F.col("ab.w_b") > F.col("w_a")),
        F.col("ab.w_b") * F.col("ab.w_b") - F.col("w_a") * F.col("w_a"),
    ).otherwise(F.lit(0))
    o2 = F.when(
        boost & (F.col("w_a") >= F.col("ab.w_b")),
        F.col("w_a") * F.col("w_a") - F.col("ab.w_b") * F.col("ab.w_b"),
    ).otherwise(F.lit(0))
    r2 = use_jw & (F.col("min_dl") <= 1)  # damerau_levenshtein_max/min_length
    d_sim = F.when(
        F.col("have_ab") & (F.col("db.tok_b") == F.col("ab.tok_b")),
        F.greatest(ab_sim, F.col("db.jw_e4")),
    ).otherwise(F.col("db.jw_e4"))
    c2 = d_sim * F.col("w_a") * F.col("db.w_b")
    r3 = F.col("have_ab")
    c3 = ab_sim * F.col("w_a") * F.col("ab.w_b")
    r4 = F.col("have_ord")
    c4 = F.lit(10000) * F.col("w_a") * F.col("ob.w_b")
    matched = r1 | r2 | r3 | r4

    tok_cols = [
        "doc_id1",
        "doc_id2",
        F.coalesce(matched, F.lit(False)).alias("matched"),
        F.coalesce(
            F.when(r1, c1).when(r2, c2).when(r3, c3).when(r4, c4), F.lit(0)
        ).cast("long").alias("contrib"),
        F.when(r1, o1).otherwise(F.lit(0)).cast("long").alias("off1"),
        F.when(r1, o2).otherwise(F.lit(0)).cast("long").alias("off2"),
    ]
    if with_no_abbrev_twin:
        # abbreviations-OFF derivation: same r1/r2/r4 predicates, the
        # un-boosted contribution arms, no offsets (boost never fires)
        c1n = F.col("max_jw") * F.col("w_a") * F.col("jb.w_b")
        c2n = F.col("db.jw_e4") * F.col("w_a") * F.col("db.w_b")
        matched_n = r1 | r2 | r4
        tok_cols += [
            F.coalesce(matched_n, F.lit(False)).alias("matched_noab"),
            F.coalesce(
                F.when(r1, c1n).when(r2, c2n).when(r4, c4), F.lit(0)
            ).cast("long").alias("contrib_noab"),
        ]
    tok_scored = per_tok.select(*tok_cols)
    agg_cols = [
        F.sum(F.col("matched").cast("long")).alias("n_matched"),
        F.sum("contrib").alias("score_int"),
        F.sum("off1").alias("off1"),
        F.sum("off2").alias("off2"),
    ]
    if with_no_abbrev_twin:
        agg_cols += [
            F.sum(F.col("matched_noab").cast("long")).alias("n_matched_noab"),
            F.sum("contrib_noab").alias("score_noab"),
        ]
    agg = tok_scored.groupBy("doc_id1", "doc_id2").agg(*agg_cols)
    out = (
        pairs.join(agg, ["doc_id1", "doc_id2"], "left")
        .join(
            norms.select(F.col("doc_id").alias("doc_id1"),
                         F.col("n2").alias("na2")),
            "doc_id1", "left",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_id2"),
                         F.col("n2").alias("nb2")),
            "doc_id2", "left",
        )
        .select(
            "doc_id1",
            "doc_id2",
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.when(
                (F.coalesce("na2", F.lit(0))
                 + F.coalesce("off1", F.lit(0)) > 0)
                & (F.coalesce("nb2", F.lit(0))
                   + F.coalesce("off2", F.lit(0)) > 0)
                & F.col("score_int").isNotNull(),
                F.floor(
                    F.col("score_int").cast("double")
                    / (
                        F.sqrt((F.col("na2") + F.col("off1")).cast("double"))
                        * F.sqrt((F.col("nb2") + F.col("off2")).cast("double"))
                    )
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("soft_e4"),
            *(
                [
                    F.coalesce("n_matched_noab", F.lit(0))
                    .cast("long").alias("n_matched_noab"),
                    F.when(
                        (F.coalesce("na2", F.lit(0)) > 0)
                        & (F.coalesce("nb2", F.lit(0)) > 0)
                        & F.col("score_noab").isNotNull(),
                        F.floor(
                            F.col("score_noab").cast("double")
                            / (
                                F.sqrt(F.col("na2").cast("double"))
                                * F.sqrt(F.col("nb2").cast("double"))
                            )
                        ).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    .alias("soft_e4_noab"),
                ]
                if with_no_abbrev_twin
                else []
            ),
        )
        .withColumn("soft_tfidf", F.col("soft_e4") / F.lit(10000.0))
        .withColumn(
            "status",
            F.when(F.col("soft_e4") >= int(LIKELY_THRESHOLD * 10000),
                   F.lit("likely_duplicate"))
            .when(F.col("soft_e4") >= int(NEEDS_REVIEW_THRESHOLD * 10000),
                  F.lit("needs_review"))
            .otherwise(F.lit("non_duplicate")),
        )
    )
    return out


def fuzzy_lattice_status(sim_e4, subset, symdiff, subset_status: str):
    """The ``is_fuzzy_duplicate`` status lattice as one Column
    (/root/reference/src/dedupe.c:415-441 + libpostal.c:185-193), shared
    by the sorted-set and the integrated-scorer variants: thresholds in
    the integer e4 domain, single-letter demotion of threshold-LIKELY
    pairs, and the subset rule (a no-op when ``subset_status`` is
    non_duplicate, exactly as in the reference's name wrapper)."""
    likely_e4 = int(LIKELY_THRESHOLD * 10000)
    review_e4 = int(NEEDS_REVIEW_THRESHOLD * 10000)
    thresholds = (
        F.when(
            sim_e4 >= likely_e4,
            F.when(symdiff, F.lit("needs_review")).otherwise(
                F.lit("likely_duplicate")
            ),
        )
        .when(sim_e4 >= review_e4, F.lit("needs_review"))
        .otherwise(F.lit("non_duplicate"))
    )
    if subset_status != "non_duplicate":
        # reference: subset sets the wrapper status BEFORE the
        # NON-guarded threshold block
        return F.when(subset, F.lit(subset_status)).otherwise(thresholds)
    # subset sets NON, then the threshold block still runs — a no-op
    return thresholds


def fuzzy_dup_status_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    subset_status: str = "non_duplicate",
) -> DataFrame:
    """The reference's full ``is_fuzzy_duplicate`` composition
    (/root/reference/src/dedupe.c:340-484) on top of Soft-TFIDF:

    1. **subset rule** (dedupe.c:415-417): when every matched-token count
       equals the smaller side's token count, the pair grades as
       ``subset_status`` BEFORE any threshold — ``non_duplicate`` for the
       name wrapper (is_name_duplicate_fuzzy, a no-op) and
       ``likely_duplicate`` for the street wrapper
       (is_street_duplicate_fuzzy): "main st" ⊂ "main st south". Matches
       the reference exactly, including the quirk that a 0-token side
       trivially satisfies it, and that when ``subset_status`` is
       non_duplicate the thresholds still apply.
    2. **thresholds** (libpostal.c:185-193): sim ≥ 0.9 → likely,
       ≥ 0.7 → needs_review — compared in the integer soft_e4 domain.
    3. **single-letter demotion** (dedupe.c:427-441, helper :231-293):
       a threshold-LIKELY pair whose single-letter token sets have a
       non-empty symmetric difference on BOTH sides ("A & B Jewelry" vs
       "B & C Jewelry") demotes to needs_review — single letters are
       low-information but, being rare, often tf-idf-heavy.

    Token counts/letters come from the same capped sorted-distinct sets
    the scorer uses (the reference uses the caller's full token arrays;
    the cap is this engine's bounded-work contract, applied identically
    to both sides and to the SQL twin). Output adds ``n_tokens1/2``,
    ``single_letter_mismatch``, and ``fuzzy_status`` to the
    soft_tfidf_pairs columns.
    """
    # ONE tokenization serves the scorer (via _weighted_cand) AND the
    # lattice's token counts / single-letter sets below — both the plan
    # cost and the drift hazard of two call sites disappear
    toks = _capped_token_sets(
        docs.withColumn("doc_id", F.col("doc_id").cast("long"))
    )
    base = soft_tfidf_pairs(docs, pairs, _toks=toks)
    ntok = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    letters = (
        toks.filter(
            (F.length("token") == 1) & F.col("token").rlike(r"^\p{L}$")
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("token")).alias("letters"))
    )
    empty = F.expr("cast(array() as array<string>)")
    out = (
        base.join(
            ntok.select(F.col("doc_id").alias("doc_id1"), F.col("nt").alias("nt1")),
            "doc_id1", "left",
        )
        .join(
            ntok.select(F.col("doc_id").alias("doc_id2"), F.col("nt").alias("nt2")),
            "doc_id2", "left",
        )
        .join(
            letters.select(
                F.col("doc_id").alias("doc_id1"), F.col("letters").alias("l1")
            ),
            "doc_id1", "left",
        )
        .join(
            letters.select(
                F.col("doc_id").alias("doc_id2"), F.col("letters").alias("l2")
            ),
            "doc_id2", "left",
        )
        .withColumn("nt1", F.coalesce("nt1", F.lit(0)).cast("long"))
        .withColumn("nt2", F.coalesce("nt2", F.lit(0)).cast("long"))
        .withColumn("l1", F.coalesce("l1", empty))
        .withColumn("l2", F.coalesce("l2", empty))
    )
    symdiff = (F.size(F.array_except("l1", "l2")) > 0) & (
        F.size(F.array_except("l2", "l1")) > 0
    )
    subset = F.col("n_matched") == F.least("nt1", "nt2")
    status = fuzzy_lattice_status(
        F.col("soft_e4"), subset, symdiff, subset_status
    )
    return (
        out.withColumn("single_letter_mismatch", symdiff)
        .withColumn("fuzzy_status", status)
        .select(
            "doc_id1", "doc_id2", "n_matched",
            F.col("nt1").alias("n_tokens1"), F.col("nt2").alias("n_tokens2"),
            "soft_e4", "soft_tfidf", "single_letter_mismatch", "fuzzy_status",
        )
    )


def soft_tfidf_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    _toks: DataFrame | None = None,
) -> DataFrame:
    """Soft-TFIDF score per candidate pair.

    ``pairs`` is any (doc_id1, doc_id2) frame; default = adjacent ids (the
    harness's deterministic slice — production pairing comes from the LSH
    blocking stage, exactly as the reference expects its caller to provide
    candidate pairs).

    Output: doc_id1, doc_id2, n_matched, soft_tfidf (4dp), status
    (likely_duplicate / needs_review / non_duplicate — reference
    thresholds 0.9 / 0.7).
    """
    from ..functions.udfs import make_strsim_udf

    pairs, cand, norms = _weighted_cand(docs, pairs, toks=_toks)

    # the reference's match ladder (soft_tfidf.c:240-465): exact/JW ≥ 0.9,
    # OR Damerau-Levenshtein ≤ 1 for tokens of length ≥ 4 (typo rung) —
    # a DL-rung match scores with its JW value like any other match
    strsim = make_strsim_udf(JW_MAX_LEN)
    m = strsim(F.col("tok_a"), F.col("tok_b"))
    scored = (
        cand.withColumn("jw_e4", F.floor(m["jw"] * 10000).cast("long"))
        .withColumn("dl", m["dl"])
        .filter(
            (F.col("jw_e4") >= F.lit(JW_CLOSE_E4))
            | (
                (F.col("dl") <= 1)
                & (F.length("tok_a") >= 4)
                & (F.length("tok_b") >= 4)
            )
        )
    )
    # best B-match per (pair, A-token): max jw, tie to lexicographically
    # smaller token (deterministic, mirrors the SQL twin)
    wbest = Window.partitionBy("doc_id1", "doc_id2", "tok_a").orderBy(
        F.desc("jw_e4"), F.asc("tok_b")
    )
    best = (
        scored.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
    )
    agg = best.groupBy("doc_id1", "doc_id2").agg(
        F.count("*").alias("n_matched"),
        F.sum(F.col("w_a") * F.col("w_b") * F.col("jw_e4")).alias("score_int"),
    )
    # norms is one row per DOCUMENT — corpus-sized, so these are plain
    # shuffle joins (AQE may still broadcast them at small scale); only the
    # distinct-token weight table above is explicitly broadcast
    out = (
        pairs.join(agg, ["doc_id1", "doc_id2"], "left")
        .join(
            norms.select(F.col("doc_id").alias("doc_id1"),
                         F.col("n2").alias("na2")),
            "doc_id1", "left",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_id2"),
                         F.col("n2").alias("nb2")),
            "doc_id2", "left",
        )
        .select(
            "doc_id1",
            "doc_id2",
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.when(
                (F.coalesce("na2", F.lit(0)) > 0)
                & (F.coalesce("nb2", F.lit(0)) > 0)
                & F.col("score_int").isNotNull(),
                F.floor(
                    F.col("score_int").cast("double")
                    / (
                        F.sqrt(F.col("na2").cast("double"))
                        * F.sqrt(F.col("nb2").cast("double"))
                    )
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("soft_e4"),
        )
        .withColumn("soft_tfidf", F.col("soft_e4") / F.lit(10000.0))
        .withColumn(
            "status",
            F.when(F.col("soft_e4") >= int(LIKELY_THRESHOLD * 10000),
                   F.lit("likely_duplicate"))
            .when(F.col("soft_e4") >= int(NEEDS_REVIEW_THRESHOLD * 10000),
                  F.lit("needs_review"))
            .otherwise(F.lit("non_duplicate")),
        )
    )
    return out
