"""Pairwise confirm: candidate pairs → confirmed duplicate pairs.

Reference analog: ``is_dupe``'s expansion-set intersection
(/root/reference/src/dedupe.c:13-100) and Jaccard
(/root/reference/src/jaccard.c:3-69), with thresholds from
/root/reference/src/libpostal.c:185-186. Our confirm is **exact Jaccard over
shingle sets**, computed by one Arrow-batched pandas UDF over each pair's two
canon strings (with per-batch dedup of repeated representatives — see
``featurize.pair_jaccard_batch``); the winnow-overlap long-clone check is the
JVM-side part (``arrays_overlap`` on the stored fingerprints).

A pair is confirmed when either:
  * jaccard >= cfg.jaccard_threshold (near-duplicate whole files), or
  * the two files share a winnow fingerprint AND a token-for-token VERIFIED
    common run of >= WINNOW_GUARANTEE tokens (W + select - 1 = 159;
    rolling-window match + exact verify + extension) — the long-clone rule
    that Jaccard alone cannot express (a 200-token block inside two
    otherwise-different files), measured rather than hash-trusted. The
    bar sits at the GUARANTEE window, not the raw W: runs in
    [W, W+select-1) are only probabilistically winnow-visible, so accepting
    them would make edges depend on which fingerprints winnowing
    selected — at the guarantee bar the edge rule is deterministic and
    coincides with the exhaustive oracle's shared-run rule.

Exact pairs (same sha256) never reach this stage — the short-circuit the
reference applies before expensive similarity (/root/reference/src/soft_tfidf.c:336-341).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import LIKELY_THRESHOLD, WINNOW_GUARANTEE, PipelineConfig


def verified_pairs(
    pairs: DataFrame, rep_sigs: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Join signature columns onto each side and confirm.

    Output: fid1, fid2, jaccard, source, sources (kind provenance),
    lcs_tokens, lcs_exhausted, status. The two joins shuffle on fid — at
    scale, rep_sigs is bucketed by fid so both probes co-locate; AQE
    handles residual skew.

    The winnow overlap is checked JVM-side on the stored fingerprints; ONE
    fused Arrow pass (make_pair_confirm_udf) then computes exact Jaccard
    for every pair plus the exact substring verification for winnow-only
    rows. A winnow hit is ACCEPTED only when the verified common run really
    reaches the guarantee bar — the measured (not w.h.p.) form of the
    long-clone rule. ``lcs_tokens`` is the length of a verified shared
    token run, not necessarily the longest: ``pair_lcs_batch`` stops at
    the first verified run that reaches the bar, so an accepted pair's
    value is at least ``WINNOW_GUARANTEE`` and at most the true LCS.
    lcs_tokens = -1 marks rows where the run check was skipped (jaccard
    already decided). A pair whose alignment budget was
    exhausted carries ``lcs_exhausted``; one whose under-reported run fell
    below the confirm bar is absent by construction.
    """
    from ..functions.udfs import make_pair_confirm_udf

    def side(i: int) -> DataFrame:
        return rep_sigs.select(
            *[F.col(c).alias(f"{c}{i}") for c in ("fid", "canon", "winnow")]
        )

    # nondeterministic only to the optimizer: the UDF is a pure function of
    # its inputs, but a deterministic UDF's output struct fields may be
    # inlined into the confirm filter below and pushed down past the
    # projection, which evaluates the UDF a second time per pair (two
    # ArrowEvalPython nodes, every canon pair shipped to Python twice).
    # Catalyst never inlines or duplicates a nondeterministic expression.
    confirm_udf = make_pair_confirm_udf(cfg).asNondeterministic()
    graded = (
        pairs.join(side(1), "fid1")
        .join(side(2), "fid2")
        .withColumn("substring_hit", F.arrays_overlap("winnow1", "winnow2"))
        .withColumn(
            "c",
            confirm_udf(F.col("canon1"), F.col("canon2"), F.col("substring_hit")),
        )
        .select(
            "fid1", "fid2", "source", "sources",
            F.col("c.jaccard").alias("jaccard"),
            F.col("c.lcs_tokens").alias("lcs_tokens"),
            F.col("c.lcs_exhausted").alias("lcs_exhausted"),
        )
    )
    confirmed = graded.filter(
        (F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
        | (F.col("lcs_tokens") >= F.lit(WINNOW_GUARANTEE))
    )
    # lcs_exhausted is carried on every confirmed row: a pair whose run
    # verification hit the alignment budget (and may therefore under-report
    # lcs_tokens) is visible to consumers/metrics rather than silently
    # graded — the per-pair analog of the bucket_stats ledger
    return confirmed.select(
        "fid1", "fid2", "jaccard", "source", "sources", "lcs_tokens",
        "lcs_exhausted",
        status_expr(F.col("jaccard")).alias("status"),
    )


_TOPO_FIELDS = ("city", "city_district", "suburb", "state_district", "state", "country")


def toponym_status_pairs(
    pairs: DataFrame, expansions: dict[str, str] | None = None
) -> DataFrame:
    """Reference parity for ``is_toponym_duplicate``
    (/root/reference/src/dedupe.c:158-229): place-component cross-matching
    with status downgrades and containing-region vetoes.

    Input: one row per place pair with columns ``{field}1``/``{field}2``
    for each of city, city_district, suburb, state_district, state,
    country (NULL = component absent). Output adds ``topo_status``.

    The reference's component equality is "expansion sets intersect"; with
    a single-alternative dictionary (every shipped one) that is EQUIVALENT
    to equality of fully-rewritten canonical forms — rewriting is
    confluent, so both sides reduce to the same root iff any expansion
    coincides — which is what this operator compares (the same reduction
    the canonicalize_expanded twin replays in SQL). Full-form and
    root-form equality coincide under the same condition, so the
    state_district veto's root comparison uses the same canon.

    The reference's exact branch structure is preserved, including its
    quirks: a match is only attempted against the OTHER side's city when
    this side's city is ABSENT (two differing cities are never rescued by
    a district), branch 4 compares city1 to city_district2, and branch 5
    compares suburb1 to suburb2 (as written at dedupe.c:201-207 — not
    city1 to suburb2). Emits: exact_duplicate (city=city),
    likely_duplicate (city=city_district), needs_review (suburb rungs),
    non_duplicate otherwise or when a present-on-both-sides
    state_district / state / country disagrees.
    """
    from ..functions.udfs import make_canonicalize_udf

    canon_udf = make_canonicalize_udf(expansions=expansions)
    # ONE select for all 12 canon columns: a withColumn chain re-analyzes
    # the growing plan 12 times (O(cols²) driver work — measurable Catalyst
    # time on every invocation); the single projection is the same plan
    df = pairs.select(
        "*",
        *[
            canon_udf(F.col(f + s)).alias(f"_c_{f}{s}")
            for f in _TOPO_FIELDS
            for s in ("1", "2")
        ],
    )

    def present(name: str) -> Column:
        return F.col(name).isNotNull()

    def eq(f1: str, f2: str) -> Column:
        return (
            present(f1) & present(f2)
            & (F.col(f"_c_{f1}") == F.col(f"_c_{f2}"))
        )

    m1 = eq("city1", "city2")
    m2 = ~present("city1") & eq("city_district1", "city2")
    m3 = ~present("city1") & eq("suburb1", "city2")
    m4 = ~present("city2") & present("city_district2") & eq("city1", "city_district2")
    m5 = ~present("city2") & present("suburb2") & present("city1") & eq(
        "suburb1", "suburb2"
    )
    veto = (
        (present("state_district1") & present("state_district2")
         & ~eq("state_district1", "state_district2"))
        | (present("state1") & present("state2") & ~eq("state1", "state2"))
        | (present("country1") & present("country2")
           & ~eq("country1", "country2"))
    )
    status = (
        F.when(m1, F.lit(STATUS_EXACT))
        .when(m2, F.lit(STATUS_LIKELY))
        .when(m3, F.lit(STATUS_NEEDS_REVIEW))
        .when(m4, F.lit(STATUS_LIKELY))
        .when(m5, F.lit(STATUS_NEEDS_REVIEW))
        .otherwise(F.lit(STATUS_NON))
    )
    out = df.withColumn(
        "topo_status",
        F.when(status == STATUS_NON, status)
        .when(veto, F.lit(STATUS_NON))
        .otherwise(status),
    )
    return out.drop(*[f"_c_{f}{s}" for f in _TOPO_FIELDS for s in ("1", "2")])


# 4-level duplicate status, mirroring libpostal_duplicate_status_t
# (/root/reference/src/libpostal.h:218-224; thresholds
# /root/reference/src/libpostal.c:185-193). EXACT is assigned upstream by the
# sha256 contraction (blocking.exact_groups); NON never reaches the output
# (filtered); winnow-only confirms (long clone, jaccard below the needs-review
# bar) grade as needs_review — a shared >=159-token run warrants human review
# but is not whole-file LIKELY.
STATUS_EXACT = "exact_duplicate"
STATUS_LIKELY = "likely_duplicate"
STATUS_NEEDS_REVIEW = "needs_review"
STATUS_NON = "non_duplicate"


def status_expr(jaccard: Column) -> Column:
    """Grade a confirmed pair's Jaccard into the reference's status enum."""
    return F.when(
        jaccard >= F.lit(LIKELY_THRESHOLD), F.lit(STATUS_LIKELY)
    ).otherwise(F.lit(STATUS_NEEDS_REVIEW))
