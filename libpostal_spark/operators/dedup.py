"""Dedup operators over generic text tables (the `documents` training corpus).

The flagship code pipeline (pipeline.py) works on the
(repo, path, commit, lang, content) schema; this module adapts any
(id, text) table onto it and adds the SQL-expressible dedup primitives a
training-data pipeline needs: exact dedup, n-gram Jaccard pairs, MinHash-LSH
clustering, SimHash keys. The clustering and duplicate-listing operators
take a ``PipelineResult`` — ``DedupPipeline(spark, cfg).run(
docs_as_files(documents))`` is the one way to reach S1–S7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..pipeline import PipelineResult
from . import verify


def docs_as_files(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, …) → files schema adapter."""
    return documents.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0").alias("commit"),
        F.col("lang").alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """Exact dedup: group by raw sha256; groups with >1 member are dup sets.

    Output: group_sha, dup_count, canonical_doc_id (min id — the keeper).
    """
    return (
        documents.withColumn("group_sha", F.sha2(F.col("text").cast("binary"), 256))
        .groupBy("group_sha")
        .agg(
            F.count("*").alias("dup_count"),
            # cast BEFORE min: on a string-keyed table a lexicographic min
            # would pick '10' over '9', violating the min-id-keeper contract
            F.min(F.col("doc_id").cast("long")).alias("canonical_doc_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def token_set(text: F.Column) -> F.Column:
    """distinct lowercase word set (sorted for deterministic comparisons).
    NULL text = empty set: without the coalesce a NULL propagates through
    array_intersect/union, size() reads -1, and the both-empty jaccard
    convention (1.0) fires for a pair that is nothing like identical."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    arr = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    return F.array_sort(F.array_distinct(arr))


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Exact token-set Jaccard between adjacent document pairs.

    Pairs doc_id with doc_id+1 (a cheap deterministic slice used by the
    oracle harness); full pairing goes through the LSH pipeline — an
    all-pairs Jaccard is exactly the O(n²) the blocking stage exists to
    avoid.
    """
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), token_set(F.col("text")).alias("toks")
    )
    a = toks.select(F.col("doc_id").alias("doc_id1"), F.col("toks").alias("t1"))
    b = toks.select(F.col("doc_id").alias("doc_id2"), F.col("toks").alias("t2"))
    pairs = a.join(b, F.col("doc_id2") == F.col("doc_id1") + 1)
    inter = F.size(F.array_intersect("t1", "t2"))
    union = F.size(F.array_union("t1", "t2"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(1.0)
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .select("doc_id1", "doc_id2", "jaccard")
    )


# pairs one duplicate class (or near-dup class product) may list before
# the listing falls back to star pairs through its representative(s)
MAX_PAIRS_PER_CLASS = 10_000


def dup_status_pairs(
    result: PipelineResult, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Graded duplicate pairs of a ``DedupPipeline.run`` result: every pair
    with same sha256 or Jaccard >= cfg.jaccard_threshold (``cfg`` is the
    config the result was run with), with the reference's 4-level status
    (/root/reference/src/libpostal.h:218-224; is_dupe thresholds
    /root/reference/src/libpostal.c:185-193).

    Output: (pairs, ledger). pairs: doc_id1, doc_id2 (ordered by fid),
    jaccard (4dp), status. ledger: one row per CAPPED expansion (kind,
    n_members, pairs_emitted, pairs_suppressed) — the no-silent-caps
    contract: a truncated listing is always visible as data.

    This is the pairs-LISTING api — its output is by definition quadratic in
    duplicate-class size (an exact class of n docs yields n(n-1)/2 exact
    pairs), so the listing re-expands the pipeline's O(n) rep
    representation: each row's class is its ``rep_fid``.
    ``MAX_PAIRS_PER_CLASS`` bounds that re-expansion: a class (or near-dup
    class product) whose full listing would exceed the cap emits STAR pairs
    through its representative(s) instead — O(n) rows, still covering every
    member — and books the suppressed count in the ledger. A 10^6-copy
    boilerplate class therefore cannot detonate the listing into 5×10^11
    rows; below the cap every member pair is listed. At scale you consume
    `minhash_clusters` (linear labels); this listing exists for the
    pairwise-API parity the reference's test_dedupe suite asserts.
    Winnow-only confirms (jaccard below the needs-review bar) are excluded
    — they are a long-clone signal, not a whole-file duplicate grade.
    """
    sigs = result.signatures
    ids = sigs.select("fid", F.col("path").cast("long").alias("doc_id"))
    members = (
        sigs.select("fid", F.col("rep_fid").alias("rep"))
        .withColumn("csize", F.count("*").over(Window.partitionBy("rep")))
    )
    # one row per class: the representative is a member of its own class
    csizes = members.filter(F.col("fid") == F.col("rep")).select(
        "rep", F.col("csize").alias("n")
    )
    cap = F.lit(MAX_PAIRS_PER_CLASS)
    # the largest class bounds every expansion: n(n-1)/2 exact pairs and
    # n1*n2 near pairs are both at most mx^2. One aggregate over the cached
    # frame; when no class can reach the cap, the cap conditions below are
    # the literal False and Catalyst prunes the star branches, the
    # class-size joins and the window from the plan
    mx = sigs.groupBy("rep_fid").count().agg(F.max("count")).first()[0] or 0
    capping = mx * mx > MAX_PAIRS_PER_CLASS

    # near-dup pairs: rep<->rep confirms expanded to every member pair
    # (identical content => identical jaccard to any third file) — unless
    # the class product exceeds the cap, in which case only the star pairs
    # through each side's representative are listed: a capped confirm
    # keeps only its rep1 row for the second expansion (rep1 × class2) and
    # lists its other class1 members against rep2, so no capped product is
    # ever materialized
    near = result.confirmed.filter(
        F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    ).select("fid1", "fid2", "jaccard", "status")
    sized = (
        near.join(csizes.select(F.col("rep").alias("fid1"), F.col("n").alias("n1")), "fid1")
        .join(csizes.select(F.col("rep").alias("fid2"), F.col("n").alias("n2")), "fid2")
        .withColumn("capped", F.col("n1") * F.col("n2") > cap)
    )
    near = sized if capping else near.withColumn("capped", F.lit(False))
    m1 = members.select(F.col("rep").alias("fid1"), F.col("fid").alias("u"))
    m2 = members.select(F.col("rep").alias("fid2"), F.col("fid").alias("v"))
    side1 = near.join(m1, "fid1")
    is_rep1 = F.col("u") == F.col("fid1")
    near_pairs = (
        side1.filter(~F.col("capped") | is_rep1)
        .join(m2, "fid2")
        .select("u", "v", "jaccard", "status")
        .unionByName(
            side1.filter(F.col("capped") & ~is_rep1).select(
                "u", F.col("fid2").alias("v"), "jaccard", "status"
            )
        )
        .select(
            F.least("u", "v").alias("fid_a"),
            F.greatest("u", "v").alias("fid_b"),
            "jaccard",
            "status",
        )
    )

    # exact pairs: all member pairs within each class; a class whose
    # n(n-1)/2 exceeds the cap lists only the n-1 star pairs to its rep
    # (min fid), so only its rep row enters the self-join's left side
    exact_cap = (
        F.col("csize") * (F.col("csize") - 1) / 2 > cap if capping
        else F.lit(False)
    )
    xa = members.filter(~exact_cap | (F.col("fid") == F.col("rep")))
    exact_pairs = (
        xa.select("rep", F.col("fid").alias("fid_a"))
        .join(members.select("rep", F.col("fid").alias("fid_b")), "rep")
        .filter(F.col("fid_a") < F.col("fid_b"))
        .select(
            "fid_a",
            "fid_b",
            F.lit(1.0).alias("jaccard"),
            F.lit(verify.STATUS_EXACT).alias("status"),
        )
    )

    out = (
        exact_pairs.unionByName(near_pairs)
        .join(ids.withColumnRenamed("fid", "fid_a"), "fid_a")
        .withColumnRenamed("doc_id", "doc_id1")
        .join(ids.withColumnRenamed("fid", "fid_b"), "fid_b")
        .withColumnRenamed("doc_id", "doc_id2")
    )

    full = F.col("n1") * F.col("n2")
    n = F.col("n")
    ledger = (
        csizes.filter(n * (n - 1) / 2 > cap)
        .select(
            F.lit("exact").alias("kind"),
            n.cast("long").alias("n_members"),
            (n - 1).cast("long").alias("pairs_emitted"),
            (n * (n - 1) / 2 - (n - 1)).cast("long").alias("pairs_suppressed"),
        )
        .unionByName(
            sized.filter(F.col("capped")).select(
                F.lit("near").alias("kind"),
                (F.col("n1") + F.col("n2")).cast("long").alias("n_members"),
                (F.col("n1") + F.col("n2") - 1).cast("long").alias("pairs_emitted"),
                (full - F.col("n1") - F.col("n2") + 1).cast("long").alias(
                    "pairs_suppressed"
                ),
            )
        )
    )
    return (
        out.select(
            "doc_id1", "doc_id2", F.round("jaccard", 4).alias("jaccard"), "status"
        ),
        ledger,
    )


_ACR_MAX_TOKENS = 12


def _acr_tokens_expr(text_col: str) -> str:
    # coalesce: NULL text = zero tokens (a NULL array would propagate to
    # size() = -1 in the match counts)
    return (
        f"slice(filter(split(lower(trim(coalesce({text_col}, ''))), '\\\\s+'),"
        f" t -> length(t) > 0), 1, {_ACR_MAX_TOKENS})"
    )


def acronym_pairs(docs: DataFrame) -> DataFrame:
    """Acronym-phrase alignment between adjacent doc pairs (reference:
    ``existing_acronym_phrase_alignments``, /root/reference/src/acronyms.c —
    the soft_tfidf match rung that lets "nyu" align with
    "new york university").

    Rule (directional, deterministic): an alphabetic token ``a`` of doc A
    with 2 ≤ len(a) ≤ 6 MATCHES doc B when some contiguous run of len(a)
    tokens in B has first letters concatenating to ``a``. Token streams
    are the first ``_ACR_MAX_TOKENS`` (= 12) whitespace tokens (bounded
    work per pair); candidate acronyms are the distinct qualifying tokens
    of A.

    Pure JVM higher-order-function expressions — no Python anywhere — and
    fully SQL-expressible, which is what lets the DuckDB oracle replay it.

    Output: doc_id1, doc_id2, n_acronyms, acronyms (comma-joined sorted).
    """
    matched = """
        array_sort(filter(
          filter(array_distinct(ats),
                 a -> length(a) >= 2 AND length(a) <= 6
                      AND a rlike '^[a-z]+$'),
          a -> size(bt) >= length(a) AND exists(
                 sequence(1, greatest(size(bt) - length(a) + 1, 1)),
                 i -> array_join(
                        transform(slice(bt, i, length(a)),
                                  t -> substring(t, 1, 1)), '') = a)))
    """
    a = docs.select(
        F.col("doc_id").cast("long").alias("doc_id1"),
        F.expr(_acr_tokens_expr("text")).alias("ats"),
    )
    b = docs.select(
        (F.col("doc_id").cast("long") - 1).alias("doc_id1"),
        F.col("doc_id").cast("long").alias("doc_id2"),
        F.expr(_acr_tokens_expr("text")).alias("bt"),
    )
    joined = a.join(b, "doc_id1").withColumn("matched", F.expr(matched))
    return joined.select(
        "doc_id1",
        "doc_id2",
        F.size("matched").cast("long").alias("n_acronyms"),
        F.array_join("matched", ",").alias("acronyms"),
    )


_MW_MAX_TOKENS = 16


def _mw_tokens_expr(text_col: str) -> str:
    # coalesce: NULL text = zero tokens (see _acr_tokens_expr)
    return (
        f"slice(filter(split(lower(trim(coalesce({text_col}, ''))), '\\\\s+'),"
        f" t -> length(t) > 0), 1, {_MW_MAX_TOKENS})"
    )


def multiword_alignment_expr(short_col: str, long_col: str) -> str:
    """SQL fragment: multi-word token alignments of ``short_col`` (fewer,
    possibly-concatenated tokens) against ``long_col`` (more tokens).

    Reference: ``multi_word_token_alignments``
    (/root/reference/src/string_similarity.c:590-680) — "Sea World" aligns
    with "Seaworld". For each token of the SHORT side, scan the LONG side
    left to right, greedily consuming tokens whose concatenation spells the
    short token; record an alignment when the spelling completes across
    MORE THAN ONE long token. The reference's sequential-scan quirks are
    kept: a long token consumed by a failed partial match is NOT retried as
    a new start (no backtracking — "abc" finds nothing in "ab ab c"), and a
    whole-token exact equality (one-token spelling) is never an alignment.
    One knowing divergence: the reference carries a stale ``phrase_start``
    across short tokens when a partial match is still open at end-of-scan
    (plainly unintended); this scan starts each short token fresh.

    Output: array<struct<long_start:int, long_len:int, short_idx:int>>,
    positions 0-based — the (phrase_start, len, data=i) triple of the
    reference's phrase_t. Pure JVM higher-order functions (aggregate is the
    stateful left fold), fully SQL-expressible for oracle replay.
    """
    tj = f"element_at({long_col}, j + 1)"
    started = "(CASE WHEN acc.start < 0 THEN j ELSE acc.start END)"
    # explicit empty-long guard: sequence(0, -1) would yield the DESCENDING
    # [0, -1] and the j = -1 step's element_at(col, 0) always throws — this
    # fragment is documented standalone, so the guard must live here, not
    # in whichever wrapper happens to short-circuit first (same hazard
    # class as the acronym_pairs sequence bound)
    return f"""
      CASE WHEN size({long_col}) = 0
      THEN cast(array() as
                array<struct<long_start:int, long_len:int, short_idx:int>>)
      ELSE
      flatten(transform({short_col}, (st, si) ->
        transform(
          aggregate(
            sequence(0, size({long_col}) - 1),
            named_struct('pos', 0, 'start', -1,
                         'outs', cast(array() as array<struct<ls:int, ll:int>>)),
            (acc, j) -> CASE
              WHEN substring(st, acc.pos + 1, length({tj})) = {tj}
              THEN CASE
                WHEN acc.pos + length({tj}) = length(st)
                     AND j - {started} > 0
                THEN named_struct('pos', 0, 'start', -1,
                       'outs', acc.outs || array(named_struct(
                         'ls', {started}, 'll', j - {started} + 1)))
                ELSE named_struct('pos', acc.pos + length({tj}),
                       'start', {started}, 'outs', acc.outs)
              END
              ELSE named_struct('pos', 0, 'start', -1, 'outs', acc.outs)
            END,
            acc -> acc.outs),
          o -> named_struct('long_start', o.ls, 'long_len', o.ll,
                            'short_idx', si))))
      END
    """


def multiword_alignments(
    df: DataFrame, col_a: str = "ta", col_b: str = "tb"
) -> DataFrame:
    """Add ``mw_alignments`` to a frame of token-array pairs.

    Mirrors the reference's entry conditions: equal token counts → no
    alignments (empty array; the reference returns NULL); otherwise the
    shorter array is the spelled side. See ``multiword_alignment_expr``.
    """
    short_c = F.when(
        F.size(col_a) < F.size(col_b), F.col(col_a)
    ).otherwise(F.col(col_b))
    long_c = F.when(
        F.size(col_a) < F.size(col_b), F.col(col_b)
    ).otherwise(F.col(col_a))
    out = (
        df.withColumn("mw_short", short_c)
        .withColumn("mw_long", long_c)
        .withColumn(
            "mw_alignments",
            F.when(
                F.size(col_a) == F.size(col_b),
                F.expr(
                    "cast(array() as array<struct<long_start:int,"
                    "long_len:int, short_idx:int>>)"
                ),
            ).otherwise(F.expr(multiword_alignment_expr("mw_short", "mw_long"))),
        )
    )
    return out.drop("mw_short", "mw_long")


def minhash_clusters(result: PipelineResult) -> DataFrame:
    """MinHash-LSH near-dup clustering of a documents table, read off the
    ``DedupPipeline.run`` result of its ``docs_as_files`` adapter.

    Output: doc_id, component (fid-space label), is_canonical.
    """
    sig = result.signatures.select("fid", F.col("path").alias("doc_id"))
    # deliberately NOT sorted: a global orderBy here would be a full sort of
    # the production output; callers that need display order sort themselves
    return result.clusters.join(sig, "fid").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "component",
        "is_canonical",
    )
