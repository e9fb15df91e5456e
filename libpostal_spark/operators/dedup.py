"""Dedup operators over generic text tables (the `documents` training corpus).

The flagship code pipeline (pipeline.py) works on the
(repo, path, commit, lang, content) schema; this module adapts any
(id, text) table onto it and adds the SQL-expressible dedup primitives a
training-data pipeline needs: exact dedup, n-gram Jaccard pairs, MinHash-LSH
clustering, SimHash keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..config import PipelineConfig
from ..pipeline import DedupPipeline
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
    spark,
    documents: DataFrame,
    cfg: PipelineConfig | None = None,
    max_class_size: int | None = None,
    result=None,
) -> DataFrame:
    """Graded duplicate pairs — see ``dup_status_pairs_with_ledger``."""
    pairs, _ = dup_status_pairs_with_ledger(
        spark, documents, cfg, max_class_size, result,
    )
    return pairs


def dup_status_pairs_with_ledger(
    spark,
    documents: DataFrame,
    cfg: PipelineConfig | None = None,
    max_class_size: int | None = None,
    result=None,
) -> tuple[DataFrame, DataFrame]:
    """Graded duplicate pairs: every pair with same sha256 or Jaccard >=
    cfg.jaccard_threshold, with the reference's 4-level status
    (/root/reference/src/libpostal.h:218-224; is_dupe thresholds
    /root/reference/src/libpostal.c:185-193).

    Output: (pairs, ledger). pairs: doc_id1, doc_id2 (ordered by fid),
    jaccard (4dp), status. ledger: one row per CAPPED expansion (kind,
    n_members, pairs_emitted, pairs_suppressed) — the no-silent-caps
    contract: a truncated listing is always visible as data.

    This is the pairs-LISTING api — its output is by definition quadratic in
    duplicate-class size (an exact class of n docs yields n(n-1)/2 exact
    pairs), so the listing re-expands the pipeline's O(n) star/rep
    representation. ``MAX_PAIRS_PER_CLASS`` bounds that re-expansion: a
    class (or near-dup class product) whose full listing would exceed the
    cap emits STAR pairs through its representative(s) instead — O(n) rows,
    still covering every member — and books the suppressed count in the
    ledger. A 10^6-copy boilerplate class therefore cannot detonate the
    listing into 5×10^11 rows. At scale you consume `minhash_clusters`
    (linear labels); this listing exists for the pairwise-API parity the
    reference's test_dedupe suite asserts. Winnow-only confirms (jaccard
    below the needs-review bar) are excluded — they are a long-clone
    signal, not a whole-file duplicate grade.
    """
    cfg = cfg or PipelineConfig()
    if result is not None:
        # reuse an already-run PipelineResult for the same (documents, cfg)
        # — callers holding one (the harness's per-session pipeline cache)
        # skip this function's three driver actions entirely
        res = result
    else:
        files = docs_as_files(documents)
        res = DedupPipeline(spark, cfg).run(files)
    sigs = res.signatures
    ids = sigs.select("fid", F.col("path").cast("long").alias("doc_id"))
    w = Window.partitionBy("sha256")
    members = (
        sigs.select("fid", "sha256")
        .withColumn("rep", F.min("fid").over(w))
        .withColumn("csize", F.count("*").over(w))
    )
    cap = F.lit(MAX_PAIRS_PER_CLASS)

    # near-dup pairs: rep<->rep confirms expanded to every member pair
    # (identical content => identical jaccard to any third file) — unless
    # the class product exceeds the cap, in which case only the star pairs
    # through each side's representative are listed
    near = res.confirmed.filter(
        F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    ).select("fid1", "fid2", "jaccard", "status")

    # adaptive plan pruning: the largest sha256 class decides the plan
    # shape; if even the WORST pairing that class could produce fits the
    # cap, the whole cap machinery — class-size joins, capped/star
    # branches, ledger — is pruned from the plan and the simple
    # full-expansion shape is built instead (Catalyst time + runtime).
    # Callers that already materialized the signatures (the session
    # signature cache) pass max_class_size to skip this gating action.
    if max_class_size is not None:
        mx = max_class_size
    else:
        mx = members.agg(F.max("csize").alias("m")).collect()[0]["m"] or 0
    cap_possible = (
        mx * (mx - 1) // 2 > MAX_PAIRS_PER_CLASS
        or mx * mx > MAX_PAIRS_PER_CLASS
    )
    if not cap_possible:
        m1 = members.select(F.col("rep").alias("fid1"), F.col("fid").alias("u"))
        m2 = members.select(F.col("rep").alias("fid2"), F.col("fid").alias("v"))
        near_exp = (
            near.join(m1, "fid1")
            .join(m2, "fid2")
            .select(
                F.least("u", "v").alias("fid_a"),
                F.greatest("u", "v").alias("fid_b"),
                "jaccard",
                "status",
            )
        )
        xa = members.select("sha256", F.col("fid").alias("fid_a"))
        xb = members.select("sha256", F.col("fid").alias("fid_b"))
        exact = (
            xa.join(xb, "sha256")
            .filter(F.col("fid_a") < F.col("fid_b"))
            .select(
                "fid_a",
                "fid_b",
                F.lit(1.0).alias("jaccard"),
                F.lit(verify.STATUS_EXACT).alias("status"),
            )
        )
        out = (
            exact.unionByName(near_exp)
            .join(ids.withColumnRenamed("fid", "fid_a"), "fid_a")
            .withColumnRenamed("doc_id", "doc_id1")
            .join(ids.withColumnRenamed("fid", "fid_b"), "fid_b")
            .withColumnRenamed("doc_id", "doc_id2")
            .select(
                "doc_id1", "doc_id2",
                F.round("jaccard", 4).alias("jaccard"), "status",
            )
        )
        ledger = spark.createDataFrame(
            [],
            "kind string, n_members long, pairs_emitted long, "
            "pairs_suppressed long",
        )
        return out, ledger
    csizes = members.groupBy("rep").agg(F.first("csize").alias("n"))
    near = (
        near.join(csizes.select(F.col("rep").alias("fid1"), F.col("n").alias("n1")), "fid1")
        .join(csizes.select(F.col("rep").alias("fid2"), F.col("n").alias("n2")), "fid2")
        .withColumn("capped", F.col("n1") * F.col("n2") > cap)
    )
    m1 = members.select(F.col("rep").alias("fid1"), F.col("fid").alias("u"))
    m2 = members.select(F.col("rep").alias("fid2"), F.col("fid").alias("v"))
    near_full = (
        near.filter(~F.col("capped"))
        .join(m1, "fid1")
        .join(m2, "fid2")
        .select(
            F.least("u", "v").alias("fid_a"),
            F.greatest("u", "v").alias("fid_b"),
            "jaccard",
            "status",
        )
    )
    near_capped = near.filter(F.col("capped"))
    near_star = (
        near_capped.join(m2, "fid2")
        .select("fid1", F.col("v").alias("other"), "jaccard", "status")
        .unionByName(
            near_capped.join(m1, "fid1").select(
                F.col("fid2").alias("fid1"),
                F.col("u").alias("other"),
                "jaccard",
                "status",
            )
        )
        .select(
            F.least("fid1", "other").alias("fid_a"),
            F.greatest("fid1", "other").alias("fid_b"),
            "jaccard",
            "status",
        )
        .distinct()   # (rep1, rep2) arrives from both star fans
    )

    # exact pairs: all member pairs within each sha256 class; classes whose
    # n(n-1)/2 exceeds the cap list only the n-1 star pairs to the rep
    exact_small = members.filter(
        F.col("csize") * (F.col("csize") - 1) / 2 <= cap
    )
    xa = exact_small.select("sha256", F.col("fid").alias("fid_a"))
    xb = exact_small.select("sha256", F.col("fid").alias("fid_b"))
    exact = (
        xa.join(xb, "sha256")
        .filter(F.col("fid_a") < F.col("fid_b"))
        .select("fid_a", "fid_b")
    )
    exact_star = (
        members.filter(
            (F.col("csize") * (F.col("csize") - 1) / 2 > cap)
            & (F.col("fid") != F.col("rep"))
        )
        .select(F.col("rep").alias("fid_a"), F.col("fid").alias("fid_b"))
    )
    exact_all = exact.unionByName(exact_star).select(
        "fid_a",
        "fid_b",
        F.lit(1.0).alias("jaccard"),
        F.lit(verify.STATUS_EXACT).alias("status"),
    )

    pairs = exact_all.unionByName(near_full).unionByName(near_star)
    out = (
        pairs.join(ids.withColumnRenamed("fid", "fid_a"), "fid_a")
        .withColumnRenamed("doc_id", "doc_id1")
        .join(ids.withColumnRenamed("fid", "fid_b"), "fid_b")
        .withColumnRenamed("doc_id", "doc_id2")
    )

    full = F.col("n1") * F.col("n2")
    ledger = (
        members.filter(F.col("csize") * (F.col("csize") - 1) / 2 > cap)
        .groupBy("sha256")
        .agg(F.first("csize").alias("n_members"))
        .select(
            F.lit("exact").alias("kind"),
            F.col("n_members").cast("long"),
            (F.col("n_members") - 1).cast("long").alias("pairs_emitted"),
            (
                F.col("n_members") * (F.col("n_members") - 1) / 2
                - (F.col("n_members") - 1)
            ).cast("long").alias("pairs_suppressed"),
        )
        .unionByName(
            near_capped.select(
                F.lit("near").alias("kind"),
                (F.col("n1") + F.col("n2")).cast("long").alias("n_members"),
                (F.col("n1") + F.col("n2") - 1).cast("long").alias("pairs_emitted"),
                (full - F.col("n1") - F.col("n2") + 1).cast("long").alias(
                    "pairs_suppressed"
                ),
            )
        )
    )
    # res stays persisted until the caller collects `out` (lazy lineage);
    # one-shot query wrappers let session teardown reclaim the cache
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


def minhash_clusters(
    spark,
    documents: DataFrame,
    cfg: PipelineConfig | None = None,
    result=None,
) -> DataFrame:
    """Full MinHash-LSH near-dup clustering of a documents table.

    Output: doc_id, component (fid-space label), is_canonical.
    Pass ``result`` (an already-run PipelineResult for the same documents
    and config) to reuse its persisted stages instead of re-running.
    """
    cfg = cfg or PipelineConfig()
    if result is not None:
        res = result
    else:
        files = docs_as_files(documents)
        res = DedupPipeline(spark, cfg).run(files)
    sig = res.signatures.select("fid", F.col("path").alias("doc_id"))
    # deliberately NOT sorted: a global orderBy here would be a full sort of
    # the production output; callers that need display order sort themselves
    return res.clusters.join(sig, "fid").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "component",
        "is_canonical",
    )
