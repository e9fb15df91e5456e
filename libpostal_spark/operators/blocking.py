"""Signature + blocking stages: files → signatures → candidate pairs.

Scale design (the part the reference delegates to "a MapReduce setting",
/root/reference/README.md:641-656, made explicit here):

* **Exact pass first.** Rows are grouped by raw-content sha256 before any
  expensive work: the pipeline derives each row's representative (min fid
  per sha256) from the cheap (sha256, fid) columns, the featurize UDF sees
  only representatives' content, and only one representative per distinct
  content enters LSH. This kills the boilerplate skew adversary at the
  root: a license header replicated across 10^6 repos is featurized ONCE
  and is ONE node in the candidate graph, connected to its copies by star
  edges — no O(n²) bucket ever forms. At 10^12 files this is the
  difference between a runnable job and a dead one.
* **Key families.** MinHash band keys ∪ SimHash table keys ∪ winnow
  substring fingerprints, emitted as one (kind, kid, khash) key stream —
  the principled version of the reference's redundant overlapping key
  families (4-level fallback hierarchy, /root/reference/src/near_dupe.c:853-1151).
* **Bucket discipline.** Per-key counts are computed before any pairing.
  Buckets ≤ max_bucket_size emit all pairs via a grouped double-explode (no
  second shuffle); larger buckets emit star pairs to the bucket's min fid —
  O(n) pairs, still connecting the component if members are truly similar
  (verified downstream). Oversized-bucket counts are surfaced in metrics so
  silent truncation never reads as full coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MAX_SALTED_BUCKET, PipelineConfig
from ..functions.udfs import make_featurize_udf

KIND_BAND = 0
KIND_SIMHASH = 1
KIND_WINNOW = 2
KIND_EXACT = 3


def with_ids(files: DataFrame) -> DataFrame:
    """Add fid (primary key) and the raw-content sha256 invariant.

    sha256(content) is computed BEFORE any normalization and carried through
    every downstream table (per-row invariant, FIXTURES.md §1).
    """
    # per-field coalesce: concat_ws SKIPS nulls, so without it the distinct
    # rows (r, NULL, c) and (NULL, r, c) would concatenate identically and
    # silently merge two files' signatures and labels. NULL and '' still
    # conflate per field (documented), but field positions are preserved;
    # \x00 inside a value cannot occur in filesystem paths/refs. fids for
    # fully-non-null rows are unchanged.
    return files.withColumn(
        "fid",
        F.sha2(
            F.concat_ws(
                "\x00",
                F.coalesce("repo", F.lit("")),
                F.coalesce("path", F.lit("")),
                F.coalesce("commit", F.lit("")),
            ),
            256,
        ),
    ).withColumn("sha256", F.sha2(F.col("content").cast("binary"), 256))


def signatures(
    files: DataFrame,
    cfg: PipelineConfig,
    emit_minhash: bool = False,
    ids_added: bool = False,
) -> DataFrame:
    """files → one row per fid: canon text + fixed-width signature features.

    When ``files`` carries ``rep_fid`` (an ``exact_rep_frame`` over the
    with_ids rows), only representatives (fid = rep_fid) are featurized:
    members keep their id and metadata columns and ``rep_fid``, and their
    feature columns are null — identical content has identical features,
    so the UDF never sees a copy. emit_minhash=True adds the raw 128-perm
    signature column for debugging/FIXTURES §4 parity.
    """
    feat_udf = make_featurize_udf(cfg, emit_minhash)
    df = files if ids_added else with_ids(files)
    gated = "rep_fid" in df.columns
    is_rep = F.col("fid") == F.col("rep_fid")
    # gate the UDF's INPUT: a Python UDF under a CASE branch is still
    # evaluated on every row, so members send null content instead
    content = F.when(is_rep, F.col("content")) if gated else F.col("content")
    feat = feat_udf(content)
    df = df.withColumn("f", F.when(is_rep, feat) if gated else feat)
    names = ["canon", "n_tokens", "n_shingles", "simhash", "bands",
             "simhash_keys", "winnow"] + (["minhash"] if emit_minhash else [])
    return df.select(
        "fid", "sha256", "repo", "path", "lang",
        *[F.col(f"f.{c}").alias(c) for c in names],
        *(["rep_fid"] if gated else []),
    ).withColumn("config_hash", F.lit(cfg.config_hash))


def exact_rep_frame(sigs: DataFrame, ided: DataFrame) -> DataFrame:
    """sigs + rep_fid (min fid per sha256 class) — the ONE frame the whole
    downstream pipeline fans out from.

    ``DedupPipeline.run`` applies it to the with_ids rows themselves
    (``exact_rep_frame(ided, ided)``) BEFORE featurization, so
    ``signatures`` featurizes representatives only; the run's store then
    materializes the signatures frame, ``rep_fid`` included, in its
    ``partitioned_stage`` — ``NullStore`` persists+counts it in one job
    (featurize UDF + the sha256 contraction together), ``CheckpointStore``
    writes it and reads it back — and rep_sigs, the label universe and the
    result's readers are all cheap filters over that one frame, so no later
    stage ever recomputes the UDF chain or re-shuffles on sha256.

    ``ided`` is any cheap frame carrying the same (sha256, fid) rows — the
    with_ids frame the signatures were built from, or a PERSISTED sigs
    frame itself. The (sha256 → min fid) rep map is derived from those two
    columns instead of windowing over the full signature rows: the agg
    shuffles ~128 B/row instead of the multi-KB signature payload, and AQE
    turns the join back onto sigs into a broadcast when the rep map fits
    (one pass, ZERO full-row exchange) — falling back to a sort-merge join
    at 10^12-row scale, which is what a window over sigs would cost anyway.
    """
    rep = (
        ided.select(F.col("sha256").alias("rep_sha"), "fid")
        .groupBy("rep_sha")
        .agg(F.min("fid").alias("rep_fid"))
    )
    # null-safe equality: a (theoretical) null-content row must stay in the
    # frame (as its own null-sha class), not drop out of the join
    return sigs.join(
        rep, F.col("sha256").eqNullSafe(F.col("rep_sha"))
    ).drop("rep_sha")


def exact_groups(with_rep: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Group identical raw content of an ``exact_rep_frame`` output.

    Returns (rep_sigs, exact_edges):
      rep_sigs    — one signature row per distinct sha256 (the LSH universe)
      exact_edges — (fid1=rep, fid2=member) star edges for the copies
    Both are filters over ``with_rep`` (no shuffle of their own; no pairing
    explosion regardless of skew): pass a persisted frame to share the rep
    map across every consumer.
    """
    rep_sigs = with_rep.filter(F.col("fid") == F.col("rep_fid")).drop("rep_fid")
    exact_edges = (
        with_rep.filter(F.col("fid") != F.col("rep_fid"))
        .select(
            F.col("rep_fid").alias("fid1"),
            F.col("fid").alias("fid2"),
            F.lit(1.0).alias("jaccard"),
            F.lit(KIND_EXACT).alias("source"),
        )
    )
    return rep_sigs, exact_edges


def blocking_keys(rep_sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Emit every key family as one (fid, kid, khash, kind) stream.

    One ``inline`` over the concatenated per-family (kind, kid, khash)
    struct arrays: a single scan of the representatives, no union. Each
    family is coalesced to an empty array first, so a null family drops
    only its own keys. This is the Spark-native form of the reference's
    flat key emission (``near_dupe_hashes`` returning a cstring_array of
    prefixed keys, reference src/near_dupe.c:627-640).
    """

    def family(col: str, kind: int, positional: bool = True):
        arr = F.coalesce(F.col(col), F.array().cast("array<bigint>"))
        return F.transform(
            arr,
            lambda h, i: F.struct(
                (i if positional else F.lit(0)).alias("kid"),
                h.alias("khash"),
                F.lit(kind).alias("kind"),
            ),
        )

    return rep_sigs.select(
        "fid",
        F.inline(
            F.concat(
                family("bands", KIND_BAND),
                family("simhash_keys", KIND_SIMHASH),
                family("winnow", KIND_WINNOW, positional=False),
            )
        ),
    )


def candidate_pairs(
    keys: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Key stream → distinct candidate pairs (fid1 < fid2, sources agg'd).

    Partition-aligned design: the explicit repartition by bucket key (the
    north rule's "repartition by band bucket") is the one shuffle; the
    unordered window over the same key reuses its hash partitioning to
    compute per-bucket count and min-fid representative, and the
    small-bucket self-join below rides the same partitioning (no join
    exchange). Per-row memory is flat — no collect_set arrays anywhere, so
    a pathological mega-bucket cannot blow an executor:

      * bucket ≤ max_bucket_size → all pairs via the co-partitioned
        self-join (fid1 < fid2 keeps each unordered pair once)
      * bucket  > max_bucket_size → SALTED pairing (the north rule's skew
        handling): members hash into G = ⌈√n⌉ salt groups; all pairs within
        each ~√n-sized group (O(n^1.5) total), plus an all-pairs clique over
        the per-group dual representatives (min-fid and max-fid of each
        group: ≤2G nodes → O(n) pairs), plus star edges to the bucket's
        global min fid. Unlike star-only pairing, two similar members no
        longer depend on BOTH verifying against one arbitrary rep: same
        salt group → direct pair; different groups → linked through the rep
        clique, which survives one adversarial (dissimilar) rep per group
        because the second rep still carries the edge. Buckets beyond
        MAX_SALTED_BUCKET fall back to star+rep-clique only (O(n)), counted
        in bucket_stats — never silently.

    Returns (pairs, bucket_stats, keyed). bucket_stats (lazily derived
    from the same window output) is the no-silent-caps ledger: kind,
    n_buckets, n_oversized, max_size. keyed is the persisted bucket-window
    frame both derive from; the caller unpersists it when done.
    """
    # no explicit partition count: a RepartitionByExpression without a fixed
    # N lets AQE size the exchange from observed shuffle bytes — 381 keys
    # coalesce to one partition instead of defaultParallelism near-empty
    # tasks, and a 10^12-row stream gets byte-proportional partitions
    # instead of a hardcoded number
    keys = keys.repartition("kind", "kid", "khash")
    w = Window.partitionBy("kind", "kid", "khash")
    # cnt only here: the bucket-min representative (a 64-char sha string
    # min over every key row) is needed ONLY by the oversized-bucket star
    # branch, so it is computed there, over big-bucket rows alone — the
    # hot window on the full key stream does one count aggregate instead
    # of count + string-min (same filter, same downstream results: a
    # bucket's rows all carry the same cnt, so the post-filter min over
    # the big subset equals the pre-filter min over the bucket).
    #
    # keyed fans out to 5+ consumer branches (small l/r, star, salt l/r,
    # reps, stats); without a materialized cache each branch replays the
    # full-stream shuffle + window (observed: 7 identical exchanges in the
    # physical plan). The cache retains the hash partitioning so the
    # small-bucket self-join still needs no exchange of its own.
    keyed = keys.withColumn("cnt", F.count("*").over(w)).filter(
        F.col("cnt") > 1
    ).persist()
    if cfg.max_bucket_size >= (1 << 30):
        # effectively-unbounded small-bucket cap (the oracle-twin pairing
        # config): no realistic bucket can exceed it, so the salted/star
        # branches are unreachable and the simple all-pairs plan can be
        # built WITHOUT the gating agg ACTION. (A >2^30-member bucket
        # would already diverge from the plain all-pairs SQL twin this
        # config exists to match, so the gate adds nothing there either.)
        # The persist still pays: the bucket-count window is otherwise
        # computed per self-join side (A/B: dropping it cost ~0.2 s on the
        # harness query).
        has_big = False
    else:
        # One persist+agg = one shuffle, and the SAME materializing action
        # returns the max bucket size: when no bucket exceeds
        # max_bucket_size (the common case outside adversarial skew), the
        # salt/star/rep-clique branches are pruned from the plan entirely —
        # Catalyst plans one self-join instead of a 4-way union, which is a
        # measurable driver-time win on every run (AQE-style runtime
        # adaptation, decided from data already in hand).
        mx = keyed.agg(F.max("cnt").alias("mx")).collect()[0]["mx"]
        has_big = (mx or 0) > cfg.max_bucket_size

    bucket_stats = (
        keyed.groupBy("kind", "kid", "khash")
        .agg(F.first("cnt").alias("cnt"))
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("cnt") > cfg.max_bucket_size).cast("long")).alias(
                "n_oversized"
            ),
            F.max("cnt").alias("max_size"),
        )
    )

    # small buckets: co-partitioned self-join on the bucket key — both sides
    # share the repartition exchange (ReusedExchange) and are already hash-
    # distributed on the join key, so no further shuffle; per-row memory is
    # flat (no collect_set arrays)
    small = keyed.filter(F.col("cnt") <= cfg.max_bucket_size).select(
        "kind", "kid", "khash", "fid"
    )
    lhs = small.alias("l")
    rhs = small.alias("r")
    small_pairs = (
        lhs.join(rhs, ["kind", "kid", "khash"])
        .filter(F.col("l.fid") < F.col("r.fid"))
        .select("kind", F.col("l.fid").alias("fid1"), F.col("r.fid").alias("fid2"))
    )

    if not has_big:
        pairs = small_pairs.groupBy("fid1", "fid2").agg(
            F.min("kind").alias("source"),
            F.collect_set("kind").alias("sources"),
        )
        return pairs, bucket_stats, keyed

    big = keyed.filter(F.col("cnt") > cfg.max_bucket_size).withColumn(
        "rep", F.min("fid").over(w)
    )
    star_pairs = big.filter(F.col("fid") != F.col("rep")).select(
        "kind",
        F.least("rep", "fid").alias("fid1"),
        F.greatest("rep", "fid").alias("fid2"),
    )

    # salt into G=⌈√n⌉ groups; all pairs inside each group (O(n^1.5) total)
    salted = (
        big.filter(F.col("cnt") <= MAX_SALTED_BUCKET)
        .withColumn(
            "g", F.pmod(F.xxhash64("fid"), F.ceil(F.sqrt("cnt")).cast("long"))
        )
        .select("kind", "kid", "khash", "g", "fid")
    )
    sl = salted.alias("sl")
    sr = salted.alias("sr")
    salt_pairs = (
        sl.join(sr, ["kind", "kid", "khash", "g"])
        .filter(F.col("sl.fid") < F.col("sr.fid"))
        .select("kind", F.col("sl.fid").alias("fid1"), F.col("sr.fid").alias("fid2"))
    )

    # dual reps per salt group (min+max fid), all-pairs clique across groups
    reps = (
        big.withColumn(
            "g", F.pmod(F.xxhash64("fid"), F.ceil(F.sqrt("cnt")).cast("long"))
        )
        .groupBy("kind", "kid", "khash", "g")
        .agg(F.min("fid").alias("lo"), F.max("fid").alias("hi"))
        .select(
            "kind", "kid", "khash",
            F.explode(F.array_distinct(F.array("lo", "hi"))).alias("fid"),
        )
    )
    rl = reps.alias("rl")
    rr = reps.alias("rr")
    rep_pairs = (
        rl.join(rr, ["kind", "kid", "khash"])
        .filter(F.col("rl.fid") < F.col("rr.fid"))
        .select("kind", F.col("rl.fid").alias("fid1"), F.col("rr.fid").alias("fid2"))
    )

    pairs = (
        small_pairs.unionByName(star_pairs)
        .unionByName(salt_pairs)
        .unionByName(rep_pairs)
        .groupBy("fid1", "fid2")
        .agg(F.min("kind").alias("source"), F.collect_set("kind").alias("sources"))
    )
    return pairs, bucket_stats, keyed
