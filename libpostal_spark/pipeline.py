"""End-to-end near-duplicate pipeline orchestration.

files(repo, path, commit, lang, content)
  → S1 signatures   (canonicalize + featurize pandas UDF over one
                     representative per distinct content; checkpointed)
  → S2 exact groups (min-fid representative per sha256 from a 2-column
                     aggregate, derived before S1; star edges for copies)
  → S3 band_buckets (one-pass key-family explosion; checkpointed)
  → S4 pairs        (bucket-disciplined candidate pairing)
  → S5 confirmed    (one fused Arrow Jaccard + verified-run confirm per
                     pair; checkpointed)
  → S6 components   (large-star/small-star CC; checkpointed)
  → S7 clusters     (labels over the full universe + canonical flags)

This is the dataflow of SURVEY.md §7.1 — the Spark-first restatement of the
reference's normalize → near_dupe_hashes → is_dupe → (caller-side) cluster
chain.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointStore, NullStore, input_fingerprint
from .config import DEFAULT_CONFIG, PipelineConfig
from .operators import blocking, cluster, verify


@dataclass
class PipelineResult:
    # one row per input file; feature columns are null for members of an
    # exact-copy class (only its min-fid representative is featurized),
    # except when the caller passed precomputed ``signatures``
    signatures: DataFrame
    exact_edges: DataFrame
    pairs: DataFrame
    confirmed: DataFrame
    clusters: DataFrame          # fid, component, is_canonical
    bucket_stats: list = field(default_factory=list)
    metrics: list = field(default_factory=list)
    persisted: list = field(default_factory=list)   # every DF this run cached

    def release(self) -> None:
        """Unpersist every DataFrame the pipeline cached (bench/session reuse)."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self.persisted.clear()

    def predicted_dup_pairs(self) -> DataFrame:
        """All (fid1 < fid2) pairs sharing a component — for recall checks."""
        a = self.clusters.select(F.col("fid").alias("fid1"), "component")
        b = self.clusters.select(F.col("fid").alias("fid2"), "component")
        return a.join(b, "component").filter(F.col("fid1") < F.col("fid2")).select(
            "fid1", "fid2"
        )


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        checkpoint_root: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.store = (
            CheckpointStore(spark, checkpoint_root, cfg.config_hash)
            if checkpoint_root
            else NullStore(spark, cfg.config_hash)
        )

    def run(
        self,
        files: DataFrame,
        collect_bucket_stats: bool = False,
        signatures: DataFrame | None = None,
    ) -> PipelineResult:
        """Pass `signatures` (an already-PERSISTED blocking.signatures frame
        for the same files+config) to reuse the featurize pass across
        multiple pipeline invocations in one session. The frame serves the
        cheap (sha256, fid) rep aggregation itself — a 2-column scan of the
        warm cache + AQE-broadcast join back — so an unpersisted frame would
        run the featurize UDF twice and raises ValueError instead."""
        if signatures is not None:
            lvl = signatures.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                raise ValueError("run(signatures=...) needs a persisted frame")
        cfg = self.cfg
        persisted: list[DataFrame] = []
        m0 = len(self.store.metrics)   # result carries THIS run's rows only
        resumable = not isinstance(self.store, NullStore)
        fp = None
        if resumable:
            # ALWAYS fingerprint the input when resuming — including the
            # precomputed-signatures path, or downstream stages would match
            # manifests written for a different dataset
            fp = input_fingerprint(files)
        if signatures is not None:
            sigs = signatures
            with_rep = blocking.exact_rep_frame(sigs, sigs)
        else:
            # the rep map (min fid per sha256) comes from the cheap JVM
            # sha2 columns BEFORE featurization, so the featurize UDF sees
            # only representatives' content; members' feature columns are
            # null (signatures' rep_fid gate)
            ided = blocking.with_ids(files)
            gated = blocking.exact_rep_frame(ided, ided)
            if resumable:
                # the fingerprint keys every stage to THIS input — a re-run
                # against a different table invalidates the cache instead
                # of silently serving the previous dataset's state. The
                # expensive featurize stage resumes at PARTITION granularity
                # (pt = xxhash64(fid) % n): only partitions missing from the
                # manifest recompute after a mid-stage kill. rep_fid is not
                # stored: the rep map is re-derived from the same cheap
                # columns below, so partitions written by any version agree.
                sigs = self.store.partitioned_stage(
                    "signatures",
                    gated,
                    lambda sub: blocking.signatures(
                        sub, cfg, ids_added=True
                    ).drop("rep_fid"),
                    fp,
                )
                with_rep = blocking.exact_rep_frame(sigs, ided)
            else:
                with_rep = self.store.stage(
                    "signatures",
                    lambda: blocking.signatures(gated, cfg, ids_added=True),
                )
                sigs = with_rep.drop("rep_fid")

        if not resumable:
            # ONE persist+count materializes the featurize UDF AND the sha256
            # contraction together (the whole serial prefix) in a single job.
            # Downstream consumers — 3 key families, verify ×2, exact edges,
            # label universe — are all filters over this warm cache, so AQE's
            # concurrent subtree launch can never recompute the UDF chain
            # (observed 8× duplicated featurize stages with a cold cache at
            # fan-out) and no later stage re-shuffles on sha256. Fewer
            # actions = fewer driver planning waves = lower serial floor.
            # The rep map rides the cheap sha2-only branch (see
            # exact_rep_frame), so the signature payload is never exchanged.
            with_rep = with_rep.persist()
            persisted.append(with_rep)
            with_rep.count()
            sigs = with_rep.drop("rep_fid")
        rep_sigs, exact_edges = blocking.exact_groups(with_rep)
        keys = self.store.stage(
            "band_buckets", lambda: blocking.blocking_keys(rep_sigs, cfg), fp
        )

        pairs, bucket_stats_df, keyed_cache = blocking.candidate_pairs(keys, cfg)
        if keyed_cache is not None:
            persisted.append(keyed_cache)
        confirmed = self.store.stage(
            "confirmed_pairs",
            lambda: verify.verified_pairs(pairs, rep_sigs, cfg),
            fp,
        )
        if not resumable:
            # the CC router's limit(max+1).collect() materializes this
            # cache in the same action that fetches the edge list
            confirmed = confirmed.persist()
            persisted.append(confirmed)
        bucket_stats = (
            [r.asDict() for r in bucket_stats_df.collect()]
            if collect_bucket_stats
            else []
        )

        # CC runs over REPRESENTATIVES only: confirmed pairs are rep↔rep by
        # construction, so identical-content members (incl. the boilerplate
        # skew mass) never enter the iterative loop — they inherit their
        # rep's label with one join afterwards.
        rep_labels = self.store.stage(
            "components",
            lambda: cluster.components(confirmed, cfg.cc_driver_max_edges),
            fp,
        )
        # Every row's component is its sha256-class representative's CC label
        # (or the rep fid itself if CC never touched the class — exact classes
        # are one cluster by construction, singletons label themselves). One
        # broadcast-able join over the small rep_labels frame replaces the
        # former union + two joins: same output, one planning wave, and at
        # scale the build side is |CC-labeled reps| — tiny next to the corpus.
        universe = with_rep.select("fid", "rep_fid")
        clusters = (
            universe.join(
                rep_labels.select(
                    F.col("fid").alias("rep_fid"),
                    F.col("component").alias("cc_component"),
                ),
                "rep_fid",
                "left",
            )
            .select(
                "fid",
                F.coalesce("cc_component", "rep_fid").alias("component"),
            )
            .withColumn("is_canonical", F.col("fid") == F.col("component"))
        )
        self.store.write_metrics()  # no-op for NullStore (no root)
        return PipelineResult(
            signatures=sigs,
            exact_edges=exact_edges,
            pairs=pairs,
            confirmed=confirmed,
            clusters=clusters,
            bucket_stats=bucket_stats,
            metrics=list(self.store.metrics[m0:]),
            persisted=persisted,
        )
