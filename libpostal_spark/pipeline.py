"""End-to-end near-duplicate pipeline orchestration.

files(repo, path, commit, lang, content)
  → S1 signatures   (canonicalize + featurize pandas UDF over one
                     representative per distinct content; checkpointed)
  → S2 exact groups (min-fid representative per sha256 from a 2-column
                     aggregate, derived before S1; every row keeps its
                     class's ``rep_fid``)
  → S3 band_buckets (one-pass key-family explosion; checkpointed)
  → S4 pairs        (bucket-disciplined candidate pairing)
  → S5 confirmed    (one fused Arrow Jaccard + verified-run confirm per
                     pair; checkpointed)
  → S6 components   (large-star/small-star CC; checkpointed)
  → S7 clusters     (labels over the full universe + canonical flags)

This is the dataflow of SURVEY.md §7.1 — the Spark-first restatement of the
reference's normalize → near_dupe_hashes → is_dupe → (caller-side) cluster
chain. ``DedupPipeline.run(files)`` is the one way into S1–S7: the
clustering and pair-listing operators (operators/dedup.py) consume its
``PipelineResult``. It has one body for both stores: ``NullStore`` runs
every stage in place, ``CheckpointStore`` writes and resumes them (S1+S2
stored together, ``rep_fid`` included).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointStore, NullStore
from .config import DEFAULT_CONFIG, PipelineConfig
from .operators import blocking, cluster, verify


@dataclass
class PipelineResult:
    # one row per input file, with its exact-copy class's representative
    # (rep_fid = min fid per sha256); feature columns are null for members
    # (only the representative is featurized), so a member's features are
    # its representative's
    signatures: DataFrame
    pairs: DataFrame
    confirmed: DataFrame
    clusters: DataFrame          # fid, component, is_canonical
    # per key family: kind, n_buckets, n_oversized, max_size — lazy, over
    # the persisted bucket window
    bucket_stats: DataFrame
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
            else NullStore()
        )

    def run(self, files: DataFrame) -> PipelineResult:
        cfg = self.cfg
        persisted: list[DataFrame] = []
        m0 = len(self.store.metrics)   # result carries THIS run's rows only
        fp = self.store.fingerprint(files)
        # the rep map (min fid per sha256) comes from the cheap JVM sha2
        # columns BEFORE featurization, so the featurize UDF sees only
        # representatives' content; members' feature columns are null
        # (signatures' rep_fid gate)
        ided = blocking.with_ids(files)
        gated = blocking.exact_rep_frame(ided, ided)
        # S1+S2 materialize together, rep_fid included: the in-memory store
        # persists+counts them in ONE job, the checkpoint store commits them
        # partition group by partition group (a mid-stage kill recomputes
        # only the missing partitions). Downstream consumers — 3 key
        # families, verify ×2, the label universe and the result's readers —
        # are all filters over this one frame, so AQE's concurrent subtree
        # launch can never recompute the UDF chain (observed 8× duplicated
        # featurize stages with a cold cache at fan-out) and no later stage
        # re-shuffles on sha256. The rep map rides the cheap sha2-only
        # branch (see exact_rep_frame), so the signature payload is never
        # exchanged.
        with_rep = self.store.partitioned_stage(
            "signatures",
            gated,
            lambda sub: blocking.signatures(sub, cfg, ids_added=True),
            fp,
        )
        persisted.append(with_rep)
        rep_sigs, _ = blocking.exact_groups(with_rep)
        keys = self.store.stage(
            "band_buckets", lambda: blocking.blocking_keys(rep_sigs, cfg), fp
        )

        pairs, bucket_stats, keyed = blocking.candidate_pairs(keys, cfg)
        persisted.append(keyed)
        # the CC router's limit(max+1).collect() materializes this cache in
        # the same action that fetches the edge list
        confirmed = self.store.stage(
            "confirmed_pairs",
            lambda: verify.verified_pairs(pairs, rep_sigs, cfg),
            fp,
        ).persist()
        persisted.append(confirmed)

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
        self.store.write_metrics()
        return PipelineResult(
            signatures=with_rep,
            pairs=pairs,
            confirmed=confirmed,
            clusters=clusters,
            bucket_stats=bucket_stats,
            metrics=list(self.store.metrics[m0:]),
            persisted=persisted,
        )
