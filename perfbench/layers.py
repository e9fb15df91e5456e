"""The traced operation: each pipeline layer called through its public
function, inside its own span, with its output materialized there.

The calls follow ``DedupPipeline.run``'s in-memory path. The run checks
that this composition yields the same labels as ``DedupPipeline.run`` on
the same input, so a drift between the two fails the run instead of
skewing the layer figures.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace

from pyspark.sql import functions as F

from libpostal_spark.operators import blocking, cluster, verify
from libpostal_spark.pipeline import DedupPipeline

S_LAYERS = (
    "blocking.signatures",        # S1
    "blocking.exact_groups",      # S2
    "blocking.blocking_keys",     # S3
    "blocking.candidate_pairs",   # S4
    "verify.verified_pairs",      # S5
    "cluster",                    # S6
    "pipeline.labels",            # S7
)
CHECKPOINT_STAGES = ("signatures", "band_buckets", "confirmed_pairs", "components")


def labels_of(clusters) -> dict:
    """Materialize a clusters frame on the driver as fid -> component."""
    tbl = clusters.select("fid", "component").toArrow()
    return dict(zip(tbl.column("fid").to_pylist(),
                    tbl.column("component").to_pylist()))


def traced_layers(spark, files, cfg, tracer) -> tuple[dict, dict, list]:
    """Run S1-S7 layer by layer. Returns (labels, counts, cached frames)."""
    counts: dict = {}
    cached = []

    def keep(df):
        cached.append(df.persist())
        return df

    with tracer.span("blocking.signatures"):
        ided = blocking.with_ids(files)
        sigs = keep(blocking.signatures(ided, cfg, ids_added=True))
        counts["rows"] = sigs.count()
    with tracer.span("blocking.exact_groups"):
        with_rep = keep(blocking.exact_rep_frame(sigs, ided))
        with_rep.count()
        rep_sigs, _ = blocking.exact_groups(with_rep)
        counts["reps"] = rep_sigs.count()
    sigs.unpersist()
    with tracer.span("blocking.blocking_keys"):
        keys = keep(blocking.blocking_keys(rep_sigs, cfg))
        counts["keys"] = keys.count()
    with tracer.span("blocking.candidate_pairs"):
        pairs, bucket_stats, keyed = blocking.candidate_pairs(keys, cfg)
        if keyed is not None:
            cached.append(keyed)
        pairs = keep(pairs)
        counts["pairs"] = pairs.count()
    with tracer.span("verify.verified_pairs"):
        confirmed = keep(verify.verified_pairs(pairs, rep_sigs, cfg))
        edges = (
            confirmed.select("fid1", "fid2")
            .limit(cfg.cc_driver_max_edges + 1)
            .collect()
        )
        counts["confirmed"] = (
            len(edges) if len(edges) <= cfg.cc_driver_max_edges
            else confirmed.count()
        )
    with tracer.span("cluster"):
        counts["distributed"] = int(counts["confirmed"] > cfg.cc_driver_max_edges)
        rep_labels = keep(
            cluster.connected_components(confirmed)
            if counts["distributed"]
            else cluster.union_find_rows(edges, spark, id_type="string")
        )
        rep_labels.count()
    with tracer.span("pipeline.labels"):
        clusters = (
            with_rep.select("fid", "rep_fid")
            .join(
                rep_labels.select(
                    F.col("fid").alias("rep_fid"),
                    F.col("component").alias("cc_component"),
                ),
                "rep_fid",
                "left",
            )
            .select("fid", F.coalesce("cc_component", "rep_fid").alias("component"))
        )
        labels = labels_of(clusters)
    counts["components"] = len(set(labels.values()))

    # outside the S1-S7 total: bucket statistics, and the distributed CC
    # route (what a run above cc_driver_max_edges takes) on the same edges
    with tracer.span("stats"):
        stats = bucket_stats.collect()
        counts["max_bucket"] = max((r["max_size"] or 0) for r in stats) if stats else 0
        counts["oversized_buckets"] = sum((r["n_oversized"] or 0) for r in stats)
    with tracer.span("cluster.connected_components"):
        dist = keep(cluster.connected_components(confirmed)).collect()
    counts["cc_routes_agree"] = sorted(dist) == sorted(rep_labels.collect())
    return labels, counts, cached


def traced_checkpoint(spark, files, cfg, tracer, root: str) -> dict:
    """Cold checkpointed run, then a resume over the same root.

    Uses ``cc_driver_max_edges=0``, the configuration of a run too large for
    driver-side clustering, so the distributed CC path writes its stage."""
    ck_cfg = replace(cfg, cc_driver_max_edges=0)
    shutil.rmtree(root, ignore_errors=True)
    out: dict = {}
    with tracer.span("checkpoint.cold"):
        cold = DedupPipeline(spark, ck_cfg, checkpoint_root=root).run(files)
        out["cold_labels"] = labels_of(cold.clusters)
    out["stage_write_s"] = {
        m["stage"]: m["wall_ms"] / 1000.0 for m in cold.metrics
    }
    n_bytes = n_files = 0
    for d, _, names in os.walk(root):
        for n in names:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, n))
    out["bytes_written"], out["files_written"] = n_bytes, n_files
    with tracer.span("checkpoint.resume"):
        warm = DedupPipeline(spark, ck_cfg, checkpoint_root=root).run(files)
        out["resumed_labels"] = labels_of(warm.clusters)
    out["all_resumed"] = bool(warm.metrics) and all(
        m["resumed"] for m in warm.metrics
    )
    cold.release()
    warm.release()
    shutil.rmtree(root, ignore_errors=True)
    return out
