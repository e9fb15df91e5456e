"""Structured-Streaming operators: windowed event stats and cross-batch
near-dup candidate alerts.

The reference is batch-only ("designed to run in a MapReduce setting",
/root/reference/README.md:641-642) — streaming is OUR extension for the
continuously-arriving-repos case. The batch pipeline stays the single
source of truth: a stream gets *LSH candidate alerts now, periodic batch
confirm + re-cluster later* — exactly how the reference expects its host
system to schedule dedup passes. Both operators back declared queries
(``__spark_entry__``'s streaming leaves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators import blocking

MAX_STATE_FIDS = 32   # member fids kept per non-empty LSH bucket


def windowed_event_stats(stream: DataFrame) -> DataFrame:
    """Event-stream windowed aggregation over (ts, user_id, value): per
    1-hour event-time window with a 2-hour watermark —
    event count, EXACT distinct users (size(collect_set): streaming forbids
    count(DISTINCT); the set state is bounded by users-per-window — swap in
    approx_count_distinct at hyperscale), and an exact decimal value sum
    (decimal, not double: float partial-agg order would make the result
    run-dependent, decimal addition is associative so the streamed result
    is bit-equal to any batch replay — which is what lets the harness
    oracle this operator).

    Run with outputMode="complete" + availableNow for the deterministic
    full-table contract (the oracle-checked path); append + watermark gives
    the finalize-once incremental contract (a window is emitted once the
    watermark passes its end; later rows are dropped).
    """
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.size(F.collect_set(F.col("user_id"))).alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


def stateful_near_dup_candidates(
    stream: DataFrame, cfg: PipelineConfig,
    bands_limit: int | None = None, featurize_partitions: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup candidate alerts with cross-batch LSH state.

    files stream → featurize micro-batch (same UDF as batch) → explode the
    MinHash band keys → ``applyInPandasWithState`` keyed by (band, khash):
    per bucket the state stores up to ``MAX_STATE_FIDS`` member fids; every
    new arrival that lands in a non-empty bucket emits candidate rows
    against the stored members. This upgrades the streaming contract from
    "exact alerts now" to "exact + LSH candidate alerts now, batch confirm
    + re-cluster later" — candidates carry the batch pipeline's collision
    probability (P = 1-(1-t^r)^b across buckets), and the periodic batch
    pass remains the source of truth for verified clusters.

    State is bounded: ≤ MAX_STATE_FIDS × 64 bytes per non-empty bucket
    (hot boilerplate buckets stop accumulating at the cap and keep alerting
    against the retained members — the streaming analog of star pairing;
    the batch pass covers the rest). Output (append mode):
        band, khash, fid (the arrival), match_fid (stored member).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if featurize_partitions:
        # OPT-IN (callers choose; the harness passes 16 — ADVICE r6: a
        # default repartition would silently add a shuffle to every
        # caller's plan, even tiny micro-batches).
        # A file-stream source yields ONE scan partition per file, which
        # would run the featurize Arrow UDF single-task for a whole
        # micro-batch (measured: the dominant cost of the harness query —
        # interleaved A/B at sf0.1: 13.5-14.2 s unpartitioned vs 9.4-10.3 s
        # at 8 vs 7.0-7.2 s at 16, identical output). Re-spreading the raw
        # rows first is a tiny shuffle (content bytes only) that
        # parallelizes featurize; the detector's emission rule is
        # partitioning-independent (per-bucket arrivals are sorted), so the
        # output is unchanged.
        stream = stream.repartition(featurize_partitions)
    if bands_limit is not None:
        # bounded key-family subset: each band is an independent LSH table,
        # so restricting to the first K bands only lowers the collision
        # probability (1-(1-t^r)^K), it does not change any emitted pair's
        # correctness. Callers trade recall for state-store size — and pay
        # featurize for ONLY the bands they read: the lean band-keys UDF
        # evaluates K·rows_per_band of the num_perm permutations
        # (bit-identical to the full featurizer's prefix) and skips
        # SimHash/winnow/shingle materialization entirely (A/B-measured on
        # the harness query: identical 891 rows + value hash, ~10% e2e —
        # the state-store machinery, not featurize, now dominates).
        from .functions.udfs import make_band_keys_udf

        band_udf = make_band_keys_udf(cfg, bands_limit)
        keys = blocking.with_ids(stream).select(
            "fid", F.posexplode(band_udf(F.col("content"))).alias(
                "band", "khash"
            )
        )
    else:
        sigs = blocking.signatures(stream, cfg)
        keys = sigs.select(
            "fid", F.posexplode("bands").alias("band", "khash")
        )

    def track(key, pdfs, state: GroupState):
        band, khash = int(key[0]), int(key[1])
        arrivals: list[str] = []
        for pdf in pdfs:
            arrivals.extend(pdf["fid"])
        # unique + sorted: a row replayed inside one batch is one arrival
        arrivals = sorted(set(arrivals))
        stored: list[str] = list(state.get[0]) if state.exists else []
        out_fid, out_match = [], []
        for fid in arrivals:
            # membership guard: a STORED fid re-arriving (at-least-once
            # source replay) already emitted its pairs at first arrival —
            # skip both the re-alert and the second state slot. (A fid that
            # was cap-evicted and re-arrives does re-alert: bounded state
            # cannot remember it, the documented star-pairing trade.)
            if fid in stored:
                continue
            for m in stored:
                out_fid.append(fid)
                out_match.append(m)
            if len(stored) < MAX_STATE_FIDS:
                stored.append(fid)
        state.update((stored,))
        if out_fid:
            yield pd.DataFrame(
                {
                    "band": band,
                    "khash": khash,
                    "fid": out_fid,
                    "match_fid": out_match,
                }
            )

    return keys.groupBy("band", "khash").applyInPandasWithState(
        track,
        outputStructType="band int, khash long, fid string, match_fid string",
        stateStructType="fids array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
