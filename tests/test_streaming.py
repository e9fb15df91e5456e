"""Streaming near-dup detector: cross-batch LSH candidate alerts."""

import pandas as pd


def test_stateful_near_dup_candidates(spark, tmp_path):
    """Cross-batch LSH candidate alerts: a near-identical file arriving in a
    LATER micro-batch must alert against the first batch's stored member."""
    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.operators import blocking
    from libpostal_spark.streaming import stateful_near_dup_candidates

    cfg = PipelineConfig()
    base = " ".join(f"tok{i} fill{i}" for i in range(80))
    batches = [
        [("r1", "a.py", "c", "py", base),
         ("r9", "z.py", "c", "py", "totally unrelated words " * 20)],
        [("r2", "b.py", "c", "py", base + " tiny change")],
    ]
    src = str(tmp_path / "in")
    sink = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")
    cols = ["repo", "path", "commit", "lang", "content"]
    schema = "repo string, path string, commit string, lang string, content string"

    for rows in batches:
        spark.createDataFrame(pd.DataFrame(rows, columns=cols)).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_near_dup_candidates(stream, cfg, featurize_partitions=4)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    out_rows = spark.read.parquet(sink).collect()

    fids = {
        r["path"]: r["fid"]
        for r in blocking.with_ids(
            spark.createDataFrame(
                pd.DataFrame(batches[0] + batches[1], columns=cols)
            )
        ).collect()
    }
    pairs = {(r["fid"], r["match_fid"]) for r in out_rows}
    # the later near-dup must alert against the first batch's copy
    assert (fids["b.py"], fids["a.py"]) in pairs
    # the unrelated file never pairs with anything
    assert not any(
        fids["z.py"] in p for p in pairs if p != (fids["z.py"], fids["z.py"])
    )


def test_stateful_near_dup_no_realert_on_replay(spark, tmp_path):
    """A stored member re-delivered in a later batch must not re-emit its
    candidate pairs."""
    from libpostal_spark.config import PipelineConfig
    from libpostal_spark.streaming import stateful_near_dup_candidates

    cfg = PipelineConfig()
    base = " ".join(f"tok{i} fill{i}" for i in range(80))
    cols = ["repo", "path", "commit", "lang", "content"]
    schema = "repo string, path string, commit string, lang string, content string"
    src = str(tmp_path / "in")
    sink = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ck")

    b1 = [("r1", "a.py", "c", "py", base),
          ("r2", "b.py", "c", "py", base + " tiny change")]
    b2 = [("r2", "b.py", "c", "py", base + " tiny change")]   # replay of b.py
    for rows in (b1, b2):
        spark.createDataFrame(pd.DataFrame(rows, columns=cols)).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_near_dup_candidates(stream, cfg)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    rows = spark.read.parquet(sink).collect()
    pairs = [(r["band"], r["khash"], r["fid"], r["match_fid"]) for r in rows]
    assert pairs, "the batch-1 near-dup must alert"
    assert len(pairs) == len(set(pairs)), "replay re-emitted candidate pairs"
