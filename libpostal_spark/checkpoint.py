"""Resumable checkpoint store with per-partition lineage + metrics.

Every stage writes a parquet table under ``{root}/{stage}/config={hash}/data``
plus manifest rows under ``.../manifest`` (a Spark-written JSON table — all
I/O goes through the Hadoop filesystem layer, so the store works unchanged on
HDFS/S3, not just the local FS). A manifest row records stage, config hash,
INPUT FINGERPRINT, partition id (``pt``; -1 for whole-stage checkpoints),
``LAYOUT``, row count and wall time. Bump ``LAYOUT`` whenever a stage's stored
columns change: ``completed`` matches it, so data stored with other columns
is recomputed, never misread (2: signatures keep ``rep_fid``).

Resume semantics:

* whole stage (``stage``): reload iff a manifest row exists whose
  config_hash AND input_fingerprint match — re-running with a different
  input invalidates the cache instead of silently serving stale state.
* per-partition (``partitioned_stage``): the expensive signatures stage is
  hash-partitioned by ``pt = xxhash64(fid) % n_pt`` and COMMITTED IN
  PARTITION GROUPS — each group's data write (dynamic partition overwrite)
  is immediately followed by its manifest rows, so a mid-stage kill loses
  only the in-flight group and the next run's anti-join recomputes exactly
  the partitions with no manifest row. A partition that died after its data
  write but before its manifest row is re-written in place — no duplicates,
  exactly-once per partition.

On a real cluster these tables are Iceberg (``writeTo(...).append()``;
snapshot id = the lineage pointer) — parquet-dir + manifest table is the
local-catalog fallback since this sandbox ships no Iceberg runtime jar. The
store keys every path by config_hash, so changing any semantic knob of
``PipelineConfig`` invalidates all downstream state automatically.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# non-local filesystems pay ~3 driver→JVM RPCs per file to stat; beyond this
# many files the parallel executor-side content scan is cheaper than the
# serial driver listing
_META_MAX_FILES = 10_000

LAYOUT = 2

MANIFEST_SCHEMA = (
    "stage string, config_hash string, input_fingerprint string, pt long, "
    "n_pt long, layout long, rows long, wall_ms long, written_at string"
)


def input_fingerprint(files: DataFrame) -> str:
    """Order-independent fingerprint of an input table.

    Fast path — FILE METADATA + PLAN: when the frame is backed by concrete
    files (``inputFiles`` non-empty), hash the sorted (path, length, mtime)
    listing PLUS the canonicalized logical plan. Zero data I/O, so a
    fully-resumed run costs a file listing instead of an O(input) content
    scan — the Iceberg analog is the snapshot id. The plan component is
    what keeps two DIFFERENT frames over the same files apart: a filtered,
    limited, or projected read must never resume the unfiltered run's
    checkpoints (same stale-serve class the content scan prevented).
    A rewrite invalidates when it changes (size, mtime_ns): the full
    nanosecond mtime is hashed, so only a same-size rewrite landing within
    the FILESYSTEM's mtime resolution (coarse-mtime mounts) can alias — on
    a nanosecond-resolution filesystem that window is practically zero,
    but it is a caveat, not an absolute guarantee; recompute-on-doubt
    remains the safe direction for anything stronger (the Iceberg snapshot
    id is the principled fix). ``file:`` URIs stat through ``os.stat``
    (C-speed, no per-file JVM round-trips); other filesystems stat through
    the Hadoop layer, falling back to the content scan above
    ``_META_MAX_FILES`` files where per-file driver RPCs would dominate.
    A file that vanishes between listing and stat falls through to the
    content scan instead of crashing the resume.

    Fallback — CONTENT: frames with no file lineage (in-memory test data,
    views) get the original one-scan xor-folded xxhash64 over every column,
    content included — a changed file with an unchanged key must never be
    served stale.
    """
    import hashlib
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        paths = sorted(files.inputFiles())
        # canonicalized plan: expr ids normalized, so the same query shape
        # written by a new session hashes identically
        plan = (
            files._jdf.queryExecution().analyzed().canonicalized().toString()
        )
    except Exception:
        paths = []
    local = paths and all(p.startswith("file:") for p in paths)
    if paths and (local or len(paths) <= _META_MAX_FILES):
        h = hashlib.sha256(plan.encode())
        try:
            if local:
                for p in paths:
                    st = _os.stat(unquote(urlparse(p).path))
                    h.update(
                        f"{p}\x00{st.st_size}\x00{st.st_mtime_ns}\n".encode()
                    )
            else:
                spark = files.sparkSession
                jvm = spark._jvm
                conf = spark._jsc.hadoopConfiguration()
                for p in paths:
                    jpath = jvm.org.apache.hadoop.fs.Path(p)
                    fs = jpath.getFileSystem(conf)
                    st = fs.getFileStatus(jpath)
                    h.update(
                        f"{p}\x00{st.getLen()}\x00{st.getModificationTime()}\n".encode()
                    )
            return f"meta:{len(paths)}:{h.hexdigest()[:16]}"
        except Exception as ex:
            # a listed file vanished (or a stat RPC failed) mid-fingerprint:
            # fall through to the content scan rather than crash the resume.
            # Logged loudly — a PERSISTENT stat failure (filesystem auth or
            # misconfig) would otherwise silently demote every resume to a
            # full-input content scan with no diagnostic trail.
            import logging

            logging.getLogger(__name__).warning(
                "input_fingerprint: stat failed (%s: %s); falling back to "
                "full content scan — resumes will re-hash the entire input",
                type(ex).__name__,
                ex,
            )
    row = files.agg(
        F.count("*").alias("c"),
        F.coalesce(F.expr("bit_xor(xxhash64(*))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['c']}:{row['h'] & 0xFFFFFFFFFFFFFFFF:016x}"


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, config_hash: str):
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        self.metrics: list[dict] = []
        self._metrics_written = 0   # write_metrics appends only new rows

    # ------------------------------------------------------------- paths
    def _base(self, stage: str) -> str:
        return f"{self.root}/{stage}/config={self.config_hash}"

    def _data_dir(self, stage: str) -> str:
        return f"{self._base(stage)}/data"

    def _manifest_dir(self, stage: str) -> str:
        return f"{self._base(stage)}/manifest"

    # ---------------------------------------------------------- manifest
    def _read_manifest(self, stage: str) -> DataFrame:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).json(
                self._manifest_dir(stage)
            )
        except Exception:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def _append_manifest(self, rows: list[dict], overwrite: bool = False) -> None:
        df = self.spark.createDataFrame(
            [
                (
                    r["stage"],
                    self.config_hash,
                    r.get("input_fingerprint"),
                    r.get("pt", -1),
                    r.get("n_pt", -1),
                    LAYOUT,
                    r.get("rows"),
                    r.get("wall_ms"),
                    time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                )
                for r in rows
            ],
            MANIFEST_SCHEMA,
        )
        df.coalesce(1).write.mode("overwrite" if overwrite else "append").json(
            self._manifest_dir(rows[0]["stage"])
        )

    def completed(
        self, stage: str, input_fingerprint: str, n_pt: int = -1
    ) -> list[int]:
        """pts with a manifest row matching this config + input + pt domain.

        n_pt is part of the match: a committed partition from a run with a
        different ``partitioned_stage(n_pt=)`` lives in a different
        ``pmod(fid, n)`` domain, and mixing domains would both duplicate and
        drop rows — a mismatch reads as nothing-completed, which wipes and
        recomputes exactly like a fingerprint change. ``layout`` likewise."""
        m = self._read_manifest(stage).filter(
            (F.col("config_hash") == self.config_hash)
            & (F.col("input_fingerprint") == input_fingerprint)
            & (F.coalesce(F.col("n_pt"), F.lit(-1)) == n_pt)
            & (F.col("layout") == LAYOUT)
        )
        return [r["pt"] for r in m.select("pt").distinct().collect()]

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._data_dir(stage))

    def _wipe(self, stage: str) -> None:
        """Remove a stage's data+manifest through the Hadoop FS layer (works
        on HDFS/S3, not just the local filesystem). Manifest goes FIRST so a
        kill mid-wipe can only leave data-without-manifest (recomputed), not
        manifest-without-matching-data (served stale)."""
        self._wipe_manifest(stage)
        self._rm(self._data_dir(stage))

    def _wipe_manifest(self, stage: str) -> None:
        self._rm(self._manifest_dir(stage))

    def _rm(self, d: str) -> None:
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(d)
        fs = path.getFileSystem(conf)
        if fs.exists(path):
            fs.delete(path, True)

    def fingerprint(self, files: DataFrame) -> str:
        return input_fingerprint(files)

    # ------------------------------------------------------ whole stages
    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        input_fingerprint: str,
    ) -> DataFrame:
        """Load `name` if checkpointed for this (config, input), else compute,
        persist, and read back — downstream stages consume a clean parquet
        scan (column-pruned, no recompute of the UDF lineage)."""
        if -1 in self.completed(name, input_fingerprint):
            df = self.load(name)
            self.metrics.append(
                dict(stage=name, config_hash=self.config_hash, resumed=True,
                     rows=None, wall_ms=0)
            )
            return df
        t0 = time.time()
        df = fn()
        out_dir = self._data_dir(name)
        # WIPE the old manifest BEFORE touching the data dir: a kill between
        # the data overwrite and the manifest write must leave no manifest at
        # all (next run recomputes), never the previous run's manifest paired
        # with this run's data — that pairing would let a later run with the
        # OLD input resume and silently serve the NEW dataset's rows
        self._wipe_manifest(name)
        df.write.mode("overwrite").parquet(out_dir)
        out = self.spark.read.parquet(out_dir)
        rows = out.count()
        wall_ms = int((time.time() - t0) * 1000)
        self._append_manifest(
            [dict(stage=name, input_fingerprint=input_fingerprint, pt=-1,
                  rows=rows, wall_ms=wall_ms)],
            overwrite=True,
        )
        self.metrics.append(
            dict(stage=name, config_hash=self.config_hash, resumed=False,
                 rows=rows, wall_ms=wall_ms)
        )
        return out

    # ---------------------------------------------------- partitioned stage
    def partitioned_stage(
        self,
        name: str,
        input_df: DataFrame,
        fn: Callable[[DataFrame], DataFrame],
        input_fingerprint: str,
        n_pt: int = 32,
        pts_per_commit: int = 8,
    ) -> DataFrame:
        """Per-partition resumable stage (north rule: per-partition lineage).

        Rows are assigned to ``pt = pmod(xxhash64(fid), n_pt)``, so input_df
        must carry ``fid``; fn maps an input SUBSET to its output rows (pt
        column preserved). Completed partitions are skipped via an anti-join
        against the manifest; only missing partitions are computed and
        written (dynamic partition overwrite → re-running a half-written
        partition replaces it).
        """
        expr = f"pmod(xxhash64(fid), {n_pt})"
        keyed = input_df.withColumn("pt", F.expr(expr))
        done = set(self.completed(name, input_fingerprint, n_pt=n_pt))
        done.discard(-1)
        todo_pts = [p for p in range(n_pt) if p not in done]
        t0 = time.time()
        if todo_pts:
            fresh = not done
            if fresh:
                # fresh input (fingerprint changed or first run): wipe the
                # stage so no stale partitions from a previous input survive
                self._wipe(name)
            # commit in PARTITION GROUPS: data + manifest land together per
            # group, so a mid-stage kill loses only the in-flight group —
            # the next run's anti-join recomputes just that remainder. This
            # is what makes the per-partition lineage actually recoverable
            # (a single stage-wide write would commit all-or-nothing).
            for i in range(0, len(todo_pts), pts_per_commit):
                group = todo_pts[i : i + pts_per_commit]
                g0 = time.time()
                todo = keyed.filter(F.col("pt").isin(group))
                (
                    fn(todo.drop("pt")).withColumn("pt", F.expr(expr))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("pt")
                    .parquet(self._data_dir(name))
                )
                # pt alone: a group that wrote no rows reads back empty
                written = (
                    self.spark.read.schema("pt long")
                    .parquet(self._data_dir(name))
                    .filter(F.col("pt").isin(group))
                )
                per_pt = {
                    r["pt"]: r["n"]
                    for r in written.groupBy("pt")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                g_ms = int((time.time() - g0) * 1000)
                self._append_manifest(
                    [
                        dict(stage=name, input_fingerprint=input_fingerprint,
                             pt=int(p), n_pt=int(n_pt),
                             rows=int(per_pt.get(p, 0)),
                             wall_ms=g_ms // max(1, len(group)))
                        for p in group
                    ],
                )
        self.metrics.append(
            dict(
                stage=name,
                config_hash=self.config_hash,
                resumed=not todo_pts,
                resumed_partitions=len(done),
                computed_partitions=len(todo_pts),
                rows=None,
                wall_ms=int((time.time() - t0) * 1000),
            )
        )
        # explicit schema (plan-only, from an empty input): a stage that
        # wrote ZERO rows reads back empty instead of failing inference
        out_schema = (
            fn(keyed.drop("pt").limit(0)).withColumn("pt", F.expr(expr)).schema
        )
        return (
            self.spark.read.schema(out_schema)
            .parquet(self._data_dir(name))
            .drop("pt")
        )

    def write_metrics(self) -> str:
        """Persist the accumulated per-stage metrics ledger (FIXTURES.md §4)
        as a Spark-written JSON table next to the checkpoint tables."""
        # append only the rows accumulated since the last write: a reused
        # store (session-reuse path: several pipeline runs on one instance)
        # must not re-append earlier runs' rows to the ledger
        fresh = self.metrics[self._metrics_written:]
        path = f"{self.root}/metrics/config={self.config_hash}"
        if not fresh:
            return path
        df = self.spark.createDataFrame(
            [
                (
                    m["stage"],
                    m["config_hash"],
                    bool(m.get("resumed")),
                    m.get("rows"),
                    m.get("wall_ms"),
                )
                for m in fresh
            ],
            "stage string, config_hash string, resumed boolean, rows long, wall_ms long",
        )
        df.coalesce(1).write.mode("append").json(path)
        self._metrics_written = len(self.metrics)
        return path


class NullStore:
    """No-persistence store: every stage runs in place, nothing is recorded
    (a wall time would time plan construction, not execution)."""

    def __init__(self):
        self.metrics: list[dict] = []

    def fingerprint(self, files: DataFrame) -> None:
        return None

    def stage(self, name, fn, input_fingerprint):
        return fn()

    def partitioned_stage(self, name, input_df, fn, input_fingerprint):
        # one job materializes the frame every later stage fans out from
        out = fn(input_df).persist()
        out.count()
        return out

    def write_metrics(self) -> None:
        return None
