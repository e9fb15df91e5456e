#!/usr/bin/env python3
"""Dedup pipeline benchmark.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) against ``DedupPipeline.run`` at
local[4] in one process, checks the labels of every operation against the
reference rule (checks.py), and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` measures the end-to-end metrics with tracing off:

* set-up: session start, input read and persist, and a first untimed
  operation, done SETUPS times (the later ones a new session in the same
  JVM); ``setup_s`` is the median;
* timed operations, input frame to labels on the driver, after one untimed
  warm-up operation, for ``--seconds`` and at least MIN_OPS of them;
  ``run_s`` is their median.

``--trace 1`` runs each layer on its own, in spans with Spark job groups,
writes an uncompressed event log and reduces it to per-layer metrics (see
layers.py and trace.py).

Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WIDTH = 4                 # local[4]
DRIVER_MEM = "2g"         # ample for these inputs; a compact heap faults less
SETUPS = 2                # set-ups per run; setup_s is their median
WARMUP_OPS = 1            # untimed operations before the timed ones
MIN_OPS = 3               # timed operations per run, at least


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env() -> dict:
    """Keep the JVM, Python workers and Spark scratch inside WORK."""
    for sub in ("spark-local", "tmp", "corpus"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM the launch starts: no perf-data file in /tmp, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def rss_high_water_mb() -> dict:
    """VmHWM in MB of every process this one started (the JVM and the
    Python workers under it), read from /proc, keyed by pid:name."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    todo, tree = [os.getpid()], []
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        todo += kids
    out = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                st = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in st:
            out[f"{pid}:{st['Name'].strip()}"] = int(st["VmHWM"].split()[0]) / 1024.0
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One benchmark run: a workload, its reference and the op ledger."""

    def __init__(self, workload, conf: dict):
        from libpostal_spark.config import PipelineConfig

        from perfbench.checks import Reference

        self.wl = workload
        self.conf = conf
        self.cfg = PipelineConfig()
        t0 = time.perf_counter()
        self.ref = Reference(workload.truth, workload.contents, self.cfg)
        log(f"reference: {len(self.ref.true_pairs)} true planted pairs "
            f"({time.perf_counter() - t0:.1f}s)")
        self.attempted = 0
        self.failed = 0
        self.digest = None
        self.recalls: list[float] = []
        self.problems: list[str] = []
        self._verified: dict[str, object] = {}

    def session(self, extra: dict | None = None):
        from libpostal_spark.session import get_spark

        return get_spark(
            app_name=f"perfbench_{self.wl.name}",
            master=f"local[{WIDTH}]",
            extra_conf={**self.conf, **(extra or {})},
        )

    def load_input(self, spark):
        files = (
            spark.read.parquet(self.wl.files_path)
            .select("repo", "path", "commit", "lang", "content")
            .repartition(WIDTH)
            .persist()
        )
        files.count()
        return files

    def record(self, what: str, labels: dict | None, err: str | None = None) -> bool:
        """Check one operation's labels; count it as attempted or failed."""
        from perfbench.checks import label_digest

        self.attempted += 1
        problems = [err] if err else []
        if labels is not None:
            digest = label_digest(labels)
            verdict = self._verified.get(digest)
            if verdict is None:
                verdict = self._verified[digest] = self.ref.check(labels)
            self.recalls.append(verdict.recall)
            problems += verdict.problems
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                problems.append("labels differ from the run's first operation")
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]
            log(f"FAILED {what}: {problems}")
        return not problems

    def op(self, spark, files, what: str) -> float | None:
        """One operation: input frame -> clusters labels on the driver."""
        from libpostal_spark.pipeline import DedupPipeline

        from perfbench.layers import labels_of

        try:
            t0 = time.perf_counter()
            res = DedupPipeline(spark, self.cfg).run(files)
            labels = labels_of(res.clusters)
            dt = time.perf_counter() - t0
            res.release()
        except Exception:
            self.record(what, None, traceback.format_exc(limit=3))
            return None
        return dt if self.record(what, labels) else None

    def setup(self, extra: dict | None = None):
        """Session start + input read/persist + first untimed operation."""
        t0 = time.perf_counter()
        spark = self.session(extra)
        start_s = time.perf_counter() - t0
        files = self.load_input(spark)
        self.op(spark, files, "setup")
        return spark, files, time.perf_counter() - t0, start_s


def measure(run: Run, seconds: float) -> tuple[dict, dict]:
    setups = []
    for i in range(SETUPS):
        if setups:
            # a new session, and new Python workers, in the same JVM
            files.unpersist()
            spark.stop()
        spark, files, dt, _ = run.setup()
        setups.append(dt)
        log(f"setup {i}: {dt:.2f}s")
    for i in range(WARMUP_OPS):
        run.op(spark, files, f"warmup{i}")
    times, tries = [], 0
    t_end = time.perf_counter() + seconds
    while tries < MIN_OPS or time.perf_counter() < t_end:
        tries += 1
        dt = run.op(spark, files, f"op{tries}")
        if dt is not None:
            times.append(dt)
            log(f"op {tries}: {dt:.3f}s")
    rss = rss_high_water_mb()
    files.unpersist()
    stop_spark(spark)

    if not times:
        raise RuntimeError(f"no timed operation passed: {run.problems}")
    run_s = statistics.median(times)
    metrics = {
        "run_s": (run_s, "s"),
        "files_per_s": (run.wl.n_files / run_s, "files/s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
        "dup_pair_recall": (statistics.median(run.recalls), "ratio"),
    }
    detail = {"run_s_samples": times, "setup_s_samples": setups,
              "rss_mb": rss, "n_files": run.wl.n_files}
    return metrics, detail


def measure_traced(run: Run) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.trace import Tracer, empty_group, event_files, reduce_event_log

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, files, _, start_s = run.setup({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    })
    for i in range(WARMUP_OPS):
        run.op(spark, files, f"warmup{i}")
    untraced = run.op(spark, files, "untraced")
    if untraced is None:
        raise RuntimeError(f"the untraced operation failed: {run.problems}")
    tracer = Tracer(spark)
    labels, counts, cached = layers.traced_layers(spark, files, run.cfg, tracer)
    s_spans = [s for s in tracer.spans if s["name"] in layers.S_LAYERS]
    total_s = (s_spans[-1]["start"] + s_spans[-1]["wall_s"]) - s_spans[0]["start"]
    layers_sum_s = sum(s["wall_s"] for s in s_spans)
    run.record("traced", labels)
    run.record("connected_components", None, None if counts["cc_routes_agree"]
               else "distributed CC labels differ from driver union-find")
    for df in cached:
        df.unpersist()
    ck = layers.traced_checkpoint(
        spark, files, run.cfg, tracer, os.path.join(WORK, "checkpoint")
    )
    run.record("checkpoint_cold", ck["cold_labels"])
    run.record("checkpoint_resume", ck["resumed_labels"],
               None if ck["all_resumed"] else "resume recomputed a stage")
    files.unpersist()
    stop_spark(spark)
    groups = reduce_event_log(event_files(log_dir))

    sig, ex, keys, cand, ver, _, lab, cc = (
        groups.get(n) or empty_group()
        for n in layers.S_LAYERS + ("cluster.connected_components",)
    )
    cc_rounds = sum(
        1 for c in cc["callsites"] if c.startswith("collect at") and "cluster.py" in c
    ) - 1
    pairs = max(1, counts["pairs"])
    m = {
        "session.get_spark.start_s": (start_s, "s"),
        "blocking.signatures.wall_s": (tracer.wall("blocking.signatures"), "s"),
        "blocking.signatures.exec_run_s": (sig["exec_run_s"], "s"),
        "blocking.signatures.py_sent_bytes": (sig["py_sent_bytes"], "bytes"),
        "blocking.signatures.py_returned_bytes": (sig["py_returned_bytes"], "bytes"),
        "blocking.signatures.py_run_s": (sig["py_run_s"], "s"),
        "blocking.signatures.rows": (counts["rows"], "count"),
        "blocking.exact_groups.wall_s": (tracer.wall("blocking.exact_groups"), "s"),
        "blocking.exact_groups.exec_run_s": (ex["exec_run_s"], "s"),
        "blocking.exact_groups.shuffle_bytes": (ex["shuffle_write_bytes"], "bytes"),
        "blocking.exact_groups.reps": (counts["reps"], "count"),
        "blocking.exact_groups.contraction": (
            counts["reps"] / max(1, counts["rows"]), "ratio"),
        "blocking.blocking_keys.wall_s": (tracer.wall("blocking.blocking_keys"), "s"),
        "blocking.blocking_keys.exec_run_s": (keys["exec_run_s"], "s"),
        "blocking.blocking_keys.keys": (counts["keys"], "count"),
        "blocking.blocking_keys.keys_per_rep": (
            counts["keys"] / max(1, counts["reps"]), "ratio"),
        "blocking.candidate_pairs.wall_s": (
            tracer.wall("blocking.candidate_pairs"), "s"),
        "blocking.candidate_pairs.exec_run_s": (cand["exec_run_s"], "s"),
        "blocking.candidate_pairs.shuffle_bytes": (
            cand["shuffle_write_bytes"], "bytes"),
        "blocking.candidate_pairs.pairs": (counts["pairs"], "count"),
        "blocking.candidate_pairs.max_bucket": (counts["max_bucket"], "count"),
        "blocking.candidate_pairs.oversized_buckets": (
            counts["oversized_buckets"], "count"),
        "verify.verified_pairs.wall_s": (tracer.wall("verify.verified_pairs"), "s"),
        "verify.verified_pairs.exec_run_s": (ver["exec_run_s"], "s"),
        "verify.verified_pairs.shuffle_bytes": (ver["shuffle_write_bytes"], "bytes"),
        "verify.verified_pairs.py_sent_bytes": (ver["py_sent_bytes"], "bytes"),
        "verify.verified_pairs.py_sent_bytes_per_pair": (
            ver["py_sent_bytes"] / pairs, "bytes/pair"),
        "verify.verified_pairs.py_returned_bytes": (
            ver["py_returned_bytes"], "bytes"),
        "verify.verified_pairs.py_run_s": (ver["py_run_s"], "s"),
        "verify.verified_pairs.confirmed": (counts["confirmed"], "count"),
        "verify.verified_pairs.confirm_yield": (
            counts["confirmed"] / pairs, "ratio"),
        "cluster.wall_s": (tracer.wall("cluster"), "s"),
        "cluster.edges": (counts["confirmed"], "count"),
        "cluster.distributed": (counts["distributed"], "count"),
        "cluster.connected_components.wall_s": (
            tracer.wall("cluster.connected_components"), "s"),
        "cluster.connected_components.rounds": (cc_rounds, "count"),
        "pipeline.labels.wall_s": (tracer.wall("pipeline.labels"), "s"),
        "pipeline.labels.exec_run_s": (lab["exec_run_s"], "s"),
        "pipeline.labels.shuffle_bytes": (lab["shuffle_write_bytes"], "bytes"),
        "pipeline.labels.components": (counts["components"], "count"),
        "checkpoint.write_s": (tracer.wall("checkpoint.cold"), "s"),
        "checkpoint.bytes_written": (ck["bytes_written"], "bytes"),
        "checkpoint.files_written": (ck["files_written"], "count"),
        "checkpoint.read_s": (tracer.wall("checkpoint.resume"), "s"),
        "trace.total_s": (total_s, "s"),
        "trace.layers_sum_s": (layers_sum_s, "s"),
        "trace.untraced_run_s": (untraced, "s"),
        "trace.overhead_s": (total_s - untraced, "s"),
    }
    for stage in layers.CHECKPOINT_STAGES:
        m[f"checkpoint.{stage}.write_s"] = (ck["stage_write_s"].get(stage, 0.0), "s")
    detail = {
        "groups": {k: {kk: vv for kk, vv in v.items() if kk != "callsites"}
                   for k, v in groups.items()},
        "spans": tracer.spans,
    }
    return m, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "libpostal_spark")):
        log(f"libpostal_spark not found beside {HERE}; run from a checkout "
            "of the repository")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {', '.join(workloads.WORKLOADS)}")
        return 2
    conf = configure_env()
    t0 = time.perf_counter()
    wl = workloads.load(args.workload, args.seed, os.path.join(WORK, "corpus"))
    log(f"{wl.name} seed {wl.seed}: {wl.n_files} files "
        f"({time.perf_counter() - t0:.1f}s to generate or load)")
    run = Run(wl, conf)
    if args.trace:
        metrics, detail = measure_traced(run)
    else:
        metrics, detail = measure(run, args.seconds)
    detail.update(workload=wl.name, seed=wl.seed, problems=run.problems)
    with open(os.path.join(WORK, f"last_{wl.name}_trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
