"""Spans, Spark job groups and the event-log reducer for the traced run.

A span wraps one call into a layer's public function. Inside the span the
layer's output is materialized, and every Spark job it starts carries the
span's name as its job group. Spans stay in memory until the run ends.

Spark's event log (uncompressed JSON lines) is then reduced per job group
into executor time, shuffle and spill bytes, and the Python-boundary
figures of the ArrowEvalPython nodes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL accumulables of the Arrow Python eval nodes (sizes in bytes, time ms)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "start": start,
                 "wall_s": time.perf_counter() - t0}
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> float:
        return sum(s["wall_s"] for s in self.spans if s["name"] == name)


def empty_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "exec_run_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "py_sent_bytes": 0,
        "py_returned_bytes": 0,
        "py_run_s": 0.0,
        "callsites": [],
    }


def event_files(log_dir: str) -> list[str]:
    """Event files of every application log under ``log_dir``, in order.

    Handles both the rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)
    and single-file logs."""
    def index(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=index)
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def reduce_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group totals from Spark event-log files.

    A stage is attributed to the group of the first job that lists it, so a
    stage reused by a later job (skipped there) is counted once. Jobs with
    no group land under ``""``.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(empty_group)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = groups[props.get("spark.jobGroup.id") or ""]
                    g["jobs"] += 1
                    g["callsites"].append(props.get("callSite.short", ""))
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(
                            sid, props.get("spark.jobGroup.id") or ""
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev.get("Stage ID"), "")]
                    _add_task(g, ev)
    return dict(groups)


def _add_task(g: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["exec_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    rd = tm.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0
    )
    wr = tm.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name not in (PY_SENT, PY_RETURNED, PY_RUN):
            continue
        value = int(float(acc.get("Update") or 0))
        if name == PY_SENT:
            g["py_sent_bytes"] += value
        elif name == PY_RETURNED:
            g["py_returned_bytes"] += value
        else:
            g["py_run_s"] += value / 1000.0
