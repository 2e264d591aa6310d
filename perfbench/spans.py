"""Span recorder and Spark event-log reducer for the traced run.

Spans are recorded in memory around the benchmark's own calls into the
engine's public functions (never inside the engine) and written out
when the run ends. Each span tags the Spark jobs it launches with a job
group named after the span id; jobs of streaming micro-batches carry
Spark's own ``streaming.sql.batchId`` property instead. The local event
log, enabled from the launch environment, is then reduced per span and
per batch: jobs, stages, tasks, executor time, GC, shuffle, spill, I/O
and the physical-plan node counts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import Counter, defaultdict


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; nested
    spans record their parent, and while a span is open the Spark jobs
    started from this thread belong to its job group."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, epoch: int | None = None, **counts):
        rec = {"id": f"pb{len(self.spans)}", "name": name, "layer": name.split(".")[0],
               "parent": self._stack[-1]["id"] if self._stack else None,
               "workload": self.workload, "epoch": epoch, "counts": dict(counts),
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class NullTracer:
    """Records nothing and tags no job: the timed runs' stand-in."""

    @contextlib.contextmanager
    def span(self, name: str, epoch: int | None = None, **counts):
        yield {"counts": counts}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its direct children (children of one span run
    sequentially here, so their durations do not overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += max(0.0, (s["end"] - s["start"]) - child[s["id"]])
    return dict(out)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

PLAN_NODES = ("Exchange", "SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython",
              "ArrowEvalPython", "HashAggregate", "SortAggregate", "Window")

_COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
             "input_bytes", "output_bytes")


def _empty() -> dict:
    return {k: 0 for k in _COUNTERS} | {"plan": Counter()}


def _plan_nodes(desc: str) -> Counter:
    """Operator counts from a formatted physical plan's tree header."""
    head = desc.split("\n\n", 1)[0].split("== Initial Plan ==")[0]
    names = re.findall(r"^[\s:+\-|]*\**\s*([A-Za-z]+)", head, flags=re.M)
    return Counter(n for n in names if n in PLAN_NODES)


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the most recent application under ``log_dir``
    (Spark 4 writes one rolling directory per application)."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")), key=os.path.getmtime)
    if apps:
        return sorted(glob.glob(os.path.join(apps[-1], "events_*")),
                      key=lambda p: int(os.path.basename(p).split("_")[1]))
    plain = sorted((p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)),
                   key=os.path.getmtime)
    return plain[-1:]


def reduce_event_log(files: list[str]) -> dict[str, dict]:
    """Spark counters keyed by ``group:<job group>`` and
    ``batch:<streaming batch id>``; the key ``all`` sums every job."""
    stage_keys: dict[int, list[str]] = {}
    exec_keys: dict[str, set] = defaultdict(set)
    plans: dict[str, str] = {}
    out: dict[str, dict] = defaultdict(_empty)
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    keys = ["all"]
                    if props.get("spark.jobGroup.id"):
                        keys.append("group:" + props["spark.jobGroup.id"])
                    if props.get("streaming.sql.batchId") is not None:
                        keys.append("batch:" + str(props["streaming.sql.batchId"]))
                    for sid in e.get("Stage IDs", []):
                        stage_keys.setdefault(sid, keys)
                    if props.get("spark.sql.execution.id") is not None:
                        for k in keys:
                            exec_keys[k].add(props["spark.sql.execution.id"])
                    for k in keys:
                        out[k]["jobs"] += 1
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    for k in stage_keys.get(info["Stage ID"], ["all"]):
                        out[k]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    for k in stage_keys.get(e["Stage ID"], ["all"]):
                        o = out[k]
                        o["tasks"] += 1
                        o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
                        o["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                    + sr.get("Local Bytes Read", 0))
                        o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                        o["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                        o["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    # the last adaptive update is the plan that ran
                    plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
    for k, ids in exec_keys.items():
        for x in ids:
            out[k]["plan"] += _plan_nodes(plans.get(str(x), ""))
    return {k: v | {"plan": dict(v["plan"])} for k, v in out.items()}


def fold_stream_groups(reduced: dict, spans: list[dict]) -> None:
    """Streaming micro-batch jobs run under the query's own job group
    (its run id), not the span that started the query: file them under
    that span's group too."""
    for s in spans:
        alias = reduced.get("group:" + str(s["counts"].get("spark_group")))
        if alias is None:
            continue
        mine = reduced.setdefault("group:" + s["id"], _empty() | {"plan": {}})
        for k in _COUNTERS:
            mine[k] += alias[k]
        mine["plan"] = dict(Counter(mine["plan"]) + Counter(alias["plan"]))


def spark_counters_for(reduced: dict, span_ids) -> dict:
    """Sum the reduced counters over the job groups of ``span_ids``."""
    tot = _empty()
    for sid in span_ids:
        r = reduced.get("group:" + sid)
        if r is None:
            continue
        for k in _COUNTERS:
            tot[k] += r[k]
        tot["plan"].update(r["plan"])
    return tot | {"plan": dict(tot["plan"])}
