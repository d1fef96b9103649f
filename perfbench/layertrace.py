"""Per-layer attribution for a traced run.

Spans wrap the package's public functions by patching the module attribute
every caller looks up (the defining module and every package module that
imported the function by name). Entering a span sets the Spark job group to
the span's id, so every job belongs to the innermost open span. Task-level
numbers come from Spark's JSON event log, written uncompressed and rolling
(``eventlog_v2_<app>/events_<N>_<app>``), read after the session stops.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import shutil
import sys
import time
from contextlib import contextmanager

PKG = "es_household_retention_spark_job_spark"

#: layer -> (module, public functions wrapped in spans)
LAYERS = {
    "pipeline": (f"{PKG}.pipeline", ("run_phase1", "run_phase2", "run_incremental")),
    "retention": (
        f"{PKG}.operators.retention",
        ("phase1", "pack_history", "check_phase2_invariant"),
    ),
    "upsert": (
        f"{PKG}.sinks.upsert",
        ("read_keyed_table", "upsert_parquet", "read_changes", "write_keyed_table"),
    ),
    "index_sync": (
        f"{PKG}.streaming.index_sync",
        ("sync_text_index", "sync_ann_index", "sync_neardup_index", "sync_dedup_clusters"),
    ),
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.rolling.maxFileSize": "10m",
    }


class Tracer:
    """Span tree with wall-clock bounds (epoch seconds, the clock the event
    log stamps jobs with). A span's parent is the span whose job group was
    set when it opened; Spark keeps the job group per thread, and threads
    started through ``pyspark.inheritable_thread_target`` inherit it, so
    spans opened on worker threads nest under the span that started them."""

    GROUP, DESC = "spark.jobGroup.id", "spark.job.description"

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        prev = (self.sc.getLocalProperty(self.GROUP), self.sc.getLocalProperty(self.DESC))
        rec = {
            "id": f"perfbench-{next(self._ids)}",
            "name": name,
            "parent": prev[0] if prev[0] and prev[0].startswith("perfbench-") else None,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty(self.GROUP, prev[0])
            self.sc.setLocalProperty(self.DESC, prev[1])

    def total(self, name: str) -> float:
        """Summed wall time of every span called ``name``."""
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Patch every layer function wherever the package looks it up."""
        for layer, (module, names) in LAYERS.items():
            mod = sys.modules[module]
            for fname in names:
                orig = getattr(mod, fname)
                traced = self.wrap(f"{layer}.{fname}", orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG) and vars(m).get(fname) is orig:
                        setattr(m, fname, traced)


def _log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: rolling ones in N order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = []
            for f in os.listdir(path):
                m = re.match(r"events_(\d+)_", f)
                if m:
                    parts.append((int(m.group(1)), os.path.join(path, f)))
            out.extend(p for _, p in sorted(parts))
        else:
            out.append(path)
    return out


_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def read_event_log(log_dir: str) -> dict:
    """jobs {id: {group, t0, t1}}, stages {(id, attempt): {group, t0, t1,
    wrote}}, tasks [{group, stage, ...metrics}]; then deletes the log."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                head = line[:60]
                if not any(w in head for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1000,
                        "t1": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stages[(sid, info["Stage Attempt ID"])] = {
                        "group": stage_group.get(sid),
                        "t0": info.get("Submission Time", 0) / 1000,
                        "t1": info.get("Completion Time", 0) / 1000,
                        "wrote": False,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    shuffle_w = m.get("Shuffle Write Metrics") or {}
                    out_m = m.get("Output Metrics") or {}
                    tasks.append(
                        {
                            "group": stage_group.get(ev["Stage ID"]),
                            "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                            "run": m.get("Executor Run Time", 0) / 1000,
                            "cpu": m.get("Executor CPU Time", 0) / 1e9,
                            "deser": m.get("Executor Deserialize Time", 0) / 1000,
                            "gc": m.get("JVM GC Time", 0) / 1000,
                            "shuffle_w": shuffle_w.get("Shuffle Bytes Written", 0),
                            "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "output": out_m.get("Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    for t in tasks:
        if t["output"] and t["stage"] in stages:
            stages[t["stage"]]["wrote"] = True
    shutil.rmtree(log_dir, ignore_errors=True)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _subtree(spans: list[dict], root_id: str) -> list[dict]:
    """Spans under ``root_id`` (inclusive); spans are in open order, so a
    parent always precedes its children."""
    ids = {root_id}
    out = []
    for s in spans:
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _outermost(spans: list[dict], match) -> list[dict]:
    """Spans whose name ``match`` accepts and none of whose ancestors it
    accepts."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not match(s["name"]):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not match(p["name"]):
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def attribute(spans: list[dict], log: dict, rep_id: str, cores: int) -> dict[str, float]:
    """Per-layer numbers for the rep whose root span is ``rep_id``."""
    sub = _subtree(spans, rep_id)
    root = sub[0]
    wall = root["t1"] - root["t0"]
    by_group: dict[str, list] = {}
    for j in log["jobs"].values():
        by_group.setdefault(j["group"], []).append(j)
    stages_by_group: dict[str, list] = {}
    for st in log["stages"].values():
        stages_by_group.setdefault(st["group"], []).append(st)
    tasks_by_group: dict[str, list] = {}
    for t in log["tasks"]:
        tasks_by_group.setdefault(t["group"], []).append(t)

    def collect(table, span_list):
        return [x for s in span_list for x in table.get(s["id"], [])]

    def job_union(jobs, lo, hi):
        return _union([(max(j["t0"], lo), min(j["t1"] or hi, hi)) for j in jobs])

    jobs = collect(by_group, sub)
    tasks = collect(tasks_by_group, sub)
    job_s = job_union(jobs, root["t0"], root["t1"])
    m: dict[str, float] = {
        "spark.jobs": len(jobs),
        "spark.stages": len(collect(stages_by_group, sub)),
        "spark.tasks": len(tasks),
        "spark.job_s": job_s,
        "spark.driver_s": wall - job_s,
        "spark.core_busy_share": sum(t["dur"] for t in tasks) / (wall * cores),
        "spark.task_run_s": sum(t["run"] for t in tasks),
        "spark.task_cpu_s": sum(t["cpu"] for t in tasks),
        "spark.task_deser_s": sum(t["deser"] for t in tasks),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
        "spark.input_bytes": sum(t["input"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "trace.job_s": wall,
    }
    children: dict[str, float] = {}
    for s in sub:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["t1"] - s["t0"]

    def self_s(span_list):
        return sum(s["t1"] - s["t0"] - children.get(s["id"], 0.0) for s in span_list)

    for layer, (_, names) in LAYERS.items():
        def in_layer(n, prefix=f"{layer}."):
            return n.startswith(prefix)

        tops = _outermost(sub, in_layer)
        m[f"{layer}.s"] = sum(s["t1"] - s["t0"] for s in tops)
        m[f"{layer}.jobs"] = len(collect(by_group, [x for s in tops for x in _subtree(sub, s["id"])]))
        m[f"{layer}.self_s"] = self_s([s for s in sub if in_layer(s["name"])])
        for fname in names:
            name = f"{layer}.{fname}"
            tops = _outermost(sub, lambda n, name=name: n == name)
            calls = [s for s in sub if s["name"] == name]
            span_trees = [x for s in tops for x in _subtree(sub, s["id"])]
            f_jobs = collect(by_group, span_trees)
            f_tasks = collect(tasks_by_group, span_trees)
            secs = sum(s["t1"] - s["t0"] for s in tops)
            in_jobs = sum(job_union(collect(by_group, _subtree(sub, s["id"])), s["t0"], s["t1"]) for s in tops)
            m[f"{name}.s"] = secs
            m[f"{name}.self_s"] = self_s(calls)
            m[f"{name}.calls"] = len(calls)
            m[f"{name}.jobs"] = len(f_jobs)
            m[f"{name}.tasks"] = len(f_tasks)
            m[f"{name}.driver_s"] = secs - in_jobs
            m[f"{name}.write_stage_s"] = sum(
                st["t1"] - st["t0"] for st in collect(stages_by_group, span_trees) if st["wrote"]
            )
            m[f"{name}.bytes_written"] = sum(t["output"] for t in f_tasks)
    return m


def unattributed_jobs(spans: list[dict], log: dict) -> int:
    """Jobs in the log whose job group is not a span (0 when every job
    the run started belongs to exactly one span: a job carries one group)."""
    ids = {s["id"] for s in spans}
    return sum(j["group"] not in ids for j in log["jobs"].values())
