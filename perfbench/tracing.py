"""Tracing from outside the engine: spans set as Spark job groups
around each call the benchmark makes into a layer, task metrics folded
from Spark's own event log, and a /proc resident-memory sampler.

Nothing here imports the engine; the event log is parsed after the
session that wrote it has stopped (stop flushes and closes the file).
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

# SQL metrics the Python exec nodes report per task (MapInPandas,
# ArrowEvalPython, ...), folded per span; timings arrive in ms
PY_RUN = "time to run Python workers"
PY_INIT = ("time to initialize Python workers", "time to start Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Records spans; each span is also a Spark job group, so the jobs
    it submits can be found in the event log."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "id": f"{self.run_id}/{idx}",
               "parent": self.spans[self._stack[-1]]["id"]
               if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["id"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


class _NullTracer:
    """Tracer stand-in for untraced jobs: spans record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield {"name": name}


NULL_TRACER = _NullTracer()


def _accum(task_info: dict, names) -> float:
    names = (names,) if isinstance(names, str) else names
    tot = 0.0
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") in names:
            try:
                tot += float(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return tot


def read_event_log(log_dir: str) -> dict:
    """Fold the newest event log under ``log_dir`` into per-job-group
    totals: {group: {jobs, tasks:[(stage, dur_s)], gc_s, ...}}."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no completed event log under {log_dir}")
    path = max(files, key=os.path.getmtime)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(g):
        return groups.setdefault(g, {
            "jobs": 0, "tasks": [], "gc_s": 0.0, "shuffle_mb": 0.0,
            "spill_mb": 0.0, "write_mb": 0.0,
            "py_run_s": 0.0, "py_init_s": 0.0, "py_mb": 0.0})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                group(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                rec = group(g)
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                dur = (info.get("Finish Time", 0)
                       - info.get("Launch Time", 0)) / 1e3
                rec["tasks"].append((ev.get("Stage ID"), dur))
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                rec["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                rec["write_mb"] += (m.get("Output Metrics", {})
                                    .get("Bytes Written", 0)) / 1e6
                rec["py_run_s"] += _accum(info, PY_RUN) / 1e3
                rec["py_init_s"] += _accum(info, PY_INIT) / 1e3
                rec["py_mb"] += _accum(info, PY_BYTES) / 1e6
    return groups


def span_metrics(groups: dict, span: dict, cores: int,
                 descendants: list[dict]) -> dict:
    """Spark-side metrics of one span: its own job group plus those of
    the spans nested inside it."""
    recs = [groups[s["id"]] for s in [span, *descendants]
            if s["id"] in groups]
    tasks = [t for r in recs for t in r["tasks"]]
    wall = span["wall_s"]
    task_s = sum(d for _, d in tasks)
    out = {"wall_s": wall, "jobs": sum(r["jobs"] for r in recs),
           "busy": task_s / max(wall * cores, 1e-9)}
    for key in ("gc_s", "shuffle_mb", "spill_mb", "write_mb",
                "py_run_s", "py_init_s", "py_mb"):
        out[key] = sum(r[key] for r in recs)
    out["skew"], out["hot_task_share"] = _heaviest_stage(tasks)
    return out


def _heaviest_stage(tasks) -> tuple[float, float]:
    """(max / median task time, max / total task time) of the stage
    holding the most task time — the stage a straggler would stretch."""
    by_stage: dict[int, list[float]] = {}
    for sid, dur in tasks:
        by_stage.setdefault(sid, []).append(dur)
    if not by_stage:
        return 0.0, 0.0
    durs = max(by_stage.values(), key=sum)
    med = statistics.median(durs)
    return (max(durs) / med if med > 0 else 1.0,
            max(durs) / sum(durs) if sum(durs) > 0 else 0.0)


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python workers), sampled every ``period`` s while
    active. Each process counts its proportional set size (Pss), so the
    pages forked Python workers share are counted once, not per worker."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.peak_parts_kb: dict[str, int] = {}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def _loop(self):
        while not self._stop.wait(self.period):
            if self._active.is_set():
                parts = self.sample_kb()
                if sum(parts.values()) > self.peak_kb:
                    self.peak_kb = sum(parts.values())
                    self.peak_parts_kb = parts

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(task) as fh:
                    out += [int(c) for c in fh.read().split()]
            except OSError:
                pass
        return out

    def sample_kb(self) -> dict:
        """Pss in kB of this process's descendants, by command name."""
        parts: dict[str, int] = {}
        todo = self._children(os.getpid())
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                todo += self._children(pid)
                # a child the JVM has forked but not yet exec'd (the
                # Python daemon starting) shares the JVM's pages under a
                # thread's name; counting it would count the JVM twice
                if comm != "java" and not comm.startswith("python"):
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            parts[comm] = (parts.get(comm, 0)
                                           + int(line.split()[1]))
                            break
            except OSError:
                continue
        return parts
