"""Measurement plumbing: spans, Spark job counters, the offline event-log
parse, call-site labels and process memory.

Spans are recorded from the benchmark's own code, around its calls into
the program's layers (module-attribute wrappers installed only in a
traced run). Nothing here starts a thread.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

import pyspark


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes ``span`` free.
    ``span`` yields the recorded ``Span`` (``None`` when disabled)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module, attr: str, name: str, after=None):
        """Context manager replacing ``module.attr`` by a spanned wrapper;
        ``after(result, args, kwargs)`` sees each call's result."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        @contextlib.contextmanager
        def installed():
            setattr(module, attr, wrapper)
            try:
                yield
            finally:
                setattr(module, attr, orig)

        return installed()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus
        the part covered by child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            d = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            d["count"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += s.end - s.start - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run_id": s.run_id}) + "\n")


# -- Spark job counters (every run) ---------------------------------------

def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read from
    the status tracker (no UI, no event log)."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            si = st.getStageInfo(stage)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (reused shuffle) stage
            out["stages"] += 1
            out["tasks"] += si.numTasks
            out["failed_tasks"] += si.numFailedTasks
    return out


# -- call-site labels (traced run) ----------------------------------------

_PYSPARK_DIR = os.path.dirname(os.path.abspath(pyspark.__file__))


def _caller(root: str) -> str:
    f = sys._getframe(2)
    while f is not None:
        path = os.path.abspath(f.f_code.co_filename)
        if not path.startswith(_PYSPARK_DIR) and "pyspark.zip" not in path and path != __file__:
            return f"{os.path.relpath(path, root)}:{f.f_lineno}"
        f = f.f_back
    return "unknown"


@contextlib.contextmanager
def callsite_labels(spark, root: str):
    """Label every job an action starts with the action's name and its
    first caller outside pyspark (``count at plans/x.py:12``), through
    Spark's ``callSite.short`` local property, which the event log
    records in each job's properties."""
    sc = spark.sparkContext
    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)
    # the actions the workloads' code paths call
    targets = [(df_cls, "count"), (df_cls, "collect"), (writer_cls, "save"), (writer_cls, "parquet")]
    depth = [0]
    saved = []

    def labelled(name, orig):
        def action(*args, **kwargs):
            if depth[0]:
                return orig(*args, **kwargs)
            depth[0] += 1
            sc.setLocalProperty("callSite.short", f"{name} at {_caller(root)}")
            try:
                return orig(*args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)
                depth[0] -= 1
        return action

    for cls, m in targets:
        orig = cls.__dict__[m]
        saved.append((cls, m, orig))
        setattr(cls, m, labelled(m, orig))
    try:
        yield
    finally:
        for cls, m, orig in saved:
            setattr(cls, m, orig)


# -- event log (traced run, parsed after the session stops) -----------------

def parse_event_log(log_dir: str, groups: set[str]) -> dict:
    """Per-call-site executor and output metrics of the jobs in
    ``groups``; ``output_tasks`` counts tasks that wrote records (one
    file each)."""
    stage_site: dict[int, str] = {}
    submitted: dict[int, int] = {}
    sites: dict[str, dict] = {}
    files = sorted(f for f in glob.glob(f"{log_dir}/**/*", recursive=True)
                   if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if props.get("spark.jobGroup.id") not in groups:
                        continue
                    site = props.get("callSite.short") or "unlabelled"
                    for st in e["Stage IDs"]:
                        stage_site.setdefault(st, site)
                    sites.setdefault(site, _empty_site())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    if info["Stage ID"] in stage_site and info.get("Submission Time"):
                        submitted[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    site = stage_site.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if site is None or not m:
                        continue
                    d = sites[site]
                    d["tasks"] += 1
                    d["failed_tasks"] += e["Task End Reason"]["Reason"] != "Success"
                    d["executor_run_s"] += m["Executor Run Time"] / 1e3
                    d["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    d["gc_s"] += m["JVM GC Time"] / 1e3
                    d["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    d["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    out = m.get("Output Metrics") or {}
                    d["records_written"] += out.get("Records Written", 0)
                    d["bytes_written"] += out.get("Bytes Written", 0)
                    d["output_tasks"] += out.get("Records Written", 0) > 0
                    sub = submitted.get(e["Stage ID"])
                    if sub is not None:
                        d["task_wait_s"] += max(0, e["Task Info"]["Launch Time"] - sub) / 1e3
    return sites


def _empty_site() -> dict:
    return {"jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "task_wait_s": 0.0, "records_written": 0,
            "bytes_written": 0, "output_tasks": 0}


# -- memory ------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reset_peak_rss(jvm_pid: int) -> None:
    """Restart the kernel's peak-RSS mark of the JVM and its Python
    workers, so the next read covers the timed runs only."""
    for p in _descendants(jvm_pid):
        with contextlib.suppress(OSError):
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over the JVM and its Python
    worker processes, in MiB."""
    total_kb = 0
    for p in _descendants(jvm_pid):
        with contextlib.suppress(OSError):
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
    return total_kb / 1024.0
