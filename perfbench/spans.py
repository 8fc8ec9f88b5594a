"""Spans kept by the benchmark around its calls into the engine, the
Spark counters attributed to them, and process-tree memory readings.

A span is (id, name, op, parent, start, end). Every span runs under
its own Spark job group, so after the run the driver's REST API
(`/api/v1/applications/<id>/jobs`, `/stages`, `/sql?details=true`)
tells which jobs, stages, tasks and pandas-UDF nodes each span caused.
Spans stay in memory; the REST data is fetched once, after the last
op, so the fetch never overlaps a timed op.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import time
import urllib.request

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(GROUP_PREFIX + str(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(GROUP_PREFIX + str(parent["id"]),
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# REST counters
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    d = datetime.datetime.strptime(ts.replace("GMT", ""),
                                   "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp()


_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_TOTAL = re.compile(r"([-0-9.,]+)\s*([A-Za-z]+)")

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


def parse_sql_metric(value: str) -> float:
    """Total of a formatted SQL metric, e.g.
    'total (min, med, max (stageId: taskId))\\n19.0 s (4.4 s, ...)'
    -> 19.0 (seconds; byte sizes -> bytes)."""
    line = value.split("\n", 1)[1] if "\n" in value else value
    m = _TOTAL.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def fetch_counters(sc, timeout: float = 60.0) -> dict:
    """Per-span counters from the REST API, keyed by span id. Waits
    until the listener has recorded every job as finished."""
    base = (f"{sc.uiWebUrl}/api/v1/applications/"
            f"{sc.applicationId}")
    deadline = time.time() + timeout
    while True:
        jobs = _get(base + "/jobs")
        sql = _get(base + "/sql?details=true&offset=0&length=100000")
        busy = (any(j["status"] == "RUNNING" for j in jobs)
                or any(e["status"] == "RUNNING" for e in sql))
        if not busy or time.time() > deadline:
            break
        time.sleep(0.5)
    stages = {}
    for s in _get(base + "/stages"):
        if s["status"] == "COMPLETE":
            stages[s["stageId"]] = s
    span_of_job = {}
    out: dict[int, dict] = {}

    def rec(sid):
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
            "arrow_python_run_s": 0.0, "arrow_bytes_to_python": 0,
            "arrow_bytes_from_python": 0, "stage_intervals": []})

    for j in jobs:
        g = j.get("jobGroup") or ""
        if not g.startswith(GROUP_PREFIX):
            continue
        sid = int(g[len(GROUP_PREFIX):])
        span_of_job[j["jobId"]] = sid
        r = rec(sid)
        r["jobs"] += 1
        for st in j["stageIds"]:
            s = stages.get(st)
            if s is None:           # skipped: its output was reused
                continue
            r["stages"] += 1
            r["tasks"] += s["numCompleteTasks"]
            r["executor_run_s"] += s["executorRunTime"] / 1e3
            r["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            r["gc_s"] += s["jvmGcTime"] / 1e3
            r["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            r["spill_bytes"] += (s["memoryBytesSpilled"]
                                 + s["diskBytesSpilled"])
            r["stage_intervals"].append(
                (_epoch(s.get("submissionTime")),
                 _epoch(s.get("completionTime"))))
    for e in sql:
        ids = (e.get("successJobIds", []) + e.get("failedJobIds", [])
               + e.get("runningJobIds", []))
        sids = {span_of_job[i] for i in ids if i in span_of_job}
        if len(sids) != 1:
            continue
        r = rec(sids.pop())
        for n in e.get("nodes", []):
            for m in n.get("metrics", []):
                if m["name"] == PY_RUN:
                    r["arrow_python_run_s"] += parse_sql_metric(m["value"])
                elif m["name"] == PY_SENT:
                    r["arrow_bytes_to_python"] += int(
                        parse_sql_metric(m["value"]))
                elif m["name"] == PY_BACK:
                    r["arrow_bytes_from_python"] += int(
                        parse_sql_metric(m["value"]))
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if None not in i):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], [])) for s in spans}


# ---------------------------------------------------------------------------
# process-tree memory (driver python, JVM, python workers)
# ---------------------------------------------------------------------------

def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reset_peak_rss(pids) -> None:
    """Reset each process's VmHWM to its current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass            # process ended in between


def peak_rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total / 1024.0
