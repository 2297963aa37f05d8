"""Spans recorded by the benchmark around its calls into each layer, and
the per-layer numbers Spark itself reports for the same time windows.

Spans are kept in memory and written out once the run ends. Spark's own
numbers (jobs, stages, SQL node metrics, streaming progress) are read
after the timed loop from Spark's REST API and from a
``StreamingQueryListener``, and are attributed to requests by time
window: requests run one at a time, so the jobs and SQL executions
submitted inside a request's window are a contiguous id range, whatever
thread submitted them. This is what catches micro-batch jobs, which run
on the stream's own thread and escape a thread-local job group.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, start, end, parent and request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.hook_s = 0.0

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent, "request": request,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.hook_s += time.perf_counter() - h0
        try:
            yield rec
        finally:
            h1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.hook_s += time.perf_counter() - h1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_end = 0.0, None
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
            if cur_end is not None:
                lo = max(lo, cur_end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return (span["end"] - span["start"]) - covered


class ProgressListener(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` events (registered only in a
    traced run; a Python listener needs the py4j callback server)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "ts": _parse_ts(p.timestamp),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _parse_ts(s: str) -> float:
    """Spark REST / progress timestamps (``2026-01-02T03:04:05.678GMT`` or
    ``...Z``) to epoch seconds."""
    s = s.replace("GMT", "").replace("Z", "")
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp()


def rest(ui_url: str, path: str):
    with urllib.request.urlopen(f"{ui_url}/api/v1{path}", timeout=60) as r:
        return json.loads(r.read())


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def metric_value(text: str) -> float:
    """First figure of a SQL node metric string, in bytes or seconds
    (``total (min, med, max ...)\\n1.2 s (...)`` -> 1.2; plain counts as-is)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


def spark_windows(ui_url: str, windows: list[tuple[float, float, int]]):
    """Spark jobs, stages and SQL executions per request id.

    ``windows`` holds ``(start, end, request)`` in epoch seconds, one per
    timed request phase (``request`` is any hashable key); returns
    ``{request: {"jobs": [...], "stages": [...], "sql": [...]}}``."""
    app = rest(ui_url, "/applications")[0]["id"]
    jobs = rest(ui_url, f"/applications/{app}/jobs")
    stages: dict[int, list[dict]] = {}
    for s in rest(ui_url, f"/applications/{app}/stages"):
        stages.setdefault(s["stageId"], []).append(s)
    sqls = rest(ui_url, f"/applications/{app}/sql?details=true&planDescription=false"
                        "&offset=0&length=1000000")

    def owner(ts: float):
        for lo, hi, rid in windows:
            if lo <= ts <= hi:
                return rid
        return None

    out: dict = {}
    for j in jobs:
        rid = owner(_parse_ts(j["submissionTime"])) if "submissionTime" in j else None
        if rid is None:
            continue
        d = out.setdefault(rid, {"jobs": [], "stages": [], "sql": []})
        d["jobs"].append(j)
        for sid in j.get("stageIds", []):
            d["stages"].extend(stages.get(sid, []))
    for q in sqls:
        rid = owner(_parse_ts(q["submissionTime"])) if "submissionTime" in q else None
        if rid is not None:
            out.setdefault(rid, {"jobs": [], "stages": [], "sql": []})["sql"].append(q)
    return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    t = dict.fromkeys(
        ("stages", "stages_skipped", "tasks", "tasks_failed", "task_run_s",
         "jvm_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "shuffle_fetch_wait_s", "spill_bytes", "input_bytes", "input_records"),
        0.0,
    )
    seen = set()
    for s in stages:
        key = (s["stageId"], s["attemptId"])
        if key in seen:
            continue
        seen.add(key)
        if s.get("status") == "SKIPPED":
            t["stages_skipped"] += 1
            continue
        t["stages"] += 1
        t["tasks"] += s.get("numTasks", 0)
        t["tasks_failed"] += s.get("numFailedTasks", 0)
        t["task_run_s"] += s.get("executorRunTime", 0) / 1e3
        t["jvm_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        t["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        t["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        t["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        t["shuffle_fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
        t["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        t["input_bytes"] += s.get("inputBytes", 0)
        t["input_records"] += s.get("inputRecords", 0)
    return t


#: SQL node metric name fragment -> per-layer metric (Python workers
#: running the ``operators`` Arrow kernels)
WORKER_METRICS = {
    "time to start python worker": "worker_boot_s",
    "time to initialize python worker": "worker_init_s",
    "time to run python worker": "worker_run_s",
    "data sent to python worker": "worker_bytes_in",
    "data returned from python worker": "worker_bytes_out",
}


def sql_totals(sqls: list[dict]) -> dict[str, float]:
    t = dict.fromkeys(
        ("exchanges", "sorts", "broadcasts", "local_relation_scans",
         *WORKER_METRICS.values()),
        0.0,
    )
    for q in sqls:
        for node in q.get("nodes", []):
            name = node.get("nodeName", "")
            if name == "Exchange":
                t["exchanges"] += 1
            elif name == "Sort":
                t["sorts"] += 1
            elif name == "BroadcastExchange":
                t["broadcasts"] += 1
            elif name.startswith("Scan ExistingRDD"):
                t["local_relation_scans"] += 1
            for m in node.get("metrics", []):
                mname = m.get("name", "").lower()
                for frag, key in WORKER_METRICS.items():
                    if mname.startswith(frag):
                        t[key] += metric_value(m.get("value", ""))
    return t


def proc_status(pid: int, field: str) -> float:
    """A ``/proc/<pid>/status`` kB field (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_io(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
