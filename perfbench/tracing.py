"""Spans, self time, percentiles, and the Spark/OS readings of a traced run.

Spans are recorded by the benchmark's own code around calls into the
engine's modules (``Tracer.span``) and, in a traced run, around the
module-level public functions listed in ``run.WRAPPED`` (``Tracer.wrap``
swaps the module attribute for a timing wrapper and restores it on
``unwrap``).  Spark job intervals read from the monitoring REST API after
each op are attached as child spans, so every layer's *self time* — its
duration minus the part its children cover — adds up to the op's wall time.
"""

from __future__ import annotations

import calendar
import functools
import json
import math
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


# --- percentiles -----------------------------------------------------------


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile, ``0 < p <= 1``."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(p * len(s)) - 1)]


#: samples a reported tail percentile must have beyond it
TAIL_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest nearest-rank percentile with at least ``TAIL_BEYOND``
    samples above it, as ``(p, value)``; None when there are too few.

    With ``n`` samples the value at rank ``k`` has ``n - k`` samples beyond
    it, so the highest supported rank is ``n - TAIL_BEYOND`` and ``p = k / n``.
    """
    n = len(samples)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    return k / n, sorted(samples)[k - 1]


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None
    id: int = 0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals
    (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = max(0.0, (s.end - s.start) - union_length(clipped))
    return out


class Tracer:
    """In-memory span recorder.  Spans are kept only while an op is open
    (``op`` set), so bookkeeping calls between ops leave no trace."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.op is None:
            yield
            return
        sp = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.op)
        sp.id = len(self.spans) + 1
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add_child(self, name: str, start: float, end: float) -> None:
        """Attach an externally timed interval (a Spark job) under the
        innermost span of the current op that contains its midpoint."""
        mid = (start + end) / 2
        parent = None
        for sp in self.spans:
            if sp.op == self.op and sp.name != name and sp.start <= mid <= sp.end:
                if parent is None or sp.start >= parent.start:
                    parent = sp
        sp = Span(name, start, end, parent.id if parent else None, self.op)
        sp.id = len(self.spans) + 1
        self.spans.append(sp)

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, timed)
        self._patched.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def layer_self_times(self, op_ids: set[str] | None = None) -> dict[str, tuple[float, int]]:
        """span name → (total self time, count) over the given ops."""
        st = self_times(self.spans)
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans:
            if op_ids is not None and s.op not in op_ids:
                continue
            t, n = out.get(s.name, (0.0, 0))
            out[s.name] = (t + st[s.id], n + 1)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --- Spark monitoring REST API ---------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(value: str) -> float:
    """Total of a SQL-tab metric string (``"2.6 s"``, ``"145.2 KiB"``,
    ``"total (min, med, max ...)\\n1.3 s (...)"``, ``"1,000"``) in base
    units (seconds, bytes, count)."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-zµ]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def _epoch(ts: str) -> float:
    """REST timestamp (``2026-10-17T03:06:59.086GMT``) → epoch seconds."""
    return calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S")) + int(ts[20:23]) / 1e3


#: SQL-tab metric name → pyworker counter
PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.returned_mb",
}


@dataclass
class OpExec:
    """What Spark did for one op, read back from the REST API."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class SparkRest:
    """Reader for one application's monitoring REST API (``/api/v1``)."""

    def __init__(self, ui_url: str, app_id: str):
        port = re.search(r":(\d+)/?$", ui_url).group(1)
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{app_id}"
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    #: longest wait for the status listener to catch up with a finished op
    SETTLE_S = 10.0

    def op_exec(self, group: str) -> OpExec:
        """Jobs, stage/task metrics and Python-worker SQL metrics of the
        jobs run under job group ``group`` (waits for the status listener
        to catch up with the finished op)."""
        deadline = time.time() + self.SETTLE_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            sqls = self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000")
            mine = [s for s in sqls if s.get("description") == group]
            settled = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] != "RUNNING" for s in mine
            )
            if settled or time.time() > deadline:
                break
            time.sleep(0.02)
        self._sql_seen += len(sqls)
        out = OpExec()
        c = out.counters
        for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
                  "exec.gc_s", "exec.input_mb", "exec.shuffle_write_mb",
                  "exec.shuffle_read_mb", "exec.fetch_wait_s", "exec.spill_mb",
                  "exec.result_mb", "exec.failed_tasks", *PY_METRICS.values()):
            c[k] = 0.0
        stage_ids: set[int] = set()
        for j in jobs:
            if "completionTime" in j:
                out.jobs.append((_epoch(j["submissionTime"]), _epoch(j["completionTime"])))
            c["exec.jobs"] += 1
            c["exec.failed_tasks"] += j.get("numFailedTasks", 0)
            stage_ids.update(j["stageIds"])
        for sid in sorted(stage_ids):
            for st in self._get(f"/stages/{sid}"):
                if st["status"] == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += st["numCompleteTasks"]
                c["exec.run_s"] += st["executorRunTime"] / 1e3
                c["exec.cpu_s"] += st["executorCpuTime"] / 1e9
                c["exec.gc_s"] += st["jvmGcTime"] / 1e3
                c["exec.input_mb"] += st["inputBytes"] / 2**20
                c["exec.shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                c["exec.shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                c["exec.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                c["exec.spill_mb"] += st["diskBytesSpilled"] / 2**20
                c["exec.result_mb"] += st["resultSize"] / 2**20
        for s in mine:
            for node in s.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PY_METRICS.get(m["name"])
                    if key:
                        v = parse_sql_metric(m["value"])
                        c[key] += v / 2**20 if key.endswith("_mb") else v
        return out


# --- memory ----------------------------------------------------------------


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                kids.setdefault(int(ppid), []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """Every live process below ``pid``."""
    kids = _children() if kids is None else kids
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def hwm_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB, 0 if unreadable."""
    v = _status(pid).get("VmHWM", "0 kB").split()[0]
    return int(v) / 1024.0


def memory_peaks(jvm_pid: int) -> dict[str, float]:
    """Peak RSS of this driver process, the JVM, and the JVM's Python
    worker processes (daemon and forked workers still alive)."""
    kids = _children()
    workers = [p for p in descendants(jvm_pid, kids) if "python" in _status(p).get("Name", "")]
    return {
        "mem.driver_hwm_mb": hwm_mb(os.getpid()),
        "mem.jvm_hwm_mb": hwm_mb(jvm_pid),
        "mem.workers_hwm_mb": sum(hwm_mb(p) for p in workers),
    }
