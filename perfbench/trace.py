"""Spans, Spark status-store rows and process-tree memory for the benchmark.

Spans are recorded in memory around calls into the program's layers and
written out when the run ends. Spark's own status store (live with the
UI disabled) supplies per-stage run time, shuffle and spill bytes, task
times and per-operator SQL metrics; they are read once, after the
measured calls, and attributed to spans by time.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time


class Tracer:
    """In-memory spans: name, start, end, parent. Off unless ``enabled``."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, cls, method: str, name) -> None:
        """Record a span around every call of ``cls.method``; ``name``
        maps the call's arguments to the span name."""
        orig = getattr(cls, method)

        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(cls, method, traced)

    def within(self, root: dict) -> list[dict]:
        """Spans nested under ``root`` (any depth)."""
        ids, out = {root["id"]}, []
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + dur(s) - child.get(s["id"], 0.0)
    return out


# ------------------------------------------------------- status store

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '8.6 s (min, med, max ...)',
    '790.2 KiB (...)' or '100,000'."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d.,]+)\s*([A-Za-z]*)", total)
    if not m:
        return float("nan")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _TIME.get(unit, _SIZE.get(unit, 1))


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """Reads stages and SQL executions from Spark's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def stages(self) -> list[dict]:
        gw = self.sc._gateway
        lst = self.store.stageList(None, False, False,
                                   gw.new_array(gw.jvm.double, 0), None)
        out = []
        for i in range(lst.size()):
            s = lst.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            out.append({
                "stage_id": s.stageId(), "attempt": s.attemptId(),
                "name": s.name(),
                "submitted": _date_s(s.submissionTime()),
                "completed": _date_s(s.completionTime()),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
            })
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task duration of one stage."""
        tl = self.store.taskList(stage["stage_id"], stage["attempt"], 1 << 20)
        d = [tl.apply(k).duration().get() for k in range(tl.size())
             if tl.apply(k).duration().isDefined()]
        med = statistics.median(d) if d else 0
        return max(d) / med if med else 1.0

    def executions(self) -> list[dict]:
        """SQL executions with their per-operator metric totals."""
        lst = self.sql.executionsList()
        out = []
        for i in range(lst.size()):
            e = lst.apply(i)
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            ops = []
            for j in range(nodes.size()):
                n = nodes.apply(j)
                ms = n.metrics()
                vals = {}
                for k in range(ms.size()):
                    v = values.get(ms.apply(k).accumulatorId())
                    if v.isDefined():
                        vals[ms.apply(k).name()] = parse_sql_metric(v.get())
                if vals:
                    ops.append({"name": n.name(), "metrics": vals})
            out.append({"id": eid, "submitted": e.submissionTime() / 1e3,
                        "description": e.description(), "operators": ops})
        return out


def in_window(t: float | None, span: dict) -> bool:
    return t is not None and span["start"] <= t <= span["end"]


# ------------------------------------------------------------ memory


def tree_rss_bytes(root: int) -> dict[str, list[int]]:
    """RSS of ``root`` and all its descendant processes, by command name:
    {name: [bytes, processes]}. Pages shared by forked Python workers are
    counted once per process, as RSS does."""
    parent, rss, comm = {}, {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                name, fields = fh.read().split(" (", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        fields = fields.split()
        parent[int(pid)] = int(fields[1])
        rss[int(pid)] = int(fields[21]) * page
        comm[int(pid)] = name
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[str, list[int]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in rss and _exec_done(pid, comm[pid]):
            acc = out.setdefault(comm[pid], [0, 0])
            acc[0] += rss[pid]
            acc[1] += 1
        todo.extend(children.get(pid, ()))
    return out


def _exec_done(pid: int, name: str) -> bool:
    """False for a child caught between fork and exec: it still maps the
    parent's pages (a JVM spawning a Python worker would count twice) and
    carries the forking thread's name instead of its program's."""
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False
    return exe.startswith(name)


class RssSampler:
    """Samples the process tree's RSS on a background thread."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak = 0
        self.peak_by_process: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            by = tree_rss_bytes(me)
            total = sum(b for b, _ in by.values())
            if total > self.peak:
                self.peak, self.peak_by_process = total, by
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak
