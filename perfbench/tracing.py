"""Spans, layer counters and process sampling for the benchmark.

Everything here observes the program from outside: spans wrap the calls
the benchmark makes into each layer's public functions, and counters are
read from Spark's own status stores (which stay populated with
``spark.ui.enabled=false``):

- executor totals: ``sc.statusStore().executorList(true)``, diffed
  around a call;
- SQL executions and per-operator metrics: the session's
  ``SQLAppStatusStore`` (``executionsList`` / ``planGraph`` /
  ``executionMetrics``);
- streaming trigger phases and state-operator stats: ``recentProgress``.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is ``{name, trace, id, parent,
    start, end}`` (epoch seconds, so Spark's own millisecond timestamps
    land on the same axis); spans of one operation share ``trace``.
    Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.trace_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = self.add(name, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> dict:
        """Record a span measured elsewhere (a Spark job, a micro-batch)."""
        sp = {
            "name": name,
            "trace": self.trace_id,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(sp)
        return sp

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        ivs = sorted(
            (max(s, c["start"]), min(e, c["end"]))
            for c in kids.get(sp["id"], [])
            if c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp["id"]] = max(0.0, (e - s) - covered)
    return out


# ------------------------------------------------------------ Spark counters


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.length())]


def wait_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status stores reflect all work finished so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(spark) -> dict[str, float]:
    tot = dict.fromkeys(("task_s", "gc_s", "tasks", "shuffle_write_b", "input_b"), 0.0)
    store = spark.sparkContext._jsc.sc().statusStore()
    for ex in _seq(store.executorList(True)):
        tot["task_s"] += ex.totalDuration() / 1000.0
        tot["gc_s"] += ex.totalGCTime() / 1000.0
        tot["tasks"] += ex.totalTasks()
        tot["shuffle_write_b"] += ex.totalShuffleWrite()
        tot["input_b"] += ex.totalInputBytes()
    return tot


def diff(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def persisted_bytes(spark) -> int:
    return sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``"1,234"`` or, for size/timing
    metrics, ``"total (min, med, max ...)\\n10.0 MiB (...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1.0)


class SqlStore:
    """Reader over the session's SQL execution store."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()

    def count(self) -> int:
        return int(self.store.executionsCount())

    def executions(self, start: int, stop: int) -> list[dict]:
        """Executions with list index in [start, stop): timing plus the
        per-operator metrics the benchmark reports."""
        if stop <= start:
            return []
        out = []
        for ex in _seq(self.store.executionsList(start, stop - start)):
            eid = ex.executionId()
            done = ex.completionTime()
            values = self.store.executionMetrics(eid)
            rec = {
                "id": eid,
                "start": ex.submissionTime() / 1000.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "exchanges": 0,
                "python_b": 0.0,
                "spill_b": 0.0,
                "max_rows": 0.0,
            }
            for node in _seq(self.store.planGraph(eid).allNodes()):
                if node.name() == "Exchange":
                    rec["exchanges"] += 1
                for m in _seq(node.metrics()):
                    name = m.name()
                    if name not in _KEPT:
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    val = _metric_value(v.get())
                    if name == "number of output rows":
                        rec["max_rows"] = max(rec["max_rows"], val)
                    elif name == "spill size":
                        rec["spill_b"] += val
                    else:
                        rec["python_b"] += val
            out.append(rec)
        return out


_KEPT = {
    "number of output rows",
    "spill size",
    "data sent to Python workers",
    "data returned from Python workers",
}


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms from the QueryExecution whose
    ``executedPlan`` was forced."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------------- process tree


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants, counted as PSS so
    pages shared by forked Python workers count once."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled in a thread while
    running."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
