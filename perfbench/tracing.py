"""Call timing and per-layer tracing, from outside the program.

:class:`Tracer` times every call the benchmark makes into the engine.
With tracing on it also

- tags the call's Spark jobs with a job group of its own
  (``sc.setJobGroup``) and, right after the call returns, harvests the
  jobs' stages from Spark's status store (the store keeps only
  ``spark.ui.retainedStages`` stages, so harvesting per call loses
  nothing);
- reads the SQL-node metrics of the call's executions from the SQL
  status store, keeping the Python-UDF nodes' bytes and rows;
- records spans (name, start, end, parent, run id) for the call and
  for any module function wrapped with :meth:`Tracer.wrap`. Spans stay
  in memory until :meth:`Tracer.dump`.

No program file is edited: wrapping replaces a module attribute for
the duration of a traced pass and :meth:`Tracer.unwrap_all` restores it.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import time
from collections.abc import Callable
from contextlib import contextmanager

# SQL plan nodes that run Python/Arrow kernels
_PY_NODE = re.compile(r"Python|Pandas|Arrow|MapInBatch")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> float:
    """Bytes from Spark's formatted size metric: either ``'13.4 KiB'``
    or ``'total (min, med, max ...)\\n4.5 KiB (...)'`` (the total is the
    first size after the newline)."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def parse_count(text: str) -> float:
    body = text.split("\n", 1)[-1].strip().split(" ", 1)[0]
    try:
        return float(body.replace(",", ""))
    except ValueError:
        return 0.0


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Times calls; with ``enabled`` also harvests Spark layers and
    records spans. One tracer serves a whole run; ``enabled`` may be
    flipped between passes."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = itertools.count()
        self._wrapped: list[tuple[object, str, object]] = []
        self._jobs_seen = -1
        self._execs_seen = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span (only when enabled); yields the span dict so the
        caller can attach counters."""
        if not self.enabled:
            yield {}
            return
        sp = {
            "id": next(self._seq),
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()
            self.spans.append(sp)

    def wrap(self, module, attr: str, name: str, counters: Callable | None = None) -> None:
        """Replace ``module.attr`` by a spanning wrapper; ``counters``
        maps the call's (args, kwargs, result) to a dict stored on the
        span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if counters is not None and self.enabled:
                    sp.update(counters(args, kwargs, out))
                return out

        setattr(module, attr, wrapper)
        self._wrapped.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._wrapped:
            module, attr, orig = self._wrapped.pop()
            setattr(module, attr, orig)

    # -- calls ---------------------------------------------------------
    def call(self, name: str, fn: Callable, kind: str = "call"):
        """Run one timed call; returns ``(result, record)``. The record
        always has ``name``/``kind``/``wall_s``; traced records add the
        Spark layers of the jobs the call ran.

        Every call ends, outside its timed wall, by draining Spark's
        listener bus (which feeds the status stores asynchronously), so
        no call pays for the previous one's event processing and
        traced and untraced calls start alike."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
            self._drain()
            return out, {"name": name, "kind": kind, "wall_s": wall}
        group = f"{self.run_id}:{next(self._seq)}"
        self.sc.setJobGroup(group, name, False)
        with self.span(name, kind=kind) as sp:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        h0 = time.perf_counter()
        self._drain()
        rec = {"name": name, "kind": kind, "wall_s": wall}
        rec.update(self._harvest(group, sp["start"], sp["end"]))
        rec["harvest_s"] = time.perf_counter() - h0
        sp["layers"] = {k: v for k, v in rec.items() if k not in ("name", "kind")}
        return out, rec

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _harvest(self, group: str, t0: float, t1: float) -> dict:
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        # jobs started from other driver threads carry no group; in a
        # single-client closed loop every new one belongs to this call
        jobs |= {j for j in tracker.getJobIdsForGroup(None) if j > self._jobs_seen}
        if jobs:
            self._jobs_seen = max(self._jobs_seen, max(jobs))
        store = self.sc._jsc.sc().statusStore()
        r = {
            "spark.jobs": len(jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.run_s": 0.0,
            "spark.cpu_s": 0.0,
            "spark.shuffle_write_bytes": 0,
            "spark.shuffle_read_bytes": 0,
            "spark.spill_bytes": 0,
            "spark.input_bytes": 0,
        }
        intervals = []
        for j in sorted(jobs):
            jd = store.job(j)
            a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if a is not None:
                intervals.append((a, b if b is not None else t1))
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # stage never ran (e.g. not yet tracked)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                r["spark.stages"] += 1
                r["spark.tasks"] += sd.numCompleteTasks()
                r["spark.run_s"] += sd.executorRunTime() / 1e3
                r["spark.cpu_s"] += sd.executorCpuTime() / 1e9
                r["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                r["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                r["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                r["spark.input_bytes"] += sd.inputBytes()
        wall = t1 - t0
        job_s = covered(intervals, t0, t1)
        r["spark.offcpu_s"] = r["spark.run_s"] - r["spark.cpu_s"]
        r["spark.job_s"] = job_s
        r["driver.gap_s"] = wall - job_s
        r.update(self._python_nodes())
        return r

    def _python_nodes(self) -> dict:
        """Bytes/rows through the Python-kernel plan nodes of the SQL
        executions started since the last harvest."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        out = {"python.bytes_sent": 0.0, "python.bytes_returned": 0.0, "python.rows": 0.0}
        if n > self._execs_seen:
            execs = store.executionsList(self._execs_seen, n - self._execs_seen)
            it = execs.iterator()
            while it.hasNext():
                eid = it.next().executionId()
                metrics = store.executionMetrics(eid)
                nodes = store.planGraph(eid).allNodes().iterator()
                while nodes.hasNext():
                    node = nodes.next()
                    if not _PY_NODE.search(node.name()):
                        continue
                    ms = node.metrics().iterator()
                    while ms.hasNext():
                        pm = ms.next()
                        v = metrics.get(pm.accumulatorId())
                        if not v.isDefined():
                            continue
                        if pm.name() == "data sent to Python workers":
                            out["python.bytes_sent"] += parse_size(v.get())
                        elif pm.name() == "data returned from Python workers":
                            out["python.bytes_returned"] += parse_size(v.get())
                        elif pm.name() == "number of output rows":
                            out["python.rows"] += parse_count(v.get())
            self._execs_seen = n
        return out

    def sync(self) -> None:
        """Skip everything the status stores hold so far (call before the
        first traced pass so untraced work is never attributed)."""
        # untraced work runs without a job group
        jobs = self.sc.statusTracker().getJobIdsForGroup(None)
        if jobs:
            self._jobs_seen = max(self._jobs_seen, max(jobs))
        self._execs_seen = self.spark._jsparkSession.sharedState().statusStore().executionsCount()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh, default=str)
