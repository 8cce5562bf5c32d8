"""Spans, the Spark ledger and process counters for the traced run.

Spans are recorded by the benchmark's own code around each call into a
library layer, kept in memory, and written out when the run ends. While
a span is open its name is the Spark job group of the calling thread,
so the ledger can attribute every job to the innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import resource
import threading
import time
from collections import defaultdict

_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans ``(id, name, op, start, end, parent, thread)``; a
    span opened without an operation id takes its parent's.

    With ``on=False`` ``span`` and ``wrap`` do nothing, so the untraced
    run pays at most a function call."""

    def __init__(self, on: bool = False) -> None:
        self.on = on
        self._sc = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    def bind(self, sc) -> None:
        self._sc = sc

    def mark(self) -> int:
        """Where a phase starts: ``totals`` and ``overhead_s`` of this
        mark cover only the spans opened after it."""
        with self._lock:
            return len(self.spans)

    def overhead_s(self, since: int = 0) -> float:
        """Seconds spent in the tracer's own bookkeeping."""
        return sum(s.get("overhead_s", 0.0) for s in self.spans[since:])

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        prev_group = self._sc.getLocalProperty(_GROUP)
        self._sc.setLocalProperty(_GROUP, name)
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None or parent is None else parent["op"],
            "parent": None if parent is None else parent["id"],
            "thread": threading.get_ident(),
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            stack.pop()
            self._sc.setLocalProperty(_GROUP, prev_group)
            rec["overhead_s"] = (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""
        if not self.on:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name, over the spans from mark ``since`` on: count,
        total seconds and self seconds (the span minus the time its
        child spans cover)."""
        spans = self.spans[since:]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in spans:
            if "end" not in s:
                continue
            dur = s["end"] - s["start"]
            t = out[s["name"]]
            t["count"] += 1
            t["total_s"] += dur
            t["self_s"] += dur - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        base = min((s["start"] for s in self.spans if "start" in s), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s.get("start", base) - base, 6)
                if "end" in s:
                    row["end"] = round(s["end"] - base, 6)
                fh.write(json.dumps(row, default=str) + "\n")


def _scala_json(sc, obj) -> list:
    """Serialize a status-store result with the Jackson Scala module
    Spark ships (one py4j call instead of one per field)."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    ).__getattr__("MODULE$")
    mapper.registerModule(scala_module)
    return json.loads(mapper.writeValueAsString(obj))


def read_ledger(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the JVM status store, which keeps
    working with the web UI disabled."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList
    jobs = _scala_json(sc, store.jobsList(empty()))
    stages = _scala_json(
        sc,
        store.stageList(
            empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty()
        ),
    )
    return jobs, {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}


def ledger_totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Jobs, their completed stages and the stages' task metrics; a
    stage shared by two jobs counts once."""
    ids = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    rows = [stages[i] for i in ids]
    return {
        "jobs": len(jobs),
        "stages": len(rows),
        "tasks": sum(s["numCompleteTasks"] for s in rows),
        "executor_run_s": sum(s["executorRunTime"] for s in rows) / 1000.0,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in rows),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in rows),
        "input_bytes": sum(s["inputBytes"] for s in rows),
    }


class ProcStats:
    """CPU seconds of this Python process (``getrusage``) and of the
    Spark JVM (``/proc/<pid>/stat``), and their peak resident sets."""

    def __init__(self, sc) -> None:
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self._tick = os.sysconf("SC_CLK_TCK")
        self._mgmt = sc._jvm.java.lang.management.ManagementFactory

    def cpu(self) -> tuple[float, float]:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self._tick
        return ru.ru_utime + ru.ru_stime, jvm

    def jvm_gc_jit_s(self) -> tuple[float, float]:
        """Seconds the JVM has spent in garbage collection and in JIT
        compilation, as its management beans count them."""
        gc = sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans())
        jit = self._mgmt.getCompilationMXBean().getTotalCompilationTime()
        return gc / 1000.0, jit / 1000.0

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
        return py + jvm
