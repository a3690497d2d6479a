"""Spans around calls into the program's layers, timed from outside.

The benchmark wraps public calls of the program's modules (module
attributes or class methods) with ``Tracer.wrap``; each call then records a
span: name, start, end, parent and op id. Spans stay in memory and are
written out at the end of the run. While a span is open, Spark jobs run
under its own job group, so the status store attributes stage shuffle,
spill and task times to the span that caused them.

Also here: the process-tree RSS sampler and the host steal counter.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"{self.op_id}/{idx}"
        rec = {"name": name, "op": self.op_id, "id": idx,
               "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``unwrap``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- ledger ---------------------------------------------------------

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] is not None and s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def stage_metrics(self, spans: list[dict]) -> dict[str, dict]:
        """Per span name: shuffle write, spill and task skew of the stages
        its jobs ran, from the status store."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out: dict[str, dict] = {}
        for s in spans:
            acc = out.setdefault(s["name"], {
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "skew": 1.0, "heaviest_ms": -1.0})
            for job_id in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    for data in _stage_attempts(store, jvm, stage_id):
                        acc["shuffle_write_bytes"] += data.shuffleWriteBytes()
                        acc["spill_bytes"] += (data.memoryBytesSpilled()
                                               + data.diskBytesSpilled())
                        run_ms = data.executorRunTime()
                        if data.numTasks() < 2 or run_ms <= acc["heaviest_ms"]:
                            continue
                        dist = store.taskSummary(
                            stage_id, data.attemptId(), quantiles)
                        if dist.isEmpty():
                            continue
                        times = dist.get().executorRunTime()
                        med, top = times.apply(0), times.apply(1)
                        if med > 0:
                            acc["skew"], acc["heaviest_ms"] = top / med, run_ms
        return out


def _stage_attempts(store, jvm, stage_id: int):
    """StageData of every attempt of ``stage_id`` (none if evicted)."""
    from py4j.protocol import Py4JJavaError

    empty = jvm.java.util.ArrayList()
    try:
        seq = store.stageData(stage_id, False, empty, False,
                              jvm.scala.Array.emptyDoubleArray())
    except Py4JJavaError:  # NoSuchElementException: the store evicted it
        return []
    return [seq.apply(i) for i in range(seq.size())]


# ---- host and process figures -------------------------------------------

def steal_ticks() -> int:
    """Cumulative steal ticks of all CPUs (/proc/stat)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii",
                  errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed RSS of the driver (this process), the JVM it launched
    and the JVM's Python workers. Other children of the JVM -- short-lived
    shell helpers, which between fork and exec still show the JVM's whole
    RSS -- are not counted."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children()
        me = os.getpid()
        now = {"driver": _rss_bytes(me), "jvm": 0, "workers": 0}
        for jvm in (p for p in kids.get(me, []) if _comm(p) == "java"):
            now["jvm"] += _rss_bytes(jvm)
            todo = list(kids.get(jvm, []))
            while todo:
                pid = todo.pop()
                if _comm(pid).startswith("python"):
                    now["workers"] += _rss_bytes(pid)
                    todo.extend(kids.get(pid, []))
        now["total"] = now["driver"] + now["jvm"] + now["workers"]
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self, part: str = "total") -> float:
        return self.peak[part] / 2**20
