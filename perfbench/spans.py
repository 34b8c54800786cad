"""Spans, per-span Spark metrics, and /proc readings of the process tree.

A span is one timed call into the engine, made from the benchmark's
own files. In a traced run every span is also a Spark job group, so
its stages can be read back from the status store (executor run and
CPU time, GC, shuffle, spill) and its SQL executions from the SQL
status store (plan shape, files read). Spans stay in memory and are
written to one JSON file when the run ends. The /proc readings give the
CPU seconds and the resident memory of this process and its children
(the Spark JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a SQL size metric as the status store renders it
    ("10.3 MiB"; a multi-task metric reads "total (min, med, max ...)
    10.3 MiB (...)": the first figure is the total)."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    """Times spans; with ``enabled`` also tags and reads Spark metrics."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        group = f"perfbench-{sid}-{name}"
        if self.enabled:
            sc.setJobGroup(group, group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                # restore the enclosing span's group, or clear it
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    g = f"perfbench-{outer['id']}-{outer['name']}"
                    sc.setJobGroup(g, g)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec.update(self._metrics(group))

    def _metrics(self, group: str) -> dict:
        """Stage and SQL metrics of every job the span's group ran."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = jsc.statusStore()
        jvm = sc._jvm
        empty = sc._gateway.new_array(jvm.double, 0)
        m = dict.fromkeys(
            ["run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
             "spill_mb", "stage_input_mb"],
            0.0,
        )
        n_stages = 0
        for sid in stages:
            try:
                sd = store.stageAttempt(
                    sid, 0, False, jvm.java.util.ArrayList(), False, empty
                )._1()
            except Py4JJavaError:  # no attempt 0 in the store: not run
                continue
            n_stages += 1
            m["run_s"] += sd.executorRunTime() / 1e3
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            m["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            m["stage_input_mb"] += sd.inputBytes() / 1e6
        m["wait_s"] = max(m["run_s"] - m["cpu_s"], 0.0)
        m["jobs"] = len(jobs)
        m["stages"] = n_stages
        m.update(self._sql(group))
        return m

    def _sql(self, group: str) -> dict:
        """Plan shape and SQL metrics of the span's SQL executions,
        matched by description (the job group's description)."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        out = {"exchanges": 0, "broadcast_joins": 0, "files_read_mb": 0.0,
               "shuffle_written_sql_mb": 0.0, "sql_executions": 0}
        execs = sq.executionsList()
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            if e.description() != group:
                continue
            out["sql_executions"] += 1
            plan = e.physicalPlanDescription()
            final = plan.split("== Initial Plan ==")[0]
            # formatted plan: "Exchange (21)"; not Broadcast-/ReusedExchange
            out["exchanges"] += len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", final))
            out["broadcast_joins"] += len(re.findall(r"\bBroadcastHashJoin\b|\bBroadcastNestedLoopJoin\b", final))
            values = sq.executionMetrics(e.executionId())
            nodes = sq.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    x = ms.next()
                    key = {"size of files read": "files_read_mb",
                           "shuffle bytes written": "shuffle_written_sql_mb"}.get(x.name())
                    if key is None:
                        continue
                    v = values.get(x.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_size(v.get()) / 1e6
        return out

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"host": stamp, "spans": self.spans}, fh, indent=1)


def _proc_stats() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, per pid."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        out[int(d)] = stat.rsplit(")", 1)[1].split()
    return out


def _tree_pids(root: int, stats: dict | None = None) -> list[int]:
    """Every descendant of ``root`` (not root itself), from /proc."""
    stats = _proc_stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), reaped children included."""
    stats = _proc_stats()
    t = os.times()
    ticks = 0
    for pid in _tree_pids(os.getpid(), stats):
        # utime, stime, cutime, cstime: fields 14-17 of stat
        ticks += sum(int(x) for x in stats[pid][11:15])
    return t.user + t.system + ticks / _HZ


def _tree_rss_bytes(root: int, page: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process's children (the Spark JVM
    and its Python workers), sampled from /proc every ``period`` s;
    does nothing unless ``enabled``."""

    def __init__(self, enabled: bool = True, period: float = 0.1):
        self.enabled = enabled
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me, self._page))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=5)
