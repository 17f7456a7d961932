"""Measurement helpers for the benchmark.

Everything here observes the program from outside: spans are recorded
around the benchmark's own calls into ``kamae_spark``, py4j traffic is
counted by wrapping py4j's client, plan shape is read by walking the
physical plan tree, and execution counters are deltas of Spark's status
store. Nothing is patched inside ``kamae_spark``.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


class Py4JCounter:
    """Counts py4j commands sent by this process (exact: every Java call
    from Python goes through the one client object's ``send_command``)."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.n = 0

        def counting_send(*args, **kwargs):
            self.n += 1
            return send(*args, **kwargs)

        client.send_command = counting_send


class Tracer:
    """In-memory spans (name, start, end, parent, root) plus the counts
    recorded at each span boundary. Disabled tracers record nothing."""

    def __init__(self, enabled: bool = False, counter: Py4JCounter | None = None):
        self.enabled = enabled
        self.counter = counter
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else len(self.spans),
            "start": time.perf_counter(),
        }
        calls0 = self.counter.n if self.counter else 0
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.counter:
                rec["py4j_calls"] = self.counter.n - calls0
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover (children of
        one span never overlap: the benchmark is single-threaded)."""
        covered = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - covered[s["id"]] for s in self.spans}

    def dump(self, path: str) -> None:
        own = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": own[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


# -- physical plan shape ------------------------------------------------------

_NODE_KINDS = {
    "exchange": re.compile(r"^(Exchange|BroadcastExchange)$"),
    "sort": re.compile(r"^Sort$"),
    "window": re.compile(r"^Window$"),
    "project": re.compile(r"^Project$"),
    "python": re.compile(r"Python|Pandas|InArrow"),
}


def plan_node_counts(plan) -> dict[str, int]:
    """Walk a physical plan through AQE wrappers and query stages and
    count nodes by kind. A reused exchange is not counted again."""
    names = []
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        names.append(node.nodeName())
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return {k: sum(1 for n in names if rx.search(n)) for k, rx in _NODE_KINDS.items()}


# -- Spark status store -------------------------------------------------------

def exec_totals(spark) -> dict[str, float]:
    """Cumulative task, GC, shuffle-write and spill totals of this
    application, read once the listener bus has drained."""
    sc = spark._jsparkSession.sparkContext()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    execs = store.executorList(False)
    out = {"tasks": 0, "failed_tasks": 0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for i in range(execs.size()):
        e = execs.apply(i)
        out["tasks"] += e.totalTasks()
        out["failed_tasks"] += e.failedTasks()
        out["gc_s"] += e.totalGCTime() / 1000.0
        out["shuffle_write_mb"] += e.totalShuffleWrite() / 2**20
    jvm = spark.sparkContext._gateway.jvm
    # stageList has no usable defaults over py4j (null arguments throw):
    # an empty status list means "every status"
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    return out


# -- process tree -------------------------------------------------------------

def process_tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


# JIT compiler threads: their CPU is warm-up work that lingers into the
# timed passes and varies from JVM to JVM
_COMPILER_THREAD = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str, with_children: bool) -> tuple[str, int]:
    with open(stat_path) as f:
        raw = f.read()
    comm = raw[raw.find("(") + 1:raw.rfind(")")]
    fields = raw[raw.rfind(")") + 2:].split()
    idx = (11, 12, 13, 14) if with_children else (11, 12)
    return comm, sum(int(fields[i]) for i in idx)


def tree_cpu_s() -> tuple[float, float]:
    """User + system CPU of this process and its descendants (the Spark
    JVM and any Python workers), including reaped children; and the part
    of it spent in the JVM's JIT compiler threads."""
    ticks = compiler = 0
    for pid in process_tree(os.getpid()):
        try:
            ticks += _cpu_ticks(f"/proc/{pid}/stat", True)[1]
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, t = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
                if comm.startswith(_COMPILER_THREAD):
                    compiler += t
        except OSError:
            continue
    return ticks / _HZ, compiler / _HZ


def host_busy_s() -> float:
    """Busy CPU time of the whole host, including time stolen by the
    hypervisor."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return (user + nice + system + irq + softirq + steal) / _HZ


def tree_peak_rss_mb() -> float:
    """Sum of the live processes' peak resident set sizes."""
    kb = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
