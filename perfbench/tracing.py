"""Spans and counters for the traced run.

Everything here observes the engine from outside: wall clocks around the
harness's calls into each layer, Spark's status tracker (jobs, stages and
tasks of a job group), the SQL metrics of the final executed plan, and
``/proc`` and JMX readings of the JVM.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager

_SHUFFLE = {
    "shuffleBytesWritten": "op.shuffle_bytes_written",
    "shuffleRecordsWritten": "op.shuffle_records_written",
}
_PYTHON_NODE_METRIC = "pythonDataSent"


class Tracer:
    """In-memory spans: name, start, end, parent and attached counters."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self.origin,
            "end": None,
            "counters": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.perf_counter() - self.origin
            self._stack.pop()

    def export(self) -> list[dict]:
        """Spans with durations and self time (duration minus children)."""
        child_time: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return [
            {
                **s,
                "run_id": self.run_id,
                "duration_s": s["end"] - s["start"],
                "self_s": s["end"] - s["start"] - child_time[s["id"]],
            }
            for s in self.spans
        ]


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds]
    infos = [i for sid in stages if (i := st.getStageInfo(sid))]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(i.numTasks for i in infos),
        "tasks_failed": sum(i.numFailedTasks for i in infos),
    }


def _plan_nodes(jvm, plan):
    """Every node of an executed plan, looking inside adaptive plans,
    query stages and subqueries."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    todo, out = [plan], []
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        out.append((kind, node))
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        for seq in (node.children(), node.subqueries()):
            todo.extend(conv.asJava(seq))
    return out


def plan_counters(spark, df) -> dict[str, float]:
    """The ``op.*`` counters of ``df``'s executed plan, read after collect."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    plan = df._jdf.queryExecution().executedPlan()
    c: Counter = Counter()
    seen: set[int] = set()
    for kind, node in _plan_nodes(jvm, plan):
        metrics = conv.asJava(node.metrics())
        for name in metrics.keySet():
            m = metrics.get(name)
            if m.id() in seen:
                continue
            seen.add(m.id())
            v = m.value()
            if kind == "ShuffleExchangeExec" and name in _SHUFFLE:
                c[_SHUFFLE[name]] += v
            elif kind == "BroadcastExchangeExec" and name == "dataSize":
                c["op.broadcast_bytes"] += v
            elif name == "spillSize":
                c["op.spill_bytes"] += v
            elif name == "peakMemory":
                c["op.peak_memory_bytes"] += v
            elif kind in ("FileSourceScanExec", "BatchScanExec") and name == "numOutputRows":
                c["op.scan_rows"] += v
            elif kind in ("FileSourceScanExec", "BatchScanExec") and name == "filesSize":
                c["op.scan_files_bytes"] += v
            elif name == _PYTHON_NODE_METRIC:
                c["op.python_bytes_sent"] += v
                c["op.python_rows_sent"] += _rows_into(jvm, node)
    return dict(c)


def _rows_into(jvm, node) -> int:
    """Rows a node consumed: the row count of its nearest descendant that
    reports one (operators such as Project or Sort report none)."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    level = list(conv.asJava(node.children()))
    while level:
        for child in level:
            metrics = conv.asJava(child.metrics())
            for name in ("numOutputRows", "recordsRead"):
                if metrics.containsKey(name):
                    return int(metrics.get(name).value())
        nxt = []
        for child in level:
            if child.getClass().getSimpleName().endswith("QueryStageExec"):
                nxt.append(child.plan())
            nxt.extend(conv.asJava(child.children()))
        level = nxt
    return 0


def proc_io(pid: int) -> dict[str, int]:
    """``rchar`` and ``wchar`` of a process from ``/proc/<pid>/io``."""
    out = {}
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            key, _, value = line.partition(":")
            if key in ("rchar", "wchar"):
                out[key] = int(value)
    return out


def peak_rss_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_bytes(root: str) -> int:
    """Total size of the regular files under ``root``."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                pass
    return total


def jvm_state(spark) -> dict[str, float]:
    """Cumulative GC time, heap in use and persisted RDD count."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {
        "gc_s": gc_ms / 1000.0,
        "heap_used_mb": heap / 2**20,
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }
