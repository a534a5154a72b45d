"""In-memory spans around the calls into each engine layer, with the
Spark work each span launched.

A span records (name, start, end, parent, batch id). While a span is
open its own Spark job group is set on the calling thread, so every job
the call launches is attributable to it; at exit the tracer reads the
jobs of each group from `statusTracker`, their stages' task metrics from
the application status store, and the row counts of the SQL scans they
ran from the SQL status store. Self time is a span's duration minus the
part of it covered by its children. Nothing is written until `dump`.

With tracing off, `span` is a no-op context manager, so the untraced run
executes exactly the same calls without the job-group switches.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    batch: Optional[str]
    parent: Optional[int]
    start: float
    end: float = 0.0
    counters: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, batch: Optional[str] = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            batch=batch if batch is not None else (parent.batch if parent else None),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"bench-span-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"bench-span-{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ counters

    def collect_counters(self) -> None:
        """Attach Spark stage counters to every span (called once, after
        the measured window). Jobs a span's children launched count only
        toward the child; streaming micro-batches run on the stream's own
        thread and job group, so an ingest span carries none."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        sql_rows = self._sql_scan_rows()
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(f"bench-span-{s.sid}"))
            c = {
                "jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
                "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "scan_rows": 0,
            }
            seen = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                c["jobs"] += 1
                c["scan_rows"] += sql_rows.get(j, 0)
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        attempts = store.stageData(sid, False, None, False, None)
                    except Exception:  # stage evicted from the store
                        continue
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.numCompleteTasks() == 0:
                            continue  # skipped: its output was reused
                        c["stages"] += 1
                        c["tasks"] += sd.numCompleteTasks()
                        c["task_busy_s"] += sd.executorRunTime() / 1000.0
                        c["cpu_s"] += sd.executorCpuTime() / 1e9
                        c["gc_s"] += sd.jvmGcTime() / 1000.0
                        c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                        c["spill_mb"] += (
                            sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        ) / MB
            s.counters = c

    def _sql_scan_rows(self) -> Dict[int, int]:
        """job id -> rows emitted by the leaf scans (cached-table and file
        scans) of the SQL execution that ran it; an execution's rows are
        credited to its lowest job id only."""
        jvm = self.spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: Dict[int, int] = {}
        for e in conv.asJava(store.executionsList()):
            jobs = sorted(int(j) for j in conv.asJava(e.jobs().keySet()))
            if not jobs:
                continue
            eid = e.executionId()
            vals = conv.asJava(store.executionMetrics(eid))
            rows = 0
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                nm = node.name()
                if not (nm.startswith("InMemoryTableScan") or nm.startswith("Scan")):
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        v = vals.get(m.accumulatorId())
                        if v:
                            rows += int(str(v).replace(",", "").split()[0])
            out[jobs[0]] = out.get(jobs[0], 0) + rows
        return out

    # ----------------------------------------------------------- summaries

    def self_time(self, s: Span) -> float:
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.duration - covered

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list:
        return [
            {
                "id": s.sid,
                "name": s.name,
                "batch": s.batch,
                "parent": s.parent,
                "start_s": s.start - self._t0,
                "end_s": s.end - self._t0,
                "duration_s": s.duration,
                "self_s": self.self_time(s),
                "counters": s.counters,
            }
            for s in self.spans
        ]
