"""Spark and JVM counters read from outside the program over py4j.

One ``OpProbe`` brackets each timed op: it tags the op's jobs with a job
group (jobs, stages, tasks via ``statusTracker``), snapshots codegen, GC and
JIT counters before and after, and reads input/shuffle bytes of the op's SQL
executions from the SQL status store right after the op, because the store
keeps only the last ``spark.sql.ui.retainedExecutions`` executions.
"""

from __future__ import annotations

import re
import time

RETAINED_GCS = 5

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


_LABEL = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')


def _node_metrics(body: str):
    """(name, value) pairs of one plan node's label.  A metric summed over
    tasks reads ``name total (min, med, max ...)<br>value (...)``."""
    segs = body.split("<br>")
    i = 0
    while i < len(segs):
        seg = segs[i]
        if " total (" in seg and i + 1 < len(segs):
            yield seg.split(" total (")[0], segs[i + 1]
            i += 2
            continue
        if ": " in seg:
            name, value = seg.split(": ", 1)
            yield name, value
        i += 1


def _metric_value(text: str) -> float:
    """Parse a SQL metric value such as ``1,234`` or ``10.5 KiB (...)``."""
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]iB|B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class Jvm:
    """Handles on the JVM-side counters of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.jit = mf.getCompilationMXBean()
        self.mem = mf.getMemoryMXBean()
        self.codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.tracker = spark.sparkContext.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters

    def _java(self, scala_coll):
        return self._conv.asJava(scala_coll)

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self.gcs))

    def jit_ms(self) -> float:
        return float(self.jit.getTotalCompilationTime())

    def codegen_counts(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since JVM start.  The compile-time
        histogram keeps a sample reservoir, so the ms total is exact only
        while fewer than ~1000 classes were compiled."""
        h = self.codegen.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        return int(h.getCount()), float(snap.getMean() * snap.size())

    def retained_mb(self) -> float:
        """Heap in use after a full GC, the least of a few GCs a moment
        apart: Spark's ContextCleaner frees shuffle, broadcast and RDD state
        on its own thread only after a GC has dropped the last reference to
        it, so a single GC's reading depends on that thread's timing."""
        used = []
        for _ in range(RETAINED_GCS):
            self.jvm.java.lang.System.gc()
            used.append(self.mem.getHeapMemoryUsage().getUsed())
            time.sleep(0.2)
        return min(used) / float(1 << 20)

    def last_execution_id(self) -> int:
        execs = self._java(self.sql_store.executionsList())
        return max((int(e.executionId()) for e in execs), default=-1)

    def execution_bytes(self, after_id: int) -> tuple[float, float, float]:
        """(input bytes, shuffle bytes written, scan output rows) of every SQL
        execution newer than ``after_id``, parsed from one DOT rendering of
        each plan graph (one py4j call instead of one per metric)."""
        inp = shuf = rows = 0.0
        for e in self._java(self.sql_store.executionsList()):
            eid = int(e.executionId())
            if eid <= after_id:
                continue
            dot = self.sql_store.planGraph(eid).makeDotFile(
                self.sql_store.executionMetrics(eid))
            for node, body in _LABEL.findall(dot):
                for name, value in _node_metrics(body):
                    if name == "size of files read":
                        inp += _metric_value(value)
                    elif name == "shuffle bytes written":
                        shuf += _metric_value(value)
                    elif name == "number of output rows" and "Scan" in node:
                        rows += _metric_value(value)
        return inp, shuf, rows

    def catalyst_ms(self, df) -> float:
        """Analysis + optimization + planning ms recorded on ``df``'s plan."""
        phases = self._java(df._jdf.queryExecution().tracker().phases())
        return float(sum(p.endTimeMs() - p.startTimeMs() for p in phases.values()))


class OpProbe:
    """Counters for one op: use as a context manager around the op."""

    def __init__(self, jvm: Jvm, group: str):
        self.jvm, self.group = jvm, group
        self.stats: dict[str, float] = {}

    def __enter__(self):
        j = self.jvm
        self.spark_ctx = j.spark.sparkContext
        self.spark_ctx.setJobGroup(self.group, self.group)
        self.exec0 = j.last_execution_id()
        self.cg0 = j.codegen_counts()
        self.gc0, self.jit0 = j.gc_ms(), j.jit_ms()
        return self

    def __exit__(self, *exc):
        j = self.jvm
        self.spark_ctx._jsc.clearJobGroup()
        jobs = list(j.tracker.getJobIdsForGroup(self.group))
        stages = tasks = 0
        for jid in jobs:
            info = j.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = j.tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        cg = j.codegen_counts()
        inp, shuf, rows = j.execution_bytes(self.exec0)
        self.stats = {
            "jobs": float(len(jobs)),
            "stages": float(stages),
            "tasks": float(tasks),
            "codegen_classes": float(cg[0] - self.cg0[0]),
            "codegen_ms": cg[1] - self.cg0[1],
            "gc_ms": j.gc_ms() - self.gc0,
            "jit_ms": j.jit_ms() - self.jit0,
            "input_bytes": inp,
            "shuffle_bytes": shuf,
            "scan_rows": rows,
        }
        return False

