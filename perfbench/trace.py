"""Spans, Spark's own accounting per span, and host probes.

A :class:`Tracer` keeps spans in memory (workload, cycle and
public-call levels). With tracing on, every call span runs under its
own Spark job group; after the cycle the tracer reads the stages of
those jobs from the ``AppStatusStore`` and the SQL executions from the
SQL status store (plan nodes, Python worker init time). Reading the
stores happens between cycles, so it never lands inside a timed cycle.

Host probes read ``/proc`` only: steal from ``/proc/stat``, CPU and
peak RSS of this process and every descendant (the JVM, the PySpark
daemon and its workers) from ``/proc/<pid>/stat`` and ``status``.
"""

from __future__ import annotations

import contextlib
import os
import re
import time

CLK = os.sysconf("SC_CLK_TCK")
# physical plan nodes that cross the Python boundary
PYTHON_NODE = re.compile(r"InPandas|Python|InArrow")
PY_INIT_METRIC = "time to initialize Python workers"


# ---- host ------------------------------------------------------------------

def steal_s() -> float:
    """Host steal since boot, in core-seconds (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) / CLK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU of the process tree, reaped children included."""
    total = 0
    for p in pids or tree_pids():
        f = _stat_fields(p)
        if f is not None:  # utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / CLK


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of each live process's own peak RSS (``VmHWM``)."""
    kb = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


class HostWindow:
    """Steal and process-tree CPU between :meth:`start` and :meth:`stop`."""

    def start(self) -> "HostWindow":
        self._steal, self._cpu = steal_s(), tree_cpu_s()
        return self

    def stop(self) -> dict[str, float]:
        return {"steal_s": steal_s() - self._steal,
                "cpu_s": tree_cpu_s() - self._cpu}


# ---- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans; Spark accounting per call span when ``enabled``."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", **attrs):
        """Time a block; ``kind`` is ``workload``, ``cycle`` or ``call``.
        Untraced runs keep no spans and set no job groups."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if kind == "call" and sc is not None:
            rec["job_group"] = f"{self.run_id}-{sid}"
            sc.setJobGroup(rec["job_group"], name, False)
            self._pending.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "job_group" in rec:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, parent: dict) -> list[dict]:
        """Every span below ``parent``, at any depth."""
        ids, out = {parent["id"]}, []
        for s in self.spans[parent["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def account(self) -> None:
        """Attach Spark's stage and SQL accounting to every call span
        recorded since the last call (run between cycles)."""
        if not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stage_of: dict[int, dict] = {}
        job_of: dict[int, dict] = {}
        for rec in self._pending:
            jobs = list(tracker.getJobIdsForGroup(rec["job_group"]))
            rec["jobs"] = sorted(jobs)
            for j in jobs:
                job_of[j] = rec
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else []:
                    stage_of[s] = rec
            rec.update(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                       gc_s=0.0, shuffle_write_bytes=0, shuffle_read_records=0,
                       spill_bytes=0, python_nodes=0, python_init_s=0.0)
        self._read_stages(jsc, stage_of)
        self._read_sql(job_of)
        self._pending = []

    def _read_stages(self, jsc, stage_of: dict[int, dict]) -> None:
        gw = self.spark.sparkContext._gateway
        # Spark 4.1's AppStatusStore.stageList takes five arguments:
        # (statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        seq = jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)
        it = seq.iterator()
        while it.hasNext():
            sd = it.next()
            rec = stage_of.get(sd.stageId())
            if rec is None or sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks()
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["shuffle_read_records"] += sd.shuffleReadRecords()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def _read_sql(self, job_of: dict[int, dict]) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        while it.hasNext():
            x = it.next()
            ids = [int(j) for j in re.findall(r"\d+", x.jobs().keySet().toString())]
            owners = [job_of[j] for j in ids if j in job_of]
            if not owners:
                continue
            rec, metrics = owners[0], None
            nodes = store.planGraph(x.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not PYTHON_NODE.search(node.name()):
                    continue
                rec["python_nodes"] += 1
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() != PY_INIT_METRIC:
                        continue
                    # the execution has ended, so its metrics are formatted text
                    if metrics is None:
                        metrics = store.executionMetrics(x.executionId())
                    text = metrics.get(m.accumulatorId())
                    if text.isDefined():
                        rec["python_init_s"] += parse_duration(text.get())


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    ``'total (min, med, max ...)\\n13.2 s (183 ms, ...)'`` -> 13.2."""
    m = re.search(r"([\d.]+) (ms|s|m|h)\b", text.splitlines()[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0
