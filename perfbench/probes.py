"""Measurement helpers that read Spark's own bookkeeping.

Nothing here changes a query plan. Per-stage numbers come from the
status store after each job (it is kept with the UI disabled), per-node
row counts from the SQL status store, and memory from the JVM's
management beans and /proc.
"""

from __future__ import annotations

import os
import threading
import time


def _wait_listeners(sc) -> None:
    """Block until the listener bus has delivered every queued event,
    so the status store holds the job that just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(sc, group: str) -> dict:
    """Sum the stages of every job in ``group``. The task-time skew is
    max/p50 executor run time over the tasks of the group's busiest
    shuffle-reading stage with more than one task, where key skew shows."""
    _wait_listeners(sc)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "task_ms_max_over_p50": 1.0}
    busiest = -1
    tracker = sc.statusTracker()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            data = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                   gw.new_array(gw.jvm.double, 0))
            for i in range(data.size()):
                sd = data.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if (sd.numTasks() > 1 and sd.shuffleReadBytes() > 0
                        and sd.executorRunTime() > busiest):
                    busiest = sd.executorRunTime()
                    dist = store.taskSummary(sid, sd.attemptId(), quant)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        out["task_ms_max_over_p50"] = run.apply(1) / max(run.apply(0), 1.0)
    return out


def last_sql_rows(spark) -> dict[str, list[int]]:
    """Output rows per plan-node name of the last finished SQL execution."""
    _wait_listeners(spark.sparkContext)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    rows: dict[str, list[int]] = {}
    for i in range(nodes.size()):
        node = nodes.apply(i)
        metrics = node.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rows.setdefault(node.name(), []).append(
                        int(str(v.get()).replace(",", "")))
    return rows


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages of forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakMemory:
    """Samples, on a thread, the program's memory: the JVM heap in use
    after its latest GC, the JVM's committed non-heap (metaspace, code
    cache), and the summed PSS of every process under the JVM (the
    Python worker daemon and its workers). The committed heap is left
    out on purpose: G1 grows it by pause-time heuristics, so it follows
    GC timing rather than what the program keeps. ``take()`` returns the
    peak since the previous ``take()``, so each job gets its own peak."""

    def __init__(self, gateway, period_s: float = 0.25):
        self.jvm_pid = gateway.proc.pid
        mf = gateway.jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                            if p.getType().name() == "HEAP"]
        self.period_s = period_s
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _heap_after_gc(self) -> int:
        infos = [i for i in (g.getLastGcInfo() for g in self._gcs) if i is not None]
        if not infos:
            return self._mem.getHeapMemoryUsage().getUsed()
        after = max(infos, key=lambda i: i.getEndTime()).getMemoryUsageAfterGc()
        return sum(after.get(p).getUsed() for p in self._heap_pools)

    def _run(self) -> None:
        while not self._stop.is_set():
            workers = sum(_pss_kb(p) for p in _descendants(self.jvm_pid)[1:])
            jvm = (self._heap_after_gc()
                   + self._mem.getNonHeapMemoryUsage().getCommitted()) // 1024
            with self._lock:
                self.peak_kb = max(self.peak_kb, workers + jvm)
            self._stop.wait(self.period_s)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def take(self) -> float:
        """Peak MB since the previous call (or the start)."""
        with self._lock:
            peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0


def timed(fn, *args):
    """(seconds, result) of one call."""
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out
