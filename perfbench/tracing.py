"""Measurement helpers: process-tree CPU and memory from ``/proc``,
stage counters from Spark's status store, a streaming-query listener,
and an in-memory span recorder.

Spans are recorded only around the benchmark's own calls into each
layer of the program; nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU-seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        # fields 14-17 of stat(5): utime stime cutime cstime
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(name)] = (int(f[1]), comm, cpu)
    return out


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds of this process and all its descendants (the JVM and
    its Python workers), including children already reaped."""
    table = _proc_table()
    return sum(table[p][2] for p in _descendants(table, os.getpid()) if p in table)


def python_worker_cpu_s() -> float:
    """CPU-seconds of the Python processes the JVM forked (pyspark
    daemon and workers)."""
    table = _proc_table()
    me = os.getpid()
    return sum(
        table[p][2]
        for p in _descendants(table, me)
        if p != me and p in table and table[p][1].startswith("python")
    )


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the live process tree."""
    total = 0
    for p in _descendants(_proc_table(), os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def wait_children(timeout: float) -> None:
    """Block until every process this one started has exited."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if len(_descendants(_proc_table(), os.getpid())) <= 1:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)
    raise RuntimeError("child processes still running after Spark stopped")


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

def _seq(spark, scala_seq) -> list:
    jvm = spark.sparkContext._jvm
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def last_job_id(spark) -> int:
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((j.jobId() for j in _seq(spark, store.jobsList(None))), default=-1)


def stage_totals(spark, after_job: int, group: str | None = None) -> dict:
    """Summed stage counters of the jobs with id > ``after_job`` (and
    job group ``group``, when given): wall from first submission to
    last completion, executor CPU, shuffle write, spill, GC and tasks."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [
        j
        for j in _seq(spark, store.jobsList(None))
        if j.jobId() > after_job
        and (group is None or (j.jobGroup().isDefined() and j.jobGroup().get() == group))
    ]
    stage_ids = {int(s) for j in jobs for s in _seq(spark, j.stageIds())}
    tot = {"exec_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "gc_s": 0.0, "tasks": 0}
    if stage_ids:
        empty = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0
        )
        for s in _seq(spark, store.stageList(None, False, False, empty, None)):
            if s.stageId() not in stage_ids:
                continue
            tot["exec_cpu_s"] += s.executorCpuTime() / 1e9
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["tasks"] += s.numCompleteTasks()
    starts = [t for t in (_opt_ms(j.submissionTime()) for j in jobs) if t is not None]
    ends = [t for t in (_opt_ms(j.completionTime()) for j in jobs) if t is not None]
    tot["wall_s"] = (max(ends) - min(starts)) / 1e3 if starts and ends else 0.0
    return tot


# --------------------------------------------------------------------------
# streaming listener
# --------------------------------------------------------------------------

def make_batch_listener():
    """A ``StreamingQueryListener`` that keeps every progress event
    (no 100-update cap, unlike ``recentProgress``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = threading.Event()

        def reset(self) -> None:
            self.progress = []
            self.terminated.clear()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "batch_id": p.batchId,
                    "batch_ms": p.batchDuration,
                    "duration_ms": dict(p.durationMs),
                    "rows": p.numInputRows,
                    "timestamp": p.timestamp,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

        def batches(self, timeout: float = 60.0) -> list[dict]:
            """Progress of the batches that read input, once the query's
            termination event (posted after its last progress) is in."""
            if not self.terminated.wait(timeout):
                raise RuntimeError("no query-terminated event from the listener")
            return sorted(
                (p for p in self.progress if p["rows"] > 0),
                key=lambda p: p["batch_id"],
            )

    return BatchListener()


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent; written out at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
