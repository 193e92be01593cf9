"""Spans, counters and Spark status-store figures, recorded from outside
the engine: the benchmark wraps calls into each module's public
functions and reads Spark's own status store after every op.

With tracing off only op spans are timed (the end-to-end figures need
them); every other hook is a no-op and nothing is patched.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from measure import Span

MB = 1024 * 1024
_STAGE_FIELDS = (
    ("spark.task_run_s", "executorRunTime", 1e-3),
    ("spark.task_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.input_mb", "inputBytes", 1 / MB),
    ("spark.output_mb", "outputBytes", 1 / MB),
    ("spark.shuffle_read_mb", "shuffleReadBytes", 1 / MB),
    ("spark.shuffle_write_mb", "shuffleWriteBytes", 1 / MB),
    ("spark.spill_mb", "diskBytesSpilled", 1 / MB),
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.ops: list[dict] = []
        self.spans: list[Span] = []
        # (metric, op kind) -> summed seconds or count
        self.totals: dict[tuple[str, str], float] = defaultdict(float)
        self.spark_totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self.max_task_to_capacity = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self._after_op: list = []
        self._groups: set[str] = set()
        self.persisted: list[int] = []
        if enabled:  # start counting after the jobs already run
            self._last_sql = self._max_sql_id()
            self._harvest()
            self.spark_totals.clear()

    # ---- spans -----------------------------------------------------------
    @contextmanager
    def op(self, kind: str, name: str):
        """One benchmark op (a DAG day or one query). Always timed."""
        rec = {"kind": kind, "name": name, "ok": False, "id": next(self._ids), "branches": {}}
        self._op = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            if self.enabled:
                self._close_op(rec)
            self._op = None
            self.ops.append(rec)

    @contextmanager
    def span(self, layer: str, branch: str | None = None):
        """A call into one layer; sets the Spark job group on the calling
        thread for its duration (run_all's branch threads do not inherit
        local properties, so each wrapper sets its own)."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        op = self._op
        parent = stack[-1] if stack else (op["id"] if op else None)
        sid = next(self._ids)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(layer, layer, False)
        self._groups.add(layer)
        stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            stack.pop()
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(prev, prev, False)
            kind = op["kind"] if op else "setup"
            with self._lock:
                self.spans.append(Span(sid, parent, layer, t1, t2))
                self.totals[(layer, kind)] += t2 - t1
                self.totals[(layer + ".calls", kind)] += 1
                if op is not None and branch is not None:
                    ext = op["branches"].setdefault(threading.get_ident(), [t1, t2, branch])
                    ext[0], ext[1] = min(ext[0], t1), max(ext[1], t2)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def count(self, metric: str, n: float = 1, kind: str | None = None) -> None:
        """Add ``n`` to a counter of the current op's kind (or ``kind``)."""
        if self.enabled:
            op = self._op
            kind = kind or (op["kind"] if op else "setup")
            with self._lock:
                self.totals[(metric, kind)] += n

    def after_op(self, fn) -> None:
        """Run ``fn()`` once the current op has ended (its cost is tracing
        overhead, not op time)."""
        self._after_op.append(fn)

    def wrap(self, owner, attr: str, layer: str, branch: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned call (traced runs only)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer, branch):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    # ---- status store ----------------------------------------------------
    def _max_sql_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.size()
        if n == 0:
            return -1
        return max(execs.apply(0).executionId(), execs.apply(n - 1).executionId())

    def _close_op(self, rec: dict) -> None:
        t0 = time.perf_counter()
        for s, e, branch in rec["branches"].values():
            self.totals[(f"plans.branch_{branch}_s", rec["kind"])] += e - s
        for fn in self._after_op:
            fn()
        self._after_op.clear()
        self.spans.append(Span(rec["id"], None, "op", rec["start"], rec["end"]))
        task_s = self._harvest()
        slots = self.spark.sparkContext.defaultParallelism
        self.max_task_to_capacity = max(
            self.max_task_to_capacity, task_s / (rec["seconds"] * slots)
        )
        self.overhead_s += time.perf_counter() - t0

    def _harvest(self) -> float:
        """Fold the jobs finished since the last call into the Spark
        totals; returns their task run seconds."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        newest = self._last_job
        task_s = 0.0
        tot = self.spark_totals
        for k in range(jobs.size()):
            job = jobs.apply(k)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            tot["spark.jobs"] += 1
            group = job.jobGroup()
            if not (group.isDefined() and group.get() in self._groups):
                tot["spark.jobs_unattributed"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the status store
                    tot["spark.stages_evicted"] += 1
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tot["spark.stages"] += 1
                tot["spark.tasks"] += st.numCompleteTasks()
                for metric, getter, scale in _STAGE_FIELDS:
                    tot[metric] += getattr(st, getter)() * scale
                task_s += st.executorRunTime() * 1e-3
        self._last_job = newest
        sql_id = self._max_sql_id()
        tot["spark.sql_executions"] += sql_id - self._last_sql
        self._last_sql = sql_id
        return task_s

    def end_pass(self) -> None:
        """Sample the persisted-RDD count once a pass has ended."""
        if self.enabled:
            self.persisted.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def files_written_since(path: str, since: float) -> tuple[int, int]:
    """Parquet files (and their bytes) under ``path`` modified at or after
    the wall-clock time ``since``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def proc_status_mb(pids: list[int], field: str) -> float:
    """Summed ``/proc/<pid>/status`` field (``VmHWM``, ``VmRSS``) of
    ``pids``, in MB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def heap_after_gc_mb(spark) -> float:
    """JVM heap still in use after a full collection."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / MB
