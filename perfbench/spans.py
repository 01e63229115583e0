"""Measurement instruments the benchmark wraps around the program.

Nothing here runs inside the program under test: spans are opened and
closed in the benchmark's own code around calls into the program's
public functions, and the Spark-side numbers are read after the fact
(status tracker, executed-plan SQL metrics, streaming progress events).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out once, at
    the end of a run. Disabled tracers time nothing and record nothing,
    so untraced runs pay only a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.extra: dict = {}  # other per-run records written beside the spans
        self._stack: list[int] = []

    def span(self, name: str, op: str = ""):
        return _SpanCtx(self, name, op)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **self.extra}, fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            parent = tr._stack[-1] if tr._stack else None
            self.span = Span(self.name, time.perf_counter(), 0.0, parent,
                             self.op, len(tr.spans))
            tr.spans.append(self.span)
            tr._stack.append(self.span.id)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if tr.enabled:
            self.span.end = time.perf_counter()
            tr._stack.pop()
        return False


# --- Spark-side readings --------------------------------------------------------


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vmhwm_kb(jvm_pid) + _vmhwm_kb(os.getpid())) / 1024.0


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stage_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, stages that ran at least one task) for a job group.
    Stages skipped because their shuffle output already existed do not
    count. Task-end events reach the status store through the listener
    bus, so the bus is drained first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()  # a set: a stage shared by two jobs is listed by both
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
    return len(jobs), ran


_SCANS = ("FileSourceScanExec", "BatchScanExec", "InMemoryTableScanExec",
          "RDDScanExec", "LocalTableScanExec", "RangeExec")
_JOINS = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
          "BroadcastNestedLoopJoinExec", "CartesianProductExec")


def plan_metrics(executed_plan) -> dict[str, float]:
    """Walk an executed physical plan (descending into AQE query stages
    and subqueries) and sum its SQLMetrics into one record:
    rows scanned, shuffle bytes written, spill bytes, summed operator
    peak memory, the output rows of the largest join (the candidate
    join of a filter/verify plan), and the rows read from each file
    table, keyed by the table's directory name."""
    out = {"rows_scanned": 0, "shuffle_bytes": 0, "spill_bytes": 0,
           "peak_mem_bytes": 0, "join_rows": 0, "table_rows": {}}
    stack = [executed_plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        m = _metrics(node)
        if cls in _SCANS:
            out["rows_scanned"] += m.get("numOutputRows", 0)
        if cls == "FileSourceScanExec":
            t = _table_dir(node)
            out["table_rows"][t] = out["table_rows"].get(t, 0) + m.get("numOutputRows", 0)
        if cls in _JOINS:
            out["join_rows"] = max(out["join_rows"], m.get("numOutputRows", 0))
        out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        out["peak_mem_bytes"] += m.get("peakMemory", 0)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(_iter(node.children()))
            stack.extend(_iter(node.subqueries()))
    return out


def _table_dir(scan) -> str:
    """Directory name of a file scan's table: the last path component
    of its first root path that is not a ``key=value`` partition ("" if
    pruning left no root path)."""
    for root in _iter(scan.relation().location().rootPaths()):
        parts = str(root).rstrip("/").split("/")
        return next(p for p in reversed(parts) if "=" not in p)
    return ""


def _metrics(node) -> dict[str, int]:
    out = {}
    for kv in _iter(node.metrics()):
        out[kv._1()] = kv._2().value()
    return out


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class QueryPlans:
    """Executed-plan metrics (``plan_metrics``) of every query the
    session finishes while open, read through a QueryExecutionListener.
    The listener runs on Spark's listener bus after the action has
    returned, so ``take`` drains the bus before it hands the records
    over. Open it only around traced work: the plan walk costs time."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._spark = spark
        self._listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._spark._jsparkSession.listenerManager().unregister(self._listener)
        return False

    def take(self) -> list[dict]:
        """Records of the queries finished since the last call."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        got = self._listener.records
        self._listener.records = []
        errors = [r for r in got if isinstance(r, Exception)]
        if errors:
            raise RuntimeError(f"executed-plan walk failed: {errors[0]!r}")
        return got


class _PlanListener:
    def __init__(self):
        self.records: list = []

    def onSuccess(self, func, qe, duration_ns):
        try:
            self.records.append(plan_metrics(qe.executedPlan()))
        except Exception as e:  # noqa: BLE001 — re-raised by QueryPlans.take
            self.records.append(e)

    def onFailure(self, func, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events for the queries a cron
    cycle starts. Events arrive on Spark's listener bus, after the query
    call has returned, so ``wait_terminated`` blocks until each started
    query has reported its end."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list = []
        self.terminated = 0
        self._cv = threading.Condition()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._cv:
                    outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated += 1
                    outer._cv.notify_all()

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        with self._cv:
            while self.terminated < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(
                        f"{self.terminated}/{n} streaming queries reported end")
                self._cv.wait(left)

    def reset(self) -> None:
        with self._cv:
            self.progress, self.terminated = [], 0

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def summary(self) -> dict[str, float]:
        """Totals over the batches that carried input."""
        batches = [p for p in self.progress if p.numInputRows > 0]
        add = sum(p.durationMs.get("addBatch", 0) for p in batches)
        trig = sum(p.durationMs.get("triggerExecution", 0) for p in batches)
        last = {p.id: p for p in batches}  # state size after each query's last batch
        state = sum(op.numRowsTotal for p in last.values() for op in p.stateOperators)
        return {
            "batches": len(batches),
            "input_rows": sum(p.numInputRows for p in batches),
            "add_batch_ms": add,
            "overhead_ms": trig - add,
            "state_rows": state,
        }
