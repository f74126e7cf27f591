"""Spans, Spark stage metrics, executed plans and worker memory.

Spans are kept in memory and written once, when the run ends.  Spark's own
per-stage metrics and executed plans are read from the Spark driver's status
stores after each operation, by the job group the benchmark set for it.
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "trace": trace, "name": name,
                 "start": t0, "end": time.perf_counter()}
            )


def _seq(s) -> list:
    """A Scala Seq reached through py4j, as a Python list."""
    return [s.apply(i) for i in range(s.length())]


def _opt(o):
    """A Scala Option reached through py4j: its value, or None."""
    return o.get() if o.isDefined() else None


_EXCHANGE = re.compile(r"(?m)^\W*Exchange\b")
_PY_OPS = ("MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython", "MapInPandas",
           "FlatMapGroupsInPandas", "BatchEvalPython")


class SparkProbe:
    """Per-operation Spark metrics, read from the Spark driver's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        self._bus.waitUntilEmpty(60_000)
        return int(self._sql.executionsCount())

    def plans(self, since: int) -> list[str]:
        """Executed (final, under AQE) physical plans of the SQL executions
        started after ``mark()`` returned ``since``."""
        self._bus.waitUntilEmpty(60_000)
        n = int(self._sql.executionsCount()) - since
        if n <= 0:
            return []
        execs = _seq(self._sql.executionsList(since, n))
        return [e.physicalPlanDescription().split("\n\n")[0] for e in execs]

    def stages(self, group: str) -> list[dict]:
        self._bus.waitUntilEmpty(60_000)
        out = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            for sid in _seq(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: its shuffle was reused
                    continue
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue
                sub = _opt(st.submissionTime())
                done = _opt(st.completionTime())
                tasks = _seq(self._store.taskList(sid, st.attemptId(), 100_000))
                out.append({
                    "stage": sid,
                    "tasks": int(st.numTasks()),
                    "failed_tasks": int(st.numFailedTasks()),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "input_bytes": int(st.inputBytes()),
                    "shuffle_write_bytes": int(st.shuffleWriteBytes()),
                    "start_ms": sub.getTime() if sub is not None else None,
                    "end_ms": done.getTime() if done is not None else None,
                    "task_s": [d / 1e3 for d in (_opt(t.duration()) for t in tasks) if d is not None],
                })
        return out


def _covered_s(stages: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] during which at least one stage was running."""
    iv = sorted(
        (max(s["start_ms"], t0_ms), min(s["end_ms"], t1_ms))
        for s in stages if s["start_ms"] is not None and s["end_ms"] is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def operator_metrics(stages: list[dict], plans: list[str], build_s: float,
                     wall_s: float, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """The per-operator layer metrics of one traced execution."""
    run_s = sum(s["run_s"] for s in stages)
    main = max(stages, key=lambda s: s["run_s"], default=None)
    tasks = main["task_s"] if main else []
    med = statistics.median(tasks) if tasks else 0.0
    return {
        "wall_s": wall_s,
        "plan_s": build_s,
        "driver_s": max(0.0, wall_s - _covered_s(stages, t0_ms, t1_ms)),
        "exchanges": sum(len(_EXCHANGE.findall(p)) for p in plans),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "input_bytes": sum(s["input_bytes"] for s in stages),
        "executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "task_skew": max(tasks) / med if med > 0 else 1.0,
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
    }


def gate_paths(op: str, plans: list[str]) -> dict:
    """Which side of each engine gate an operation took, read from its
    executed plans.  Recorded, never asserted."""
    text = "\n".join(plans)
    py = any(k in text for k in _PY_OPS)
    pyscan = py and "Range (" in text
    jvm_scan = "Scan parquet" in text or "FileScan parquet" in text
    out = {"python_udf": py}
    if op == "encode_hash":
        # fragment-merge encodes compressed fragments in a pyscan task and
        # re-encodes each chunk after one shuffle; the row-shuffle path
        # groups raw scanned rows by chunk
        out["encode_topology"] = (
            "fragment_merge" if pyscan and "FlatMapGroupsInArrow" in text
            else "row_shuffle" if "FlatMapGroupsInArrow" in text else "unknown"
        )
    out["scan"] = "pyscan" if pyscan else "jvm" if jvm_scan else "none"
    if op in ("agg_decode", "agg_stats"):
        out["aggregate_tier"] = "decode" if py else "stats"
    if op in ("decode", "scan_pruned", "scan_filtered", "lookup"):
        out["decode_shuffle"] = "Exchange" in text and "FlatMapGroupsInArrow" in text
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among the Python worker processes under this process."""
    root_pid = os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    peak = 0
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0", 1)[0]:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024
