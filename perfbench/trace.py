"""Per-layer numbers taken from outside the engine.

Two sources, both public Spark contracts:

- the uncompressed Spark event log (JSON lines) of a traced run: jobs,
  stages and task metrics, attributed to the benchmark's operation spans
  by submission time;
- a :class:`ProgressListener` (``StreamingQueryListener``), which records
  each micro-batch's progress: trigger phases, input rows, state rows and
  rows dropped by the watermark.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = (
    "jobs", "stages", "tasks", "scan_tasks", "input_bytes", "cpu_ms", "run_ms", "gc_ms",
    "task_overhead_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_bytes_out", "python_bytes_in",
)


@dataclass
class OpStats:
    """Spark-side work done inside one operation window."""

    name: str
    start_ms: float
    end_ms: float
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    stage_spans: list[tuple[float, float]] = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms

    @property
    def driver_idle_ms(self) -> float:
        """Operation wall minus the union of its Spark job spans: the
        operation span's self time."""
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.job_spans):
            lo, hi = max(lo, self.start_ms), min(hi, self.end_ms)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(self.wall_ms - busy, 0.0)


def _python_bytes(accumulables: list[dict]) -> tuple[int, int]:
    """Bytes sent to and returned from Python workers, from the SQL-metric
    updates a task reports for its Arrow/Python nodes."""
    out = inn = 0
    for acc in accumulables:
        name = str(acc.get("Name", "")).lower()
        try:
            update = int(acc.get("Update"))
        except (TypeError, ValueError):
            continue
        if "sent to python" in name:
            out += update
        elif "returned from python" in name:
            inn += update
    return out, inn


def parse_event_log(path: str, windows: list[tuple[str, float, float]]) -> list[OpStats]:
    """Attribute every job, stage and task in the event log to the
    operation window (name, start_s, end_s) in which it was submitted.
    Work submitted outside every window (set-up, checks) is ignored."""
    ops = [OpStats(n, lo * 1000.0, hi * 1000.0) for n, lo, hi in windows]

    def owner(t_ms: float) -> OpStats | None:
        for op in ops:
            if op.start_ms <= t_ms <= op.end_ms:
                return op
        return None

    job_start: dict[int, tuple[float, OpStats]] = {}
    stage_op: dict[int, OpStats] = {}
    stage_attempt_seen: set[tuple[int, int]] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                op = owner(ev["Submission Time"])
                if op is not None:
                    op.counts["jobs"] += 1
                    job_start[ev["Job ID"]] = (ev["Submission Time"], op)
            elif kind == "SparkListenerJobEnd":
                started = job_start.pop(ev["Job ID"], None)
                if started is not None:
                    started[1].job_spans.append((started[0], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                op = owner(info.get("Submission Time") or 0)
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                if op is not None and key not in stage_attempt_seen:
                    stage_attempt_seen.add(key)
                    op.counts["stages"] += 1
                    stage_op[info["Stage ID"]] = op
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                if op is not None and info.get("Completion Time"):
                    op.stage_spans.append((info["Submission Time"], info["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if op is None or not metrics:
                    continue
                info = ev["Task Info"]
                c = op.counts
                c["tasks"] += 1
                read = metrics.get("Input Metrics", {}).get("Bytes Read", 0)
                c["input_bytes"] += read
                c["scan_tasks"] += int(read > 0)
                run_ms = metrics.get("Executor Run Time", 0)
                c["run_ms"] += run_ms
                c["cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += metrics.get("JVM GC Time", 0)
                c["task_overhead_ms"] += max(info["Finish Time"] - info["Launch Time"] - run_ms, 0)
                sr = metrics.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
                p_out, p_in = _python_bytes(info.get("Accumulables", []))
                c["python_bytes_out"] += p_out
                c["python_bytes_in"] += p_in
    return ops


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Batch:
    """One micro-batch's progress report."""

    run_id: str
    batch_id: int
    start_s: float  # trigger start, epoch seconds
    duration_ms: dict
    input_rows: int
    state_rows: int
    state_mem_bytes: int
    dropped_by_watermark: int
    watermark_s: float  # event-time watermark this batch ran with (0 before the first)

    @property
    def commit_s(self) -> float:
        """Time the batch finished, sink commit included."""
        return self.start_s + self.duration_ms.get("triggerExecution", 0) / 1000.0


class ProgressListener(StreamingQueryListener):
    """Collects :class:`Batch` records from ``onQueryProgress``.

    Remove it with ``spark.streams.removeListener`` *before* stopping the
    query: stopping first races the listener callback against the
    shutting-down py4j gateway.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[Batch] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        batch = Batch(
            run_id=str(p.runId),
            batch_id=p.batchId,
            start_s=_epoch_s(p.timestamp),
            duration_ms=dict(p.durationMs),
            input_rows=p.numInputRows,
            state_rows=sum(o.numRowsTotal for o in ops),
            state_mem_bytes=sum(o.memoryUsedBytes for o in ops),
            dropped_by_watermark=sum(o.numRowsDroppedByWatermark for o in ops),
            watermark_s=_epoch_s(p.eventTime["watermark"]) if "watermark" in p.eventTime else 0.0,
        )
        with self._lock:
            self.batches.append(batch)

    def snapshot(self, run_id: str) -> list[Batch]:
        """Batches of one query run, in order (the bus may still deliver
        progress of a query stopped before this listener was added)."""
        with self._lock:
            return sorted((b for b in self.batches if b.run_id == run_id), key=lambda b: b.batch_id)


def mean_counts(ops: list[OpStats]) -> dict[str, float]:
    """Mean over operations of each per-operation counter and of the
    driver idle time.  Over whole passes of a query mix this is the pass
    total divided by the mix size, so it does not depend on which query
    sits in the middle."""
    if not ops:
        return dict.fromkeys((*COUNTERS, "driver_idle_ms"), 0.0)
    out = {k: statistics.fmean(op.counts[k] for op in ops) for k in COUNTERS}
    out["driver_idle_ms"] = statistics.fmean(op.driver_idle_ms for op in ops)
    return out


def layer_from_ops(stats) -> dict[str, float]:
    """Per-operation layer metrics from the parsed event log."""
    m = mean_counts(stats)
    return {
        "plans.jobs": m["jobs"], "plans.stages": m["stages"], "plans.tasks": m["tasks"],
        "plans.driver_idle_ms": m["driver_idle_ms"],
        "operators.cpu_ms": m["cpu_ms"], "operators.run_ms": m["run_ms"], "operators.gc_ms": m["gc_ms"],
        "operators.task_overhead_ms": m["task_overhead_ms"],
        "operators.shuffle_write_bytes": m["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": m["shuffle_read_bytes"], "operators.spill_bytes": m["spill_bytes"],
        "llm.python_bytes_out": m["python_bytes_out"], "llm.python_bytes_in": m["python_bytes_in"],
        "sources.scan_tasks": m["scan_tasks"],
    }
