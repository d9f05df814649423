"""Shared machinery for the workloads: session, clocks, spans, RSS, output.

Nothing here starts a thread or touches the disk at import time; the
workload modules create one :class:`Run` per process and pass it around.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

# Process start, as close to interpreter start as this module can get:
# ``setup_s`` runs from here to the first timed operation.
PROCESS_T0 = time.time()

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Heap cap below physical RAM (the engine's own default is sized for a
# 128 GiB box).  Only the cap is set: the heap grows with use, so peak
# memory follows the engine's use.  It also follows when the collector
# chooses to grow the heap, which varies from run to run: on live_bars the
# driver JVM peaked anywhere from 1.0 to 1.8 GB, so peak memory is a
# per-layer metric (``session.peak_rss_mb``), not a gated one.
DRIVER_MEM = "2g"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    """One traced interval; ``parent`` is the index of the causing span."""

    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Spans:
    """In-memory span tree: workload > operation > build / action / check.

    Spans are kept in a list and written out once, at the end of the run.
    """

    def __init__(self) -> None:
        self.items: list[Span] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.items.append(Span(name, time.time(), parent=parent, attrs=attrs))
        return len(self.items) - 1

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record an interval measured elsewhere (a Spark job, a micro-batch)."""
        self.items.append(Span(name, start, end, parent, attrs))
        return len(self.items) - 1

    def add_spark(self, parent: int, op) -> None:
        """Child spans for the Spark jobs and stages of one operation
        (an ``OpStats`` from the event log)."""
        for kind, intervals in (("job", op.job_spans), ("stage", op.stage_spans)):
            for lo, hi in intervals:
                self.add(kind, lo / 1000.0, hi / 1000.0, parent)

    def close(self, idx: int, **attrs) -> Span:
        span = self.items[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        return span

    def dump(self, stream) -> None:
        for i, s in enumerate(self.items):
            stream.write(json.dumps({"span": i, "parent": s.parent, "name": s.name, "start": s.start,
                                     "end": s.end, **s.attrs}, default=str) + "\n")


class RssSampler:
    """Peak memory of this process and all its descendants (the driver JVM
    and the Python workers it forks), sampled from ``/proc``.

    Each process counts its proportional set size (``Pss``), so pages a
    forked child still shares with its parent (a JVM forking a shell
    command, pyspark's forked workers) are counted once, not twice.
    """

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                total += self._pss_kb(pid)
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                pass
            todo.extend(children.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an operation that
    raised or whose output failed its check."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


class Run:
    """Per-process state of one benchmark run: its scratch directory, the
    Spark session, spans, failure tally and the metrics it will print."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{os.getpid()}")
        self.spans = Spans()
        self.tally = Tally()
        self.setup_s = 0.0
        self.layer: dict[str, float] = {}
        self.inputs: dict = {}
        self.spark = None
        os.makedirs(self.work)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Engine session through ``get_spark``, with a ``DRIVER_MEM`` heap
        cap and every scratch file under the run's directory.  Engine
        tuning settings keep their defaults."""
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["TMPDIR"] = self.path("tmp")
        os.makedirs(self.path("tmp"))
        t0 = time.time()
        from quant_market_data_pipeline_spark.session import get_spark

        conf = {
            # set here, not through SPARK_GRAFT_DRIVER_MEM: the engine reads
            # that when its session module is imported, which may come first
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": self.path("tmp"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.time() - t0
        return self.spark

    def load_registry(self) -> dict:
        t0 = time.time()
        from quant_market_data_pipeline_spark.queries import load_all

        registry = load_all()
        self.layer["queries.load_all_s"] = time.time() - t0
        return registry

    def mark_setup_done(self) -> None:
        self.setup_s = time.time() - PROCESS_T0

    def stop_spark(self) -> None:
        """Stop the session, then end the driver JVM and wait until it has
        exited: it exits once its stdin pipe from this process closes,
        which would otherwise happen only when this process exits."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        finally:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def event_log(self) -> str | None:
        """Path of the finished event log (call after ``stop_spark``)."""
        if not self.trace:
            return None
        names = os.listdir(self.path("eventlog"))
        return self.path("eventlog", names[0]) if names else None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def emit(run: Run, e2e: dict[str, tuple[float, str]], named: dict[str, tuple[float, str, int]],
         per_layer: dict[str, tuple[float, str]]) -> None:
    """Print the detail line, then the result line (always the last line
    of stdout).  ``named`` holds the workload's metrics under their own names
    with sample counts; ``e2e`` the workload-generic ones every workload
    reports; ``per_layer`` the traced run's layer metrics."""
    detail = {
        "workload": run.workload, "seed": run.seed, "trace": run.trace,
        "inputs": run.inputs,
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "error_rate": run.tally.error_rate, "errors": run.tally.errors,
    }
    print(json.dumps(detail, default=str))
    metrics = per_layer if run.trace else e2e
    result = {
        "correct": run.tally.failed == 0 and run.tally.attempted > 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
