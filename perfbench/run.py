"""spark-graft benchmark: seeded workloads, end-to-end and per layer.

Run one workload (one process, one client):

    python3 perfbench/run.py --workload live_bars --seed 1 --seconds 10 --trace 0

or every workload, each in its own process, untraced then traced, with the
tracing overhead against the untraced run:

    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads: corpus_curation (closed loop over ``queries`` registry
callables), live_bars (``streaming.pipeline.run_live_bars`` fed by an
open-loop generator thread) and daily_etl (closed loop of
``plans.daily_etl.run_daily_etl``).  ``BENCHMARK.json`` at the repo root
lists the first two and why each exists; daily_etl runs only by name,
because a full measurement set has no room for a third workload: one run
costs 35-46 s (JVM start, a 23 s cold call, then 7-12 s per call), next
to 55-70 s for corpus_curation and 40-55 s for live_bars.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run writes a Spark event log,
reports per-layer metrics instead and writes its spans (workload >
operation > build / action / check) to stderr as JSON lines.  The line before it is a detail record:
the workload's metrics under their own names with sample counts, input
sizes, ``error_rate`` and the first failed checks.  All scratch files live
under ``.perfbench_work/`` in the working directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import REPO_ROOT, RssSampler, Run, emit  # noqa: E402

WORKLOADS = ("corpus_curation", "live_bars", "daily_etl")

E2E_UNITS = {"setup_s": "s", "latency_p50_s": "s", "throughput_per_s": "1/s"}


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit; a metric
    a workload does not exercise reads 0.  ``sources.bronze_read_amp`` has
    no meaning without a bronze landing, so only daily_etl prints it."""
    from perfbench.wl_queries import CORPUS

    units = {
        "session.start_s": "s", "session.peak_rss_mb": "MB", "queries.load_all_s": "s",
        "sources.scan_tasks": "count",
        "sources.sink_files": "count", "sources.sink_bytes": "bytes",
        "streaming.sink_files_per_batch": "count",
        "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
        "plans.driver_idle_ms": "ms", "queries.build_ms": "ms", "queries.plan_ms": "ms",
        "operators.cpu_ms": "ms", "operators.run_ms": "ms", "operators.gc_ms": "ms",
        "operators.task_overhead_ms": "ms", "operators.shuffle_write_bytes": "bytes",
        "operators.shuffle_read_bytes": "bytes", "operators.spill_bytes": "bytes",
        "llm.python_bytes_out": "bytes", "llm.python_bytes_in": "bytes",
        "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
        "streaming.wal_commit_ms_p50": "ms", "streaming.commit_offsets_ms_p50": "ms",
        "streaming.query_planning_ms_p50": "ms", "streaming.latest_offset_ms_p50": "ms",
        "streaming.batches": "count", "streaming.state_rows_max": "count",
        "streaming.state_mem_bytes_max": "bytes", "streaming.late_rows_dropped": "count",
        "streaming.backlog_files_max": "count", "gen.lag_max_s": "s",
        "trace.setup_s": "s", "trace.latency_p50_s": "s", "trace.throughput_per_s": "1/s",
    }
    for q in CORPUS:
        units.update({f"q.{q}.wall_s": "s", f"q.{q}.plan_ms": "ms", f"q.{q}.cpu_ms": "ms"})
    if workload == "daily_etl":
        units["sources.bronze_read_amp"] = "ratio"
    return units


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if workload == "daily_etl":
        from perfbench.wl_etl import run_workload
    elif workload == "live_bars":
        from perfbench.wl_live import run_workload
    else:
        from perfbench.wl_queries import run_workload

    run = Run(workload, seed, seconds, trace)
    try:
        with RssSampler() as rss:
            res = run_workload(run)
            run.stop_spark()
        e2e = {"setup_s": run.setup_s, **res["e2e"]}
        peak_rss_mb = rss.peak_kb / 1024.0
        named = {"setup_s": (run.setup_s, "s", 1), "peak_rss_mb": (peak_rss_mb, "MB", 1),
                 "error_rate": (run.tally.error_rate, "ratio", run.tally.attempted), **res["named"]}
        units = per_layer_units(workload)
        layer = dict.fromkeys(units, 0.0)
        layer.update(run.layer)
        layer.update(res["layer"])
        layer.update({"session.peak_rss_mb": peak_rss_mb,
                      "trace.setup_s": run.setup_s, "trace.latency_p50_s": e2e["latency_p50_s"],
                      "trace.throughput_per_s": e2e["throughput_per_s"]})
        if trace:
            run.spans.dump(sys.stderr)
        emit(run, {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}, named,
             {k: (layer[k], units[k]) for k in units})
        return 0
    finally:
        run.stop_spark()
        run.cleanup()


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own process, untraced then traced; prints each
    result line and the traced/untraced ratio of the shared metrics."""
    status = 0
    for wl in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.getcwd())
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                status = 1
                break
            results[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
            print(json.dumps({"workload": wl, "trace": trace, "detail": results[trace][0],
                              "result": results[trace][1]}))
        if len(results) == 2:
            plain, traced = results[0][1]["metrics"], results[1][1]["metrics"]
            overhead = {k: traced[f"trace.{k}"]["value"] / plain[k]["value"]
                        for k in ("setup_s", "latency_p50_s", "throughput_per_s")}
            print(json.dumps({"workload": wl, "trace_overhead_ratio": overhead}))
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "quant_market_data_pipeline_spark")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    try:
        return run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
