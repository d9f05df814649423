"""live_bars: ``run_live_bars`` fed by an open-loop tick generator.

The event clock runs ``CLOCK`` times faster than wall time, so a 5-minute
bar closes every half second of wall time; one generator thread lands a
parquet tick file every ``FILE_EVERY_S`` seconds by atomic rename.

- Phase 1 (catch-up): a seeded backlog is landed before the query starts;
  ``catchup_ticks_per_s`` is backlog ticks over the time from query start
  to the commit of the micro-batch that consumed the last backlog file.
- Phase 2 (base rate): files land on schedule for ``--seconds``.  A bar's
  latency runs from the landing of the file that makes it final (first
  event time >= bar end + watermark delay) to the listener-reported commit
  of the micro-batch whose ``batch_id`` the bar carries in the lake.

The lake is then compared with the batch bar SQL (DuckDB) over every
landed tick, minus the ticks planted behind the watermark, for the windows
final by the watermark of the last reported micro-batch.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from itertools import accumulate

import duckdb

from perfbench import gen
from perfbench.harness import Run, median, percentile
from perfbench.trace import ProgressListener, layer_from_ops, parse_event_log

SYMBOLS = 8
CLOCK = 600  # event seconds per wall second
FILE_EVERY_S = 0.25
EVENT_US_PER_FILE = int(FILE_EVERY_S * CLOCK * 1_000_000)
BASE_TICKS_PER_FILE = 500  # 2,000 ticks per wall second
BACKLOG_FILES = 20
BACKLOG_TICKS_PER_FILE = 5_000
BAR_US = 5 * 60 * 1_000_000
DELAY_US = 10 * 60 * 1_000_000  # run_live_bars' default watermark delay
LATE_LAG_US = 3 * 3600 * 1_000_000  # far behind any watermark the stream can hold
START_US = 1_710_000_000 * 1_000_000 // BAR_US * BAR_US
WAIT_S = 60.0

BAR_SQL = """
SELECT symbol, time_bucket(INTERVAL '5 minutes', ts) AS bar_ts,
       arg_min(price, ord) AS open, max(price) AS high, min(price) AS low,
       arg_max(price, ord) AS close, count(*) AS volume
FROM (SELECT *, epoch_us(ts)::HUGEINT * 100000000 + event_id AS ord
      FROM (SELECT DISTINCT ON (symbol, event_id) * FROM read_parquet('{landing}/*.parquet')))
WHERE event_id NOT IN (SELECT id FROM late)
GROUP BY 1, 2
"""


def tick_schema():
    from quant_market_data_pipeline_spark.streaming.bars_stream import TICK_SCHEMA

    return TICK_SCHEMA


def land(stage: str, landing: str, f: gen.TickFile) -> float:
    os.rename(os.path.join(stage, f.name), os.path.join(landing, f.name))
    return time.time()


def wait_for(cond, timeout_s: float = WAIT_S, what: str = "") -> None:
    t_end = time.time() + timeout_s
    while not cond():
        if time.time() > t_end:
            raise TimeoutError(f"live_bars: timed out waiting for {what}")
        time.sleep(0.02)


def rows_consumed(batches) -> int:
    return sum(b.input_rows for b in batches)


def consumed_files(files: list[gen.TickFile], rows: int) -> list[gen.TickFile]:
    """The files a stream has consumed after reading ``rows`` input rows
    (the source takes whole files, in landing order)."""
    out, acc = [], 0
    for f in files:
        acc += f.rows
        if acc > rows:
            break
        out.append(f)
    return out


def read_lake(lake: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    rows = con.execute(
        "SELECT symbol, CAST(bar_ts AS TIMESTAMP), open, high, low, close, volume, batch_id "
        f"FROM read_parquet('{lake}/*/*/*/*.parquet', hive_partitioning = true)"
    ).fetchall()
    con.close()
    return rows


def expected_bars(landing: str, late_ids: list[int]) -> dict[tuple, tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE late (id BIGINT)")
    if late_ids:
        con.executemany("INSERT INTO late VALUES (?)", [(i,) for i in late_ids])
    rows = con.execute(BAR_SQL.format(landing=landing)).fetchall()
    con.close()
    return {(r[0], r[1]): r[2:] for r in rows}


def check_bars(lake_rows: list[tuple], want: dict[tuple, tuple], final_before: int) -> tuple[int, list[str]]:
    """Compare lake bars with the batch answer for windows whose end is at
    or before ``final_before`` (event-time microseconds); returns (bars
    checked, failures)."""
    errs: list[str] = []
    seen: set[tuple] = set()
    for r in lake_rows:
        key = (r[0], r[1])
        if key in seen:
            errs.append(f"duplicate bar {key}")
        seen.add(key)
        exp = want.get(key)
        if exp is None or tuple(exp) != tuple(r[2:7]):
            errs.append(f"bar {key}: lake={r[2:7]} batch={exp}")
    cutoff = gen.EPOCH + dt.timedelta(microseconds=final_before - BAR_US)
    for key in want:
        if key[1] <= cutoff and key not in seen:
            errs.append(f"missing final bar {key}")
    return len(seen | {k for k in want if k[1] <= cutoff}), errs


class Generator(threading.Thread):
    """Lands each file at its due time; records when it actually landed."""

    def __init__(self, stage: str, landing: str, files: list[gen.TickFile]) -> None:
        super().__init__(name="tick-generator", daemon=True)
        self.stage, self.landing, self.files = stage, landing, files
        self.due: list[float] = []
        self.landed: list[float] = []

    def run(self) -> None:
        t0 = time.time()
        for k, f in enumerate(self.files):
            due = t0 + k * FILE_EVERY_S
            time.sleep(max(0.0, due - time.time()))
            self.due.append(due)
            self.landed.append(land(self.stage, self.landing, f))


def run_workload(run: Run) -> dict:
    from quant_market_data_pipeline_spark.streaming.pipeline import run_live_bars

    spark = run.start_spark()
    run.load_registry()
    stage, landing = run.path("stage"), run.path("landing")
    os.makedirs(stage)
    os.makedirs(landing)
    n_live = max(1, int(round(run.seconds / FILE_EVERY_S)))
    common = dict(symbols=SYMBOLS, event_us_per_file=EVENT_US_PER_FILE, late_lag_us=LATE_LAG_US)
    backlog = gen.gen_ticks(stage, run.seed, BACKLOG_FILES, BACKLOG_TICKS_PER_FILE,
                            start_us=START_US, first_id=0, late_from=BACKLOG_FILES,
                            prefix="backlog", **common)
    live = gen.gen_ticks(stage, run.seed, n_live, BASE_TICKS_PER_FILE,
                         start_us=START_US + BACKLOG_FILES * EVENT_US_PER_FILE,
                         first_id=10_000_000, late_from=0, prefix="live", **common)
    warm = gen.gen_ticks(stage, run.seed, 1, BASE_TICKS_PER_FILE, start_us=START_US, first_id=0,
                         late_from=1, prefix="warm", **common)
    backlog_rows = sum(f.rows for f in backlog)
    run.inputs = {"symbols": SYMBOLS, "clock": CLOCK, "backlog_files": len(backlog),
                  "backlog_ticks": backlog_rows, "live_files": n_live,
                  "live_ticks": sum(f.rows for f in live),
                  "planted_late": sum(len(f.late_ids) for f in live)}
    root = run.spans.open(run.workload)

    # Warm-up: the same pipeline drained once over a few files in its own dirs.
    w = run.spans.open("warmup", root)
    os.makedirs(run.path("warm_landing"))
    for f in warm:
        land(stage, run.path("warm_landing"), f)
    q = run_live_bars(spark, run.path("warm_landing"), run.path("warm_lake"), run.path("warm_ckpt"),
                      schema=tick_schema(), fmt="parquet", available_now=True)
    q.awaitTermination(WAIT_S)
    q.stop()
    run.spans.close(w)

    pre_landed = time.time()
    for f in backlog:
        land(stage, landing, f)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    lake, ckpt = run.path("lake"), run.path("ckpt")
    run.mark_setup_done()

    catch = run.spans.open("catchup", root)
    t_start = time.time()
    q = run_live_bars(spark, landing, lake, ckpt, schema=tick_schema(), fmt="parquet")
    run_id = str(q.runId)

    def reported() -> list:
        return listener.snapshot(run_id)

    try:
        wait_for(lambda: rows_consumed(reported()) >= backlog_rows, what="the backlog")
        so_far = reported()
        drained = next(b for b, rows in zip(so_far, accumulate(b.input_rows for b in so_far))
                       if rows >= backlog_rows)
        catchup_s = drained.commit_s - t_start
        run.spans.close(catch)

        base = run.spans.open("base_rate", root)
        gen_thread = Generator(stage, landing, live)
        gen_thread.start()
        gen_thread.join(run.seconds + WAIT_S)
        # A file's bars are emitted by the batch after the one that reads it.
        # Stop once the batch after the first commit past the last landing
        # has reported; bars not final by then are out of both the latency
        # sample and the check.
        t_gen_end = time.time()
        wait_for(lambda: any(b.commit_s >= t_gen_end for b in reported()),
                 what="a commit after the last landing")
        first = min(b.batch_id for b in reported() if b.commit_s >= t_gen_end)
        wait_for(lambda: any(b.batch_id > first for b in reported()),
                 what="the batch emitting its bars")
        run.spans.close(base)
    finally:
        spark.streams.removeListener(listener)
        q.stop()
    batches = reported()
    commit = {b.batch_id: b.commit_s for b in batches}

    chk = run.spans.open("check", root)
    # a batch may commit between removing the listener and stopping; its
    # bars all end after the last reported watermark, so they are left out
    lake_rows = [r for r in read_lake(lake) if r[-1] in commit]
    last_wm_us = int(round(batches[-1].watermark_s * 1_000_000))
    want = expected_bars(landing, [i for f in live for i in f.late_ids])
    n_bars, errs = check_bars(lake_rows, want, last_wm_us)
    for _ in range(n_bars - len(errs)):
        run.tally.record(True)
    for e in errs:
        run.tally.record(False, e)
    consumed = consumed_files(backlog + live, rows_consumed(batches))
    planted = sum(len(f.late_ids) for f in consumed)
    dropped = sum(b.dropped_by_watermark for b in batches)
    run.tally.record(dropped == planted, f"dropped by watermark {dropped} != planted {planted}")
    run.spans.close(chk)
    run.spans.close(root)

    backlog_end = max(f.max_ts_us for f in backlog)
    latencies = []
    for _, bar_ts, *_, batch_id in lake_rows:
        final_at = (bar_ts - gen.EPOCH) // dt.timedelta(microseconds=1) + BAR_US + DELAY_US
        if final_at > backlog_end:  # bars made final by the backlog have no landing time
            k = next(k for k, f in enumerate(live) if f.max_ts_us >= final_at)
            latencies.append(commit[batch_id] - gen_thread.landed[k])
    e2e = {
        "latency_p50_s": median(latencies),
        "throughput_per_s": backlog_rows / catchup_s,
    }
    named = {
        "bar_latency_p50_s": (e2e["latency_p50_s"], "s", len(latencies)),
        "bar_latency_p95_s": (percentile(latencies, 95), "s", len(latencies)),
        "catchup_ticks_per_s": (e2e["throughput_per_s"], "ticks/s", 1),
    }
    layer: dict[str, float] = {}
    if run.trace:
        run.stop_spark()
        stats = parse_event_log(run.event_log(), [("batch", b.start_s, b.commit_s) for b in batches])
        for b, st in zip(batches, stats):
            run.spans.add_spark(run.spans.add("micro_batch", b.start_s, b.commit_s, root,
                                              batch_id=b.batch_id), st)
        layer.update(layer_from_ops(stats))
        layer.update(stream_layer(batches, lake, backlog, live, pre_landed, gen_thread))
    return {"e2e": e2e, "named": named, "layer": layer}


def stream_layer(batches, lake, backlog, live, pre_landed, gen_thread) -> dict[str, float]:
    """Per-layer metrics of the stream, from its progress reports, the lake
    it wrote and the generator's landing times."""

    def phase(name: str) -> float:
        return median([b.duration_ms.get(name, 0) for b in batches])

    files = [os.path.join(d, f) for d, _, fs in os.walk(lake) for f in fs if f.endswith(".parquet")]
    per_batch: dict[str, int] = {}
    for path in files:
        part = next(p for p in path.split(os.sep) if p.startswith("batch_id="))
        per_batch[part] = per_batch.get(part, 0) + 1
    # files landed but not yet consumed when each batch started
    landed_at = [pre_landed] * len(backlog) + gen_thread.landed
    ends = list(accumulate(f.rows for f in backlog + live))
    backlog_max, consumed = 0, 0
    for b in batches:
        n_landed = sum(t <= b.start_s for t in landed_at)
        n_done = sum(e <= consumed for e in ends)
        backlog_max = max(backlog_max, n_landed - n_done)
        consumed += b.input_rows
    return {
        "streaming.trigger_ms_p50": phase("triggerExecution"),
        "streaming.add_batch_ms_p50": phase("addBatch"),
        "streaming.wal_commit_ms_p50": phase("walCommit"),
        "streaming.commit_offsets_ms_p50": phase("commitOffsets"),
        "streaming.query_planning_ms_p50": phase("queryPlanning"),
        "streaming.latest_offset_ms_p50": phase("latestOffset"),
        "streaming.batches": len(batches),
        "streaming.state_rows_max": max(b.state_rows for b in batches),
        "streaming.state_mem_bytes_max": max(b.state_mem_bytes for b in batches),
        "streaming.late_rows_dropped": sum(b.dropped_by_watermark for b in batches),
        "streaming.backlog_files_max": backlog_max,
        "streaming.sink_files_per_batch": median(list(per_batch.values())),
        "sources.sink_files": len(files),
        "sources.sink_bytes": sum(os.path.getsize(f) for f in files),
        "gen.lag_max_s": max(lt - d for lt, d in zip(gen_thread.landed, gen_thread.due)),
    }
