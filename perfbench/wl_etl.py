"""daily_etl: back-to-back ``run_daily_etl`` calls over one seeded landing.

Every call re-reads the same bronze JSON documents and re-writes the same
lake partitions (dynamic partition overwrite), the source pipeline's
nightly reload.  Each call's DQ summary is checked against the truth the
generator planted; the lake left by the last call is checked row by row
against an independent DuckDB recomputation of spread and z-score.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import pyarrow as pa

from perfbench import gen
from perfbench.harness import Run, median
from perfbench.trace import layer_from_ops, parse_event_log

N_PAIRS = 5
N_DAYS = 2  # 2024-03-08 and 2024-03-11: either side of the US DST change
EXPECTED_BARS = gen.RTH_BARS
TOLERANCE = 2

TRUTH_SQL = """
WITH aligned AS (
  SELECT p.sym1, p.sym2, p.sym1 || '_' || p.sym2 AS pair_name, b1.ts,
         b1.close AS c1, b2.close AS c2, ln(b1.close) - ln(b2.close) AS spread
  FROM pairs p
  JOIN bars b1 ON b1.symbol = p.sym1
  JOIN bars b2 ON b2.symbol = p.sym2 AND b2.ts = b1.ts
), scored AS (
  SELECT *, avg(spread) OVER w AS m, stddev_samp(spread) OVER w AS s, count(*) OVER w AS c
  FROM aligned
  WINDOW w AS (PARTITION BY pair_name ORDER BY ts ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
), z AS (
  SELECT *, CASE WHEN c >= 30 THEN (spread - m) / NULLIF(s, 0.0) END AS zr FROM scored
)
SELECT sym1 AS symbol, ts, c1 AS close, spread, zr AS z_score FROM z
UNION ALL
SELECT sym2, ts, c2, -spread, -zr FROM z
"""


def expected_output(bronze: gen.Bronze) -> tuple[list[tuple], dict]:
    """Lake rows and DQ summary recomputed by DuckDB from the generator's
    truth bars (parseable documents, RTH only)."""
    con = duckdb.connect()
    syms, tss, closes = zip(*bronze.truth_bars)
    con.register("bars", pa.table({"symbol": list(syms), "ts": pa.array(tss, pa.timestamp("us")),
                                   "close": list(closes)}))
    con.register("pairs", pa.table({"sym1": [a for a, _ in bronze.pairs],
                                    "sym2": [b for _, b in bronze.pairs]}))
    rows = con.execute(TRUTH_SQL).fetchall()
    counts = con.execute(
        f"SELECT symbol, CAST(ts AS DATE) AS d, count(*) FROM ({TRUTH_SQL}) GROUP BY 1, 2"
    ).fetchall()
    con.close()
    missing = [max(0, EXPECTED_BARS - n) for _, _, n in counts]
    status = ["OK" if m == 0 else "WARN" if m <= TOLERANCE else "FAIL" for m in missing]
    summary = {
        "n_checks": len(counts), "n_ok": status.count("OK"), "n_warn": status.count("WARN"),
        "n_fail": status.count("FAIL"), "max_missing": max(missing), "rows": len(rows),
        "run_status": "FAIL" if "FAIL" in status else "WARN" if "WARN" in status else "OK",
    }
    summary["ok"] = summary["run_status"] != "FAIL"
    return rows, summary


def _row_key(r: tuple) -> tuple:
    return (r[0], r[1], r[3], -math.inf if r[4] is None else r[4])


def _close(a, b, tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)


def check_lake(lake_rows: list[tuple], want_rows: list[tuple]) -> list[str]:
    """Row-by-row comparison of (symbol, ts, close, spread, z_score)."""
    if len(lake_rows) != len(want_rows):
        return [f"rowcount: lake={len(lake_rows)} truth={len(want_rows)}"]
    errs = []
    for got, want in zip(sorted(lake_rows, key=_row_key), sorted(want_rows, key=_row_key)):
        same = (got[0], got[1]) == (want[0], want[1]) and all(
            _close(g, w, 1e-6) for g, w in zip(got[2:], want[2:]))
        if not same:
            errs.append(f"lake={got} truth={want}")
            if len(errs) >= 3:
                break
    return errs


def read_lake(lake: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    rows = con.execute(
        "SELECT symbol, CAST(timestamp AS TIMESTAMP), CAST(close AS DOUBLE), spread, z_score "
        f"FROM read_parquet('{lake}/*/*.parquet', hive_partitioning = true)"
    ).fetchall()
    con.close()
    return rows


def check_summary(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)!r} want {v!r}" for k, v in want.items() if got.get(k) != v]


def sink_files(lake: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(lake) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def run_workload(run: Run) -> dict:
    from quant_market_data_pipeline_spark.plans.daily_etl import run_daily_etl

    spark = run.start_spark()
    run.load_registry()
    bronze = gen.gen_bronze(run.work, run.seed, N_PAIRS, N_DAYS)
    lake = run.path("lake")
    run.inputs = {"pairs": N_PAIRS, "days": N_DAYS, "files": bronze.files, "bronze_bytes": bronze.bytes,
                  "bars": bronze.bars, "corrupt_docs": len(bronze.corrupt),
                  "planted_gaps": sum(bronze.gaps.values()), "planted_dups": sum(bronze.dups.values())}
    want_rows, want_summary = expected_output(bronze)
    root = run.spans.open(run.workload)

    def one_call(parent: int) -> int | None:
        op = run.spans.open("run_daily_etl", parent)
        try:
            summary = run_daily_etl(spark, bronze.raw_dir, lake, bronze.pairs,
                                    expected_bars=EXPECTED_BARS, tolerance=TOLERANCE)
        except Exception as e:  # noqa: BLE001 - a failing run is a counted failure
            run.spans.close(op, error=f"{type(e).__name__}: {e}"[:300])
            run.tally.record(False, f"run_daily_etl raised {type(e).__name__}")
            return None
        run.spans.close(op)
        errs = check_summary(summary, want_summary)
        run.tally.record(not errs, f"summary: {errs[:3]}")
        return op

    warm = run.spans.open("warmup", root)
    one_call(warm)
    run.spans.close(warm)
    run.mark_setup_done()

    timed = run.spans.open("timed", root)
    t_end = time.time() + run.seconds
    calls = []
    while time.time() < t_end:
        op = one_call(timed)
        if op is not None:
            calls.append(op)
    run.spans.close(timed)

    chk = run.spans.open("check", root)
    errs = check_lake(read_lake(lake), want_rows)
    run.tally.record(not errs, f"lake: {errs}")
    run.spans.close(chk)
    run.spans.close(root)

    walls = [run.spans.items[op].ms / 1000.0 for op in calls]
    e2e = {
        "latency_p50_s": median(walls),
        "throughput_per_s": bronze.bars / median(walls),
    }
    named = {"etl_bars_per_s": (e2e["throughput_per_s"], "bars/s", len(walls))}
    layer: dict[str, float] = {}
    if run.trace:
        run.stop_spark()
        stats = parse_event_log(run.event_log(), [
            ("run_daily_etl", run.spans.items[op].start, run.spans.items[op].end) for op in calls])
        for op, st in zip(calls, stats):
            run.spans.add_spark(op, st)
        layer.update(layer_from_ops(stats))
        layer["sources.bronze_read_amp"] = (
            sum(s.counts["input_bytes"] for s in stats) / len(stats) / bronze.bytes)
        layer["sources.sink_files"], layer["sources.sink_bytes"] = sink_files(lake)
    return {"e2e": e2e, "named": named, "layer": layer}
