"""Tests of the benchmark itself: inputs, checks, trace parsing, and the
timed action of the query workloads.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import io
import json
import os
from contextlib import redirect_stdout

import pytest

from perfbench import gen
from perfbench.harness import Run, Tally, emit
from perfbench.trace import parse_event_log


def _generate_all(root: str, seed: int) -> None:
    gen.gen_bronze(root, seed, n_pairs=2, n_days=2)
    gen.gen_tables(root, seed, orders=200, events=300, docs=60, vecs=60, near_dup_share=0.2)
    os.makedirs(os.path.join(root, "ticks"))
    gen.gen_ticks(os.path.join(root, "ticks"), seed, 3, 50, symbols=4, event_us_per_file=10**8,
                  start_us=0, first_id=0, late_from=0, late_lag_us=10**9, prefix="t")


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    _generate_all(a, 7)
    _generate_all(b, 7)
    _generate_all(c, 8)
    names = _files(a)
    assert names == _files(b) and len(names) > 10
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    assert filecmp.cmpfiles(a, c, [n for n in names if n.startswith("tables")], shallow=False)[1]


@pytest.fixture(scope="module")
def registry():
    from quant_market_data_pipeline_spark.queries import load_all

    return load_all()


def test_planted_wrong_row_counts_as_failure(tmp_path, registry):
    """The oracle's own answer passes its check; the same answer with one
    value changed fails it, and the failure shows in error_rate."""
    from perfbench.wl_queries import CollectedRows, Oracle

    sf_dir, _ = gen.gen_tables(str(tmp_path), 3, orders=300, events=400, docs=50, vecs=50,
                               near_dup_share=0.2)
    oracle = Oracle(sf_dir, registry)
    res = oracle.con.execute(registry["bars_5min_ohlcv"].oracle)
    cols, rows = [d[0] for d in res.description], res.fetchall()
    tally = Tally()
    for out in (rows, [rows[0][:2] + (rows[0][2] + 1.0,) + rows[0][3:]] + rows[1:]):
        tally.record(not oracle.check("bars_5min_ohlcv", CollectedRows(cols, out)))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.error_rate > 0


def test_corpus_queries_answer_rows(tmp_path, registry):
    """Every timed corpus query answers rows on the generated corpus (the
    audits pick their sample by id), and an empty answer fails its check
    instead of passing trivially."""
    from perfbench.wl_queries import CORPUS, CollectedRows, Oracle

    sf_dir, _ = gen.gen_tables(str(tmp_path), 3, orders=100, events=100, docs=300, vecs=300,
                               near_dup_share=0.2)
    oracle = Oracle(sf_dir, registry)
    for name in CORPUS:
        assert oracle.con.execute(registry[name].oracle).fetchall(), name
    oracle.answers["ann_lsh_topk"] = ([], ["query_id"])
    assert oracle.check("ann_lsh_topk", CollectedRows(["query_id"], []))


def test_etl_check_catches_a_wrong_lake_row(tmp_path):
    from perfbench.wl_etl import check_lake, check_summary, expected_output

    bronze = gen.gen_bronze(str(tmp_path), 5, n_pairs=2, n_days=3)
    rows, summary = expected_output(bronze)
    assert summary["rows"] == len(rows) > 0 and summary["n_checks"] == 4 * 3 - 2  # one corrupt doc
    assert check_lake(list(rows), rows) == []
    i = next(i for i, r in enumerate(rows) if r[4] is not None)
    bad = list(rows)
    bad[i] = bad[i][:4] + (bad[i][4] + 0.01,)
    assert check_lake(bad, rows)
    assert check_summary({**summary, "n_warn": summary["n_warn"] + 1}, summary)


def test_live_check_catches_wrong_and_duplicate_bars():
    import datetime as dt

    from perfbench.wl_live import BAR_US, check_bars

    t0 = dt.datetime(2024, 1, 1)
    want = {("A", t0): (1.0, 2.0, 0.5, 1.5, 3), ("A", t0 + dt.timedelta(minutes=5)): (1.0, 1.0, 1.0, 1.0, 1)}
    final_before = (t0 - gen.EPOCH) // dt.timedelta(microseconds=1) + 2 * BAR_US
    good = [(k[0], k[1], *v, 0) for k, v in want.items()]
    assert check_bars(good, want, final_before) == (2, [])
    assert check_bars(good + good[:1], want, final_before)[1]  # duplicate (symbol, bar_ts)
    assert check_bars(good[1:], want, final_before)[1]  # missing final bar
    assert check_bars([good[0][:3] + (9.9,) + good[0][4:]] + good[1:], want, final_before)[1]


def test_event_log_attribution(tmp_path):
    """Jobs, stages and tasks land in the operation window they were
    submitted in; work outside every window is ignored."""
    def task(stage: int, run_ms: int) -> dict:
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms + 5, "Accumulables": [
                    {"Name": "data sent to Python workers", "Update": 7}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2_000_000,
                                 "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 10}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1100}},
        task(0, 50), task(0, 30),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 5000}},
        task(1, 10),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    (op,) = parse_event_log(str(path), [("q", 1.0, 2.0)])
    c = op.counts
    assert (c["jobs"], c["stages"], c["tasks"], c["scan_tasks"]) == (1, 1, 2, 2)
    assert (c["run_ms"], c["cpu_ms"], c["task_overhead_ms"], c["python_bytes_out"]) == (80, 4.0, 10, 14)
    assert op.driver_idle_ms == 1000 - 300


def test_result_line_contract(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = Run("daily_etl", 1, 1.0, trace=False)
    try:
        run.tally.record(True)
        out = io.StringIO()
        with redirect_stdout(out):
            emit(run, {"setup_s": (1.5, "s")}, {}, {"plans.jobs": (3.0, "count")})
        result = json.loads(out.getvalue().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}
        assert result["correct"] is True
    finally:
        run.cleanup()
    assert not (tmp_path / ".perfbench_work").exists()


def test_flagship_timed_action_keeps_window(tmp_path, monkeypatch, registry):
    """The timed action materializes every column, so the rolling Window
    stays in the executed plan; count() would let Catalyst prune it."""
    from perfbench.wl_queries import materialize

    monkeypatch.chdir(tmp_path)
    run = Run("window_check", 1, 1.0, trace=False)
    try:
        spark = run.start_spark()
        sf_dir, _ = gen.gen_tables(run.work, 1, orders=200, events=2000, docs=20, vecs=20,
                                   near_dup_share=0.0)
        df = registry["flagship_pair_zscore"].spark(spark, sf_dir)
        assert len(materialize(df)) > 0
        assert "Window" in df._jdf.queryExecution().executedPlan().toString()
        counted = df.groupBy().count()
        counted.collect()
        assert "Window" not in counted._jdf.queryExecution().executedPlan().toString()
    finally:
        run.stop_spark()
        run.cleanup()
