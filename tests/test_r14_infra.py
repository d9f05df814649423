"""Round-14 infra tests: plan-fingerprint v4, warm_min lane gating.

The r14 driver-window pin lives here too once the window is cut (the
r10->r13 pattern); see test_r14_window_is_first_50 below.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    sys.path.insert(0, REPO)
    import bench

    return bench


def test_plan_fp_v4_is_truncation_invariant():
    """The missing_buckets_audit 'flap' of r12/r13 was not an AQE
    re-plan: the two judge-diffed variants are byte-identical except
    where the plan printer TRUNCATES the FileScan DataFilters list, and
    the raw expression-id width (#123 vs #1234) shifts that cut point.
    v4 excises the DataFilters span (its predicates appear untruncated
    and id-free in PushedFilters), so two executions of the same plan
    hash identically regardless of the session's id counter; v3 is kept
    verbatim for old-artifact comparison and must still differ —
    the difference IS the phantom-flap mechanism."""
    bench = _bench()
    a = (
        "+- FileScan parquet [ts#123,event_type#124] Batched: true, "
        "DataFilters: [isnotnull(event_type#123), isnotnull(timestamp_"
        "micros((unix_micros(cast(ts#123 as timestamp)) - (u..., "
        "Format: Parquet, PushedFilters: [IsNotNull(event_type)], "
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"
    )
    b = (
        "+- FileScan parquet [ts#1234,event_type#1235] Batched: true, "
        "DataFilters: [isnotnull(event_type#1234), isnotnull(timestamp"
        "_micros((unix_micros(cast(ts#1234 as timestamp)) - ..., "
        "Format: Parquet, PushedFilters: [IsNotNull(event_type)], "
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"
    )
    assert bench._normalize_plan_str(a, 4) == bench._normalize_plan_str(
        b, 4
    )
    assert bench._normalize_plan_str(a, 3) != bench._normalize_plan_str(
        b, 3
    )
    # the excision must not eat past the DataFilters span
    out = bench._normalize_plan_str(a, 4)
    assert "PushedFilters: [IsNotNull(event_type)]" in out
    assert "ReadSchema" in out


def test_plan_fp_version_bumped_and_old_formulas_kept():
    bench = _bench()
    assert bench.PLAN_FP_VERSION == 4
    src = open(os.path.join(REPO, "bench.py")).read()
    # current plans are also fingerprinted under v1/v2/v3 so a previous
    # artifact recorded under an older formula compares like-for-like
    assert "{1: {}, 2: {}, 3: {}}" in src


def test_lane_gates_compare_unclamped_warm_min():
    """ADVICE r13: the recorded lane wall keeps the warm<=cold clamp,
    but the 1.2x gates must compare the warm-only minimum on both
    sides so a fluke-fast cold reading cannot mask a warm regression."""
    src = open(os.path.join(REPO, "bench.py")).read()
    for cur in (
        '_lane_gate_warm(\n        docscale_warm_min, "docscale_queries"',
        '_lane_gate_warm(\n        tickscale_warm_min, "tickscale_queries"',
        '_lane_gate_warm(sf1_warm_min, "sf1_queries")',
        '_lane_gate_warm(\n        sf1g_warm_min, "sf1grown_queries"',
    ):
        assert cur in src, cur
    # prev side prefers the warm_min artifact key
    assert 'prev_src_key + "_warm_min"' in src
    # and the artifact records the unclamped minima for next round
    for key in (
        '"docscale_queries_warm_min"',
        '"tickscale_queries_warm_min"',
        '"sf1_queries_warm_min"',
        '"sf1grown_queries_warm_min"',
    ):
        assert key in src, key


def _window():
    from quant_market_data_pipeline_spark.queries import (
        _R14_NEW,
        _R14_SAMPLE,
        _R14_TOUCHED,
        load_all,
    )

    return _R14_NEW, _R14_TOUCHED, _R14_SAMPLE, list(load_all())


def test_r14_window_is_live_driver_prefix():
    new, touched_l, sample, names = _window()
    window = new + touched_l + sample
    assert len(window) == 50
    assert len(set(window)) == 50
    assert names[:50] == window


def test_r14_sample_matches_policy():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import staleness_sample as ss

    new, touched_l, sample, names = _window()
    touched = set(new) | set(touched_l)
    k = 50 - len(new) - len(touched_l)
    expected = ss.staleness_sample(14, names, touched, k=k, repo_root=REPO)
    assert sample == expected


def test_r14_window_drains_r7_cohort():
    """Judge directive #3: every query whose latest driver verification
    is r7 (or older) must be in the r14 window."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import staleness_sample as ss

    new, touched_l, sample, names = _window()
    window = set(new) | set(touched_l) | set(sample)
    seen = ss.last_verified_rounds(REPO, before_round=14)
    registered = set(names)
    stale_r7 = {
        n for n, last in seen.items()
        if last <= 7 and n in registered
    }
    missing = stale_r7 - window
    assert not missing, f"r7-stale queries left out: {missing}"


def test_r14_touched_covers_every_query_scratch_site():
    """Every streaming e2e query creates its scratch through
    _query_scratch (the ADVICE r13 liveness-touch refactor), and every
    one of them is in the r14 TOUCHED window.  Checked per registered
    function, on its own source or that of a module helper it calls
    (the crash-recovery runners), so moving shared code out of the
    query bodies cannot break it."""
    import inspect

    from quant_market_data_pipeline_spark import queries as q
    from quant_market_data_pipeline_spark.queries import streaming_e2e as se

    def makes_scratch(fn) -> bool:
        helpers = [
            getattr(se, n)
            for n in fn.__code__.co_names
            if inspect.isfunction(getattr(se, n, None))
            and getattr(se, n).__module__ == se.__name__
        ]
        return any(
            "= _query_scratch(sf_dir" in inspect.getsource(f)
            for f in (fn, *helpers)
        )

    fns = {
        name: spec.spark
        for name, spec in q.load_all().items()
        if spec.spark.__module__ == se.__name__
    }
    assert len(fns) >= 15
    no_scratch = {name for name, fn in fns.items() if not makes_scratch(fn)}
    assert not no_scratch, f"queries bypassing _query_scratch: {no_scratch}"
    window = set(q._R14_NEW) | set(q._R14_TOUCHED)
    missing = set(fns) - window
    assert not missing, f"scratch-refactored queries not in window: {missing}"
