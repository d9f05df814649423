"""Semantic pins for the round-7 research-layer queries.

Oracle equivalence is covered by the DuckDB gate; these tests pin the
math itself on constructed series where the expected numbers are known
in closed form — VPIN bucket arithmetic, bipower jump separation, R/S
antipersistence, attribution weight normalization — plus bounds on the
real testdata for the cross-sectional stats.
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.001"

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, schema=_EVENTS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_vpin_monotone_tape_bucket_arithmetic(spark, tmp_path):
    """A strictly rising 250-tick tape: first tick is side 0, the rest
    are +1 — bucket 0 has oi_frac 49/50, buckets 1-4 exactly 1.0, and
    the first full VPIN window averages to 0.996."""
    from quant_market_data_pipeline_spark.queries.quant import (
        q_vpin_toxicity,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), 1, "x", float(i + 1), None)
        for i in range(250)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r.bucket_id: r for r in q_vpin_toxicity(spark, sf).collect()}
    assert len(got) == 5
    assert got[0].oi_frac == 0.98 and got[0].n_ticks == 50
    for b in range(1, 5):
        assert got[b].oi_frac == 1.0
    assert all(got[b].vpin is None for b in range(4))
    assert got[4].vpin == 0.996


def test_bipower_separates_jump_day(spark, tmp_path):
    """Day 1: alternating +/-0.001 log returns (BV > RV -> jump share
    clamps to 0).  Day 2: same tape plus one +0.5 log jump — RV is
    dominated by the jump that BV is robust to, so the jump share
    exceeds 0.9."""
    from quant_market_data_pipeline_spark.queries.quant import (
        q_bipower_jump_stats,
    )

    rows = []
    eid = 0
    for day, jump_at in ((1, None), (2, 10)):
        logp = math.log(100.0)
        base = dt.datetime(2024, 1, day)
        for i in range(21):
            if i > 0:
                logp += 0.5 if i == jump_at else (0.001 if i % 2 else -0.001)
            rows.append(
                (eid, base + dt.timedelta(minutes=i), 1, "x",
                 math.exp(logp), None)
            )
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.trading_day.isoformat(): r
        for r in q_bipower_jump_stats(spark, sf).collect()
    }
    assert got["2024-01-01"].jump_frac == 0.0
    assert got["2024-01-02"].jump_frac > 0.9
    # BV robustness: the jump blows RV up by orders of magnitude while
    # BV (which the jump enters only via two cross-terms) stays tiny
    # relative to it
    assert got["2024-01-02"].rv > 100 * got["2024-01-01"].rv
    assert got["2024-01-02"].bv < got["2024-01-02"].rv / 50


def test_hurst_alternating_returns_flat_rs(spark, tmp_path):
    """Perfectly antipersistent daily returns (+a, -a, ...) give R/S = 1
    for EVERY block size (range a, stddev a), so the log-log slope — the
    Hurst estimate — is exactly 0 across all three sizes."""
    from quant_market_data_pipeline_spark.queries.risk import (
        q_hurst_rs_exponent,
    )

    rows = []
    logp = math.log(100.0)
    for i in range(33):
        if i > 0:
            logp += 0.01 if i % 2 else -0.01
        rows.append(
            (i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=i), 1,
             "x", math.exp(logp), None)
        )
    sf = _write_events(spark, tmp_path, rows)
    rows_out = q_hurst_rs_exponent(spark, sf).collect()
    assert len(rows_out) == 1
    assert rows_out[0].n_sizes == 3
    assert rows_out[0].hurst == 0.0


def test_attribution_weights_normalize_per_purchase(spark, tmp_path):
    """One purchase of 100 with touches at age 0 (w=1), 1 (w=1/2) and 5
    days (w=1/32); a 9.5-day-old touch is outside the lookback.  Credits
    must split 100 exactly by normalized dyadic weights."""
    from quant_market_data_pipeline_spark.queries.core import (
        q_attribution_time_decay,
    )

    p_ts = dt.datetime(2024, 1, 10, 12)
    rows = [
        (1, p_ts, 7, "purchase", 100.0, None),
        (2, p_ts - dt.timedelta(days=1), 7, "click", 0.0, None),
        (3, p_ts - dt.timedelta(hours=4), 7, "view", 0.0, None),
        (4, p_ts - dt.timedelta(days=5), 7, "view", 0.0, None),
        (5, p_ts - dt.timedelta(days=9, hours=12), 7, "view", 0.0, None),
        # other-user touch never credited
        (6, p_ts - dt.timedelta(days=1), 8, "click", 0.0, None),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.touch_type: r
        for r in q_attribution_time_decay(spark, sf).collect()
    }
    sw = 1.0 + 0.5 + 1.0 / 32
    assert got["click"].n_touches == 1
    assert got["view"].n_touches == 2
    assert got["click"].credited_value == round(100 * 0.5 / sw, 6)
    assert got["view"].credited_value == round(
        100 * (1.0 + 1.0 / 32) / sw, 6
    )
    # conservation: total credited equals the purchase value
    total = got["click"].credited_value + got["view"].credited_value
    assert abs(total - 100.0) < 1e-5


def test_attribution_plan_has_bounded_window_state(spark):
    """Round-7 judge directive: the per-key RANGE window must NOT
    materialize per-touch arrays (collect_list) — the frame reduces to
    32 scalar conditional counts, so a bot user with millions of
    touches/week cannot inflate any output row."""
    from quant_market_data_pipeline_spark.plans.inspect import (
        executed_plan_str,
    )
    from quant_market_data_pipeline_spark.queries.core import (
        q_attribution_time_decay,
    )

    plan = executed_plan_str(q_attribution_time_decay(spark, SF_DIR))
    assert "collect_list" not in plan
    assert "Join" not in plan  # still the join-free single-scan shape


def test_attribution_frame_boundaries_and_mod16_exactness(spark, tmp_path):
    """Microsecond-exact frame membership at both edges, and the mod-16
    slot trick reproduces a brute-force per-touch replication exactly.

    Touch exactly at p_ts - 7d is IN (d=7); one second older is OUT;
    touch exactly at p_ts is IN (d=0); one second later is OUT.  A
    same-day-as-boundary touch with time-of-day below the purchase's is
    OUT even though its calendar day is within [p_day-7, p_day] — the
    case a day-granular pre-aggregation would get wrong.
    """
    import random

    p_ts = dt.datetime(2024, 3, 15, 12, 0, 0)
    rows = [
        (1, p_ts, 7, "purchase", 100.0, None),
        (2, p_ts - dt.timedelta(days=7), 7, "click", 0.0, None),  # IN d=7
        (3, p_ts - dt.timedelta(days=7, seconds=1), 7, "click", 0.0, None),
        (4, p_ts, 7, "click", 0.0, None),  # IN d=0
        (5, p_ts + dt.timedelta(seconds=1), 7, "view", 0.0, None),  # OUT
        (6, p_ts - dt.timedelta(days=6, hours=23), 7, "view", 0.0, None),
        (7, p_ts - dt.timedelta(days=3), 7, "click", 0.0, None),  # IN d=3
    ]
    # row 6: 6d23h old -> t_ts >= p_ts - 7d (IN), t_day = p_day - 7 -> d=7
    # fuzz layer: 3 users x 60 random events over 20 days, seeded; May
    # dates so fuzz purchases never share a purchase_day with the
    # handcrafted March boundary scenario
    rng = random.Random(80814)
    base = dt.datetime(2024, 5, 1)
    eid = 100
    for _ in range(180):
        eid += 1
        rows.append(
            (
                eid,
                base + dt.timedelta(seconds=rng.randrange(20 * 86400)),
                rng.randrange(10, 13),
                rng.choice(["purchase", "click", "view"]),
                round(rng.uniform(1, 50), 2),
                None,
            )
        )
    sf = _write_events(spark, tmp_path, rows)

    from quant_market_data_pipeline_spark.queries.core import (
        q_attribution_time_decay,
    )

    got = {
        (r.touch_type, r.purchase_day): (r.n_touches, r.credited_value)
        for r in q_attribution_time_decay(spark, sf).collect()
    }

    # brute-force per-touch replication (the collect_list semantics)
    purchases = [r for r in rows if r[3] == "purchase"]
    touches = [r for r in rows if r[3] in ("click", "view")]
    agg: dict[tuple, list] = {}
    for pid, pts, puser, _t, pval, _p in purchases:
        pairs = [
            (t[3], (pts.date() - t[1].date()).days)
            for t in touches
            if t[2] == puser
            and pts - dt.timedelta(days=7) <= t[1] <= pts
        ]
        if not pairs:
            continue
        sw = sum(0.5**d for _typ, d in pairs)
        for typ in ("click", "view"):
            w = sum(0.5**d for tt, d in pairs if tt == typ)
            n = sum(1 for tt, d in pairs if tt == typ)
            if n:
                cur = agg.setdefault((typ, pts.date()), [0, 0.0])
                cur[0] += n
                cur[1] += pval * w / sw
    want = {k: (n, round(v, 6)) for k, (n, v) in agg.items()}
    assert set(got) == set(want)
    for k, (n, credited) in want.items():
        assert got[k][0] == n, k
        # per-pair vs per-leg summation order may differ in the last ulp
        # before rounding; 6dp-rounded values then differ by <= 1e-6
        assert abs(got[k][1] - credited) <= 2e-6, (k, got[k], (n, credited))
    # the handcrafted boundary purchase: clicks d=7,0,3 and view d=7
    n, credited = got[("click", p_ts.date())]
    sw = 1.0 + 0.125 + 2 * 0.0078125
    assert n == 3
    assert credited == round(100.0 * (1.0 + 0.125 + 0.0078125) / sw, 6)
    assert got[("view", p_ts.date())] == (
        1,
        round(100.0 * 0.0078125 / sw, 6),
    )


def test_rank_ic_bounds_and_universe(spark):
    from quant_market_data_pipeline_spark.queries.risk import (
        q_signal_rank_ic,
    )

    rows = q_signal_rank_ic(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_symbols == 5
        assert -1.0001 <= r.rank_ic <= 1.0001


def test_event_study_win_rate_bounded(spark):
    from quant_market_data_pipeline_spark.queries.risk import (
        q_event_study_car,
    )

    for r in q_event_study_car(spark, SF_DIR).collect():
        assert r.n_events >= 1
        assert 0.0 <= r.win_rate <= 1.0
        assert r.mean_car3 is not None


def test_dup_span_coverage_constructed(spark, tmp_path):
    """Two identical 20-token docs are 100% span-duplicated, a disjoint
    doc is 0%, and a doc under 13 tokens emits no row."""
    import pandas as pd

    from quant_market_data_pipeline_spark.queries.llm import (
        q_dup_span_coverage,
    )

    long_a = " ".join(f"w{i}" for i in range(20))
    long_b = " ".join(f"u{i}" for i in range(20))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [long_a, long_a, long_b, "too short to gram"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(long_a), len(long_a), len(long_b), 17],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.doc_id: r
        for r in q_dup_span_coverage(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1].n_grams == 8 and got[1].dup_share == 1.0
    assert got[2].dup_share == 1.0
    assert got[3].n_dup == 0 and got[3].dup_share == 0.0


def test_min_variance_perfect_hedge_closed_form(spark, tmp_path):
    """Two perfectly anti-correlated symbols (B's log price is -A's):
    va = vb = -cov, so the closed form gives w_a = 0.5 exactly, zero
    portfolio variance, and var_reduction equal to the single-asset
    variance."""
    from quant_market_data_pipeline_spark.queries.risk import (
        q_min_variance_pair_weights,
    )

    rows = []
    logp = 0.0
    for i in range(31):
        if i > 0:
            logp += 0.01 if i % 2 else -0.01
        ts = dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=i)
        rows.append((2 * i, ts, 1, "aaa", math.exp(logp), None))
        rows.append((2 * i + 1, ts, 1, "bbb", math.exp(-logp), None))
    sf = _write_events(spark, tmp_path, rows)
    out = q_min_variance_pair_weights(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.sym_a, r.sym_b) == ("aaa", "bbb")
    assert r.va == r.vb == -r.cab
    assert r.w_a == 0.5
    assert r.port_var == 0.0
    assert r.var_reduction == r.va


def test_stl_recovers_planted_weekly_seasonality(spark, tmp_path):
    """log price = linear trend + day-of-week pattern: a centered
    7-session MA absorbs the trend plus the pattern mean exactly (each
    dow appears once per window), so residuals vanish to rounding and
    the seasonal estimate matches the centered pattern."""
    from quant_market_data_pipeline_spark.queries.risk import (
        q_stl_decomposition_daily,
    )

    pattern = [0.02, -0.01, 0.03, 0.0, -0.02, 0.01, -0.03]
    pmean = sum(pattern) / 7.0
    rows = []
    for i in range(30):
        lc = 0.001 * i + pattern[i % 7]
        rows.append(
            (i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=i), 1,
             "x", math.exp(lc), None)
        )
    sf = _write_events(spark, tmp_path, rows)
    out = q_stl_decomposition_daily(spark, sf).collect()
    assert len(out) == 24  # 30 days minus 3 incomplete at each edge
    for r in out:
        assert abs(r.residual) <= 2e-6
        assert abs(r.seasonal - (pattern[r.dow] - pmean)) <= 1e-5


def test_embedding_outlier_ranks_planted_extreme(spark, tmp_path):
    """20 unit-pattern vectors plus one at 10x magnitude: the planted
    extreme must rank first with a strictly larger score."""
    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.queries.llm import (
        q_embedding_outlier_scores,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    rows = [
        (i, [1.0 if (i + d) % 2 else -1.0 for d in range(4)], 0)
        for i in range(20)
    ]
    rows.append((20, [10.0, -10.0, 10.0, -10.0], 1))
    spark.createDataFrame(rows, schema=schema).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    out = q_embedding_outlier_scores(spark, str(tmp_path)).collect()
    assert len(out) == 20  # 21 vectors, top-20 cut
    assert out[0].vec_id == 20
    assert out[0].outlier_score > out[1].outlier_score


def test_every_registered_query_documented():
    """COVERAGE.md is the judge's crosswalk: every registered query name
    must appear in it (family tables or the crosswalk appendix)."""
    import os

    from quant_market_data_pipeline_spark.queries import load_all

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md"
    )
    text = open(path).read()
    missing = [n for n in load_all() if n not in text]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_minhash_recall_audit_catches_planted_twins(spark):
    from quant_market_data_pipeline_spark.queries.llm import (
        q_minhash_recall_audit,
    )

    rows = q_minhash_recall_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.5 <= r.jaccard <= 1.0
        assert r.caught in (0, 1)
    # banded 8x2 MinHash at J>=0.5 should catch the large majority
    caught = sum(r.caught for r in rows) / len(rows)
    assert caught >= 0.8


def test_vol_regime_cells_sum_and_persistence(spark):
    from quant_market_data_pipeline_spark.queries.risk import (
        q_vol_regime_transitions,
    )

    rows = q_vol_regime_transitions(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_hh + r.n_hl + r.n_lh + r.n_ll == r.n_transitions
        assert (
            abs(r.persistence - round((r.n_hh + r.n_ll) / r.n_transitions, 4))
            < 1e-9
        )


def test_embedding_outlier_constant_corpus_yields_null_scores(spark, tmp_path):
    """All-constant embeddings: every per-dim sigma rounds to 0, d_eff
    is 0, and the score must be NULL — never an inf/NaN division."""
    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.queries.llm import (
        q_embedding_outlier_scores,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    rows = [(i, [1.0, 1.0, 1.0, 1.0], 0) for i in range(10)]
    spark.createDataFrame(rows, schema=schema).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    out = q_embedding_outlier_scores(spark, str(tmp_path)).collect()
    assert len(out) == 10
    assert all(r.outlier_score is None for r in out)


def test_corwin_schultz_two_day_closed_form(spark, tmp_path):
    """Two constructed days: beta/gamma/spread have closed forms from
    the daily ranges alone (H1=104 L1=100, H2=106 L2=101; the two-day
    envelope is 106/100).  The pair row sits on the FIRST day (lead
    pairing) and reports the raw (unclamped) estimator."""
    from quant_market_data_pipeline_spark.queries.quant import (
        q_corwin_schultz,
    )

    base = dt.datetime(2024, 3, 4)
    day1 = [(1, base, 1, "X", 100.0, None),
            (2, base + dt.timedelta(minutes=5), 1, "X", 104.0, None),
            (3, base + dt.timedelta(minutes=10), 1, "X", 102.0, None)]
    d2 = base + dt.timedelta(days=1)
    day2 = [(4, d2, 1, "X", 101.0, None),
            (5, d2 + dt.timedelta(minutes=5), 1, "X", 106.0, None)]
    sf = _write_events(spark, tmp_path, day1 + day2)
    rows = q_corwin_schultz(spark, sf).collect()
    assert len(rows) == 1  # last day has no next-day partner
    r = rows[0]
    assert r.trading_day == base.date()
    hl2_1 = math.log(104.0 / 100.0) ** 2
    hl2_2 = math.log(106.0 / 101.0) ** 2
    beta = hl2_1 + hl2_2
    gamma = math.log(106.0 / 100.0) ** 2
    denom = 3.0 - 2.0 * math.sqrt(2.0)
    a = (math.sqrt(2 * beta) - math.sqrt(beta)) / denom - math.sqrt(
        gamma / denom
    )
    s = 2 * (math.exp(a) - 1) / (1 + math.exp(a))
    assert r.beta == round(beta, 6)
    assert r.gamma == round(gamma, 6)
    assert r.cs_spread == round(s, 6)


def test_corwin_schultz_negative_estimate_reported_raw(spark, tmp_path):
    """A huge two-day envelope with tiny single-day ranges drives alpha
    negative; the query reports the raw negative estimator (the clamp
    is a consumer policy, per the docstring)."""
    from quant_market_data_pipeline_spark.queries.quant import (
        q_corwin_schultz,
    )

    base = dt.datetime(2024, 3, 4)
    rows_in = [
        (1, base, 1, "X", 100.0, None),
        (2, base + dt.timedelta(minutes=5), 1, "X", 100.5, None),
        (3, base + dt.timedelta(days=1), 1, "X", 150.0, None),
        (4, base + dt.timedelta(days=1, minutes=5), 1, "X", 150.7, None),
    ]
    sf = _write_events(spark, tmp_path, rows_in)
    r = q_corwin_schultz(spark, sf).collect()[0]
    assert r.cs_spread < 0


def test_purged_kfold_roles_partition_and_embargo(spark):
    """sf0.001 has 30 trading days -> 5 folds of 6: the role matrix is
    exactly days x folds, each fold tests its own 6 days, and no train
    day sits inside the 3-day embargo band around its eval fold."""
    from quant_market_data_pipeline_spark.queries.pipeline_ops import (
        q_purged_kfold,
    )

    rows = q_purged_kfold(spark, SF_DIR).collect()
    days = {r.trading_day for r in rows}
    assert len(rows) == len(days) * 5
    by_fold = {}
    for r in rows:
        by_fold.setdefault(r.eval_fold, []).append(r)
    assert sorted(by_fold) == [1, 2, 3, 4, 5]
    for fold, frows in by_fold.items():
        test_days = sorted(r.trading_day for r in frows if r.role == "test")
        assert len(test_days) == 6
        lo, hi = test_days[0], test_days[-1]
        for r in frows:
            gap_ok = (
                r.trading_day < lo - dt.timedelta(days=3)
                or r.trading_day > hi + dt.timedelta(days=3)
            )
            if r.role == "train":
                assert gap_ok, (fold, r.trading_day)
            elif r.role == "purged":
                assert not gap_ok and not lo <= r.trading_day <= hi


def test_hard_negatives_planted_cross_label_twin(spark, tmp_path):
    """Two near-identical vectors with different labels land in the same
    LSH bucket and must be each other's #1 hard negative; a same-label
    twin must never appear as a negative."""
    import pyspark.sql.types as T2

    from quant_market_data_pipeline_spark.queries.llm import (
        q_hard_negative_mining,
    )

    dim = 64
    va = [1.0] + [0.0] * (dim - 1)
    vb = [0.999] + [0.012] + [0.0] * (dim - 2)
    vc = [0.998] + [-0.01] + [0.0] * (dim - 2)  # same label as A
    schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField("embedding", T2.ArrayType(T2.FloatType())),
            T2.StructField("label", T2.IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, va, 0), (2, vb, 1), (3, vc, 0)], schema=schema
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = q_hard_negative_mining(spark, str(tmp_path)).collect()
    got = {(r.anchor_id, r.rn): r for r in out}
    assert got[(1, 1)].negative_id == 2 and got[(1, 1)].negative_label == 1
    assert got[(2, 1)].negative_id in (1, 3)
    assert all(r.anchor_label != r.negative_label for r in out)
    # the same-label twin (1,3) never surfaces
    assert not any(
        (r.anchor_id, r.negative_id) in {(1, 3), (3, 1)} for r in out
    )


def test_hard_negatives_bounds_on_fixture(spark):
    from quant_market_data_pipeline_spark.queries.llm import (
        q_hard_negative_mining,
    )

    rows = q_hard_negative_mining(spark, SF_DIR).collect()
    assert rows, "fixture corpus must yield hard negatives"
    per_anchor = {}
    for r in rows:
        assert r.anchor_label != r.negative_label
        assert r.rn in (1, 2)
        assert r.cos_sim <= 1.000001
        per_anchor.setdefault(r.anchor_id, []).append(r.rn)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_anchor.values())


def test_pca_power_iteration_exact_dyadic_case(spark, tmp_path):
    """Three vectors with power-of-two components: every product and sum
    is exact dyadic arithmetic, so y and v1 have closed forms regardless
    of aggregation order."""
    import pyspark.sql.types as T2

    from quant_market_data_pipeline_spark.queries.llm import (
        q_pca_power_iteration,
    )

    dim = 64
    rows = [
        (1, [2.0] + [0.0] * (dim - 1), 0),
        (2, [4.0] + [0.0] * (dim - 1), 1),
        (3, [0.0, 8.0] + [0.0] * (dim - 2), 2),
    ]
    schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField("embedding", T2.ArrayType(T2.FloatType())),
            T2.StructField("label", T2.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.pos: r for r in q_pca_power_iteration(spark, str(tmp_path)).collect()
    }
    assert len(got) == dim
    # s = rowsum/8: 0.25, 0.5, 1.0; y1 = 2*0.25 + 4*0.5 = 2.5; y2 = 8.0
    assert got[1].y_comp == 2.5 and got[2].y_comp == 8.0
    assert all(got[p].y_comp == 0.0 for p in range(3, dim + 1))
    nrm = math.sqrt(2.5**2 + 8.0**2)
    assert got[1].v1 == round(2.5 / nrm, 6)
    assert got[2].v1 == round(8.0 / nrm, 6)


def test_pca_power_iteration_unit_norm_on_fixture(spark):
    from quant_market_data_pipeline_spark.queries.llm import (
        q_pca_power_iteration,
    )

    rows = q_pca_power_iteration(spark, SF_DIR).collect()
    assert len(rows) == 64
    assert abs(sum(r.v1 * r.v1 for r in rows) - 1.0) < 1e-5


def test_newey_west_alternating_series_closed_form(spark, tmp_path):
    """One tick per day, closes alternating 100 <-> 102: returns alternate
    +r/-r so the HAC correction must shrink the variance vs iid (negative
    lag-1 autocovariance); expected values replicated in pure Python."""
    from quant_market_data_pipeline_spark.queries.risk import (
        q_newey_west_tstat,
    )

    base = dt.datetime(2024, 1, 1)
    closes = [100.0, 102.0] * 5  # 10 days
    rows_in = [
        (i, base + dt.timedelta(days=i), 1, "X", c, None)
        for i, c in enumerate(closes)
    ]
    sf = _write_events(spark, tmp_path, rows_in)
    r = q_newey_west_tstat(spark, sf).collect()[0]
    rets = [
        math.log(closes[i] / closes[i - 1]) for i in range(1, len(closes))
    ]
    m = round(sum(rets) / len(rets), 10)
    d = [x - m for x in rets]
    n = len(d)
    g = [
        sum(d[t] * d[t - l] for t in range(l, n)) for l in range(6)
    ]
    import functools, operator
    weighted = functools.reduce(
        operator.add, [(1.0 - l / 6.0) * g[l] for l in range(1, 6)]
    )
    s_nw = round((g[0] + 2 * weighted) / n, 10)
    assert r.n_ret == n
    assert r.mu == m
    assert r.s_nw == s_nw
    # iid variance for comparison: HAC with negative autocov is smaller
    assert s_nw < g[0] / n
    assert r.t_nw == round(m / math.sqrt(s_nw / n), 6)


def test_newey_west_positive_variance_on_fixture(spark):
    from quant_market_data_pipeline_spark.queries.risk import (
        q_newey_west_tstat,
    )

    rows = q_newey_west_tstat(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.s_nw > 0 and r.t_nw is not None
        assert (r.t_nw > 0) == (r.mu > 0) or r.mu == 0


def test_unigram_sampling_table_closed_form(spark, tmp_path):
    """Counts a=4, b=2, c=1 -> p ~ c^0.75 with exact cumulative ranges
    ordered by (cnt desc, token)."""
    import pyspark.sql.types as T2

    from quant_market_data_pipeline_spark.queries.textprep import (
        q_unigram_negative_sampling,
    )

    schema = T2.StructType(
        [
            T2.StructField("doc_id", T2.LongType()),
            T2.StructField("text", T2.StringType()),
            T2.StructField("lang", T2.StringType()),
            T2.StructField("source", T2.StringType()),
            T2.StructField("n_chars", T2.LongType()),
        ]
    )
    spark.createDataFrame(
        [(1, "a a b c", "en", "s", 7), (2, "A a B", "en", "s", 5)],
        schema=schema,
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = q_unigram_negative_sampling(spark, str(tmp_path)).collect()
    assert [r.token for r in rows] == ["a", "b", "c"]
    ws = {t: c**0.75 for t, c in {"a": 4, "b": 2, "c": 1}.items()}
    tw = ws["a"] + ws["b"] + ws["c"]
    exp_p = {t: round(w / tw, 8) for t, w in ws.items()}
    cum = 0.0
    for r in rows:
        assert r.p == exp_p[r.token]
        assert r.cum_lo == round(cum + r.p - r.p, 8) == round(cum, 8)
        cum += r.p
        assert r.cum_hi == round(cum, 8)
    assert abs(cum - 1.0) < 1e-6


def test_matryoshka_overlap_constructed_rank_break(spark, tmp_path):
    """Vectors engineered so the 16-dim prefix ranking disagrees with the
    full ranking for query 0: a mass at dim 20 is invisible to the
    prefix, so the truncated index promotes that vector to cos 1.0 and
    overlap@3 drops to exactly 2/3."""
    import pyspark.sql.types as T2

    from quant_market_data_pipeline_spark.queries.llm import (
        q_matryoshka_overlap_audit,
    )

    dim = 64

    def vec(parts):
        v = [0.0] * dim
        for i, x in parts:
            v[i] = x
        return v

    rows = [
        (0, vec([(0, 1.0)]), 0),                  # the probed query
        (1, vec([(0, 1.0)]), 1),                  # clone: cos 1 both ways
        (2, vec([(0, 1.0), (20, 5.0)]), 2),       # prefix-invisible mass
        (3, vec([(0, 0.5), (1, 0.866)]), 3),      # cos 0.5 both ways
        (4, vec([(0, 0.3), (1, 0.954)]), 4),      # cos 0.3 both ways
    ]
    schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField("embedding", T2.ArrayType(T2.FloatType())),
            T2.StructField("label", T2.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.query_id: r
        for r in q_matryoshka_overlap_audit(spark, str(tmp_path)).collect()
    }
    r0 = got[0]
    # full top-3 of query 0: {1 (1.0), 3 (0.5), 4 (0.3)}; truncated top-3:
    # {1 (1.0), 2 (1.0), 3 (0.5)} -> overlap 2/3
    assert r0.n_full == 3 and r0.n_kept == 2
    assert r0.overlap_at_3 == round(2.0 / 3.0, 6)


def test_matryoshka_overlap_bounds_on_fixture(spark):
    from quant_market_data_pipeline_spark.queries.llm import (
        q_matryoshka_overlap_audit,
    )

    rows = q_matryoshka_overlap_audit(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_full == 3
        assert 0 <= r.n_kept <= 3
        assert r.overlap_at_3 == round(r.n_kept / 3.0, 6)


def test_fama_macbeth_perfect_linear_cross_section(spark, tmp_path):
    """Five symbols with constant per-symbol drift r_s: mom = 3*r_s and
    fwd = r_s on every valid day, a perfectly linear cross-section with
    slope exactly 1/3 — so every daily lambda rounds to 0.33333333, the
    slope series is constant, and the t-stat is NULL (zero stddev)."""
    from quant_market_data_pipeline_spark.queries.risk import (
        q_fama_macbeth,
    )

    base = dt.datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for s in range(1, 6):
        r_s = 0.01 * s
        for t in range(8):
            rows.append(
                (eid, base + dt.timedelta(days=t), 1, f"S{s}",
                 100.0 * math.exp(r_s * t), None)
            )
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = q_fama_macbeth(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    # mom needs lag 3, fwd needs lead 1: valid days are t = 3..6
    assert r.n_days == 4
    assert r.lambda_mean == round(1.0 / 3.0, 8)
    assert r.lambda_se == 0.0
    assert r.lambda_tstat is None


def test_fama_macbeth_fixture_single_summary_row(spark):
    from quant_market_data_pipeline_spark.queries.risk import (
        q_fama_macbeth,
    )

    out = q_fama_macbeth(spark, SF_DIR).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days >= 20
    assert r.lambda_se is None or r.lambda_se >= 0
