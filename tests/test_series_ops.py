"""Read/write-path semantics — mirrors the reference's
ModuleFunctionsTest / TimeSeriesDataTest / CeresNodeTest scenarios
(tests/test_ceres.py) on tiny hand-built DataFrames.
"""

import pytest
from pyspark.sql import functions as F

import ceres_spark.operators.aggregate as agg
import ceres_spark.operators.compact as cp
import ceres_spark.operators.series as ser
from ceres_spark.errors import InvalidAggregationMethod, InvalidRequest

SCHEMA = "metric string, ts long, value double, arrival_seq long"


def pts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_aggregate_methods_null_skipping(spark):
    # aggregate() semantics: None-filter, empty→None (ceres.py ≈L1005)
    df = pts(
        spark,
        [
            ("m", 0, 1.0, 0),
            ("m", 60, None, 1),
            ("m", 120, 3.0, 2),
            ("empty", 0, None, 3),
        ],
    )
    row = {
        r["metric"]: r
        for r in df.groupBy("metric")
        .agg(
            agg.agg_expr("average").alias("avg"),
            agg.agg_expr("sum").alias("sum"),
            agg.agg_expr("last").alias("last"),
            agg.agg_expr("max").alias("max"),
            agg.agg_expr("min").alias("min"),
        )
        .collect()
    }
    assert row["m"]["avg"] == 2.0
    assert row["m"]["sum"] == 4.0
    assert row["m"]["last"] == 3.0  # last non-null by ts
    assert row["m"]["max"] == 3.0
    assert row["m"]["min"] == 1.0
    # all-null group → NULL for every method (empty→None parity)
    assert all(row["empty"][k] is None for k in ("avg", "sum", "last", "max", "min"))


def test_invalid_aggregation_method_raises():
    with pytest.raises(InvalidAggregationMethod):
        agg.agg_expr("median")


def test_aggregate_series_partial_last_chunk(spark):
    # aggregateSeries: partial last chunk still aggregated (≈L1033)
    df = pts(spark, [("m", 0, 1.0, 0), ("m", 60, 2.0, 1), ("m", 120, 9.0, 2)])
    out = {
        r["ts"]: r["value"]
        for r in agg.aggregate_series(df, "average", 120).collect()
    }
    assert out == {0: 1.5, 120: 9.0}


def test_compact_lww_and_quantize(spark):
    # CeresNode.compact: quantize + duplicate ts → last write wins (≈L460)
    df = pts(
        spark,
        [
            ("m", 61, 1.0, 0),
            ("m", 119, 2.0, 1),  # same 60s bucket, later arrival → wins
            ("m", 180, None, 2),  # None values dropped
            ("m", 240, 4.0, 3),
        ],
    )
    out = {r["ts"]: r["value"] for r in cp.compact(df, 60).collect()}
    assert out == {60: 2.0, 240: 4.0}


def test_read_series_dense_padding(spark):
    # CeresNode.read: left/mid/right None padding (≈L560-600)
    df = pts(spark, [("m", 120, 5.0, 0), ("m", 240, 7.0, 1)])
    metrics = spark.createDataFrame([("m",)], "metric string")
    rows = ser.read_series(df, metrics, 0, 360, 60, "average").collect()
    out = {r["ts"]: r["value"] for r in rows}
    assert out == {0: None, 60: None, 120: 5.0, 180: None, 240: 7.0, 300: None}
    assert len(rows) == 6  # dense: every step in [0, 360)


def test_read_series_invalid_request(spark):
    df = pts(spark, [("m", 0, 1.0, 0)])
    metrics = spark.createDataFrame([("m",)], "metric string")
    with pytest.raises(InvalidRequest):
        ser.read_series(df, metrics, 100, 100, 60)


def test_merge_fills_only_holes(spark):
    # TimeSeriesData.merge: self wins, other fills None, out-of-range
    # dropped (≈L935)
    a = spark.createDataFrame(
        [("m", 0, 1.0), ("m", 60, None), ("m", 120, 3.0)],
        "metric string, ts long, value double",
    )
    b = spark.createDataFrame(
        [("m", 60, 9.0), ("m", 120, 8.0), ("m", 300, 7.0)],
        "metric string, ts long, value double",
    )
    out = {r["ts"]: r["value"] for r in ser.merge(a, b).collect()}
    assert out == {0: 1.0, 60: 9.0, 120: 3.0}  # 300 dropped, 120 self-wins


def test_has_data_for_interval(spark):
    df = pts(spark, [("m", 100, 1.0, 0), ("m", 200, 2.0, 1)])
    probe = lambda f, u: ser.has_data_for_interval(df, f, u).collect()[0]["has_data"]
    assert probe(150, 250)
    assert probe(None, 101)
    assert not probe(201, None)
    assert not probe(None, 100)  # min_ts < until is strict
    assert probe(200, 999)  # max_ts >= from is inclusive


def test_series_functions_on_known_sequence(spark):
    import ceres_spark.operators.series as ser
    rows = [("m", t, float(v)) for t, v in zip(range(0, 500, 100), [1, 3, 6, 10, 15])]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    got = {r["ts"]: r for r in ser.series_functions(df, ma_points=2).collect()}
    assert got[0]["derivative"] is None
    assert got[100]["derivative"] == 2.0
    assert got[400]["derivative"] == 5.0
    assert got[100]["moving_avg"] == 2.0          # (1+3)/2
    assert got[400]["moving_avg"] == 12.5         # (10+15)/2
    assert got[400]["running_integral"] == 35.0   # 1+3+6+10+15


def test_anomaly_zscore_flags_planted_outlier(spark):
    import ceres_spark.operators.series as ser
    base = [("m", t, 10.0) for t in range(0, 2000, 100)]
    rows = base + [("m", 2000, 1000.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    flagged = ser.anomaly_zscore(df, z=3.0).collect()
    assert [r["ts"] for r in flagged] == [2000]
    assert flagged[0]["zscore"] > 4.0


def test_anomaly_zscore_zero_variance_series_flags_nothing(spark):
    # a constant series has no z-score: it flags nothing instead of
    # dividing by a zero deviation (DIVIDE_BY_ZERO under ANSI mode)
    base = [("m", t, 10.0) for t in range(0, 2000, 100)]
    flat = [("flat", t, 5.0) for t in range(0, 600, 100)]
    rows = base + [("m", 2000, 1000.0)] + flat
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    flagged = ser.anomaly_zscore(df, z=3.0).collect()
    assert [(r["metric"], r["ts"]) for r in flagged] == [("m", 2000)]


def test_forward_fill_carries_last_value_leading_nulls_stay(spark):
    dense = spark.createDataFrame(
        [
            ("m", 0, None), ("m", 60, 1.0), ("m", 120, None),
            ("m", 180, None), ("m", 240, 4.0),
            ("n", 0, None), ("n", 60, None),
        ],
        "metric string, ts long, value double",
    )
    out = {
        (r["metric"], r["ts"]): r["filled"]
        for r in ser.forward_fill(dense).collect()
    }
    assert out[("m", 0)] is None          # nothing seen yet → left pad stays
    assert out[("m", 120)] == 1.0         # gap inherits last value
    assert out[("m", 180)] == 1.0
    assert out[("m", 240)] == 4.0         # real value wins over carry
    assert out[("n", 0)] is None and out[("n", 60)] is None


def test_per_second_gap_correct_and_reset_safe(spark):
    b = spark.createDataFrame(
        [("c", 0, 100.0), ("c", 60, 160.0), ("c", 240, 178.0), ("c", 300, 5.0)],
        "metric string, ts long, value double",
    )
    out = {r["ts"]: r["per_second"] for r in ser.per_second(b).collect()}
    assert out[0] is None                  # no predecessor
    assert out[60] == 1.0                  # 60 over 60 s
    assert out[240] == 0.1                 # 18 over 180 s — gap-correct
    assert out[300] is None                # counter reset → NULL, not negative


def test_time_shift_relabels_only(spark):
    b = spark.createDataFrame(
        [("m", 0, 1.0), ("m", 60, 2.0)], "metric string, ts long, value double"
    )
    shifted = ser.time_shift(b, 3600)
    assert [r["ts"] for r in shifted.orderBy("ts").collect()] == [3600, 3660]
    # negative shift allowed (timeShift back in time)
    back = ser.time_shift(b, -60)
    assert [r["ts"] for r in back.orderBy("ts").collect()] == [-60, 0]


def test_slice_runs_split_on_gap(spark):
    # step=60, max_gap=2 steps → gap of >120s starts a new run
    df = spark.createDataFrame(
        [("m", 0, 1.0), ("m", 60, 1.0), ("m", 180, 1.0),   # gap 120 ≤ 2*60 → same run
         ("m", 420, 1.0),                                    # gap 240 > 120 → new run
         ("n", 0, 1.0)],
        "metric string, ts long, value double",
    )
    out = {
        (r["metric"], r["run_id"]): (r["run_start"], r["run_end"], r["n_points"])
        for r in cp.slice_runs(df, 60, max_gap=2).collect()
    }
    assert out == {
        ("m", 0): (0, 180, 3),
        ("m", 1): (420, 420, 1),
        ("n", 0): (0, 0, 1),
    }


def test_moving_median_ignores_spike(spark):
    df = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate([1.0, 1.0, 100.0, 1.0, 1.0])],
        "metric string, ts long, value double",
    )
    out = [r["moving_median"] for r in
           ser.moving_median(df, points=3).orderBy("ts").collect()]
    # trailing 3-frame: [1], [1,1], [1,1,100], [1,100,1], [100,1,1]
    assert out == [1.0, 1.0, 1.0, 1.0, 1.0]   # spike never surfaces


def test_moving_stddev_constant_series_is_zero(spark):
    df = spark.createDataFrame(
        [("m", i * 60, 7.0) for i in range(5)],
        "metric string, ts long, value double",
    )
    out = [r["moving_stddev"] for r in
           ser.moving_stddev(df, points=3).orderBy("ts").collect()]
    assert out == [0.0] * 5          # clamped, never NaN


def test_series_arithmetic_null_propagation(spark):
    df = spark.createDataFrame(
        [("click", 0, 3.0), ("view", 0, 1.0), ("click", 60, 5.0)],
        "metric string, ts long, value double",
    )
    out = {r["ts"]: r for r in
           ser.series_arithmetic(df, "click", "view").collect()}
    assert out[0]["sum_all"] == 4.0
    assert out[0]["click_minus_view"] == 2.0
    assert out[60]["sum_all"] == 5.0
    assert out[60]["click_minus_view"] is None   # view missing → NULL


def test_group_by_node_fans_in_component(spark):
    df = spark.createDataFrame(
        [("srv0.cpu", 0, 1.0), ("srv1.cpu", 0, 2.0),
         ("srv0.mem", 0, 10.0), ("srv1.cpu", 60, 4.0)],
        "metric string, ts long, value double",
    )
    out = {
        (r["node"], r["ts"]): r["value"]
        for r in ser.group_by_node(df, 1, "sum").collect()
    }
    assert out == {("cpu", 0): 3.0, ("mem", 0): 10.0, ("cpu", 60): 4.0}
    # component 0 groups the other way
    by_srv = {
        (r["node"], r["ts"]): r["value"]
        for r in ser.group_by_node(df, 0, "max").collect()
    }
    assert by_srv[("srv0", 0)] == 10.0


def test_winsorize_clamps_to_band(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 100.0]
    df = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate(vals)],
        "metric string, ts long, value double",
    )
    out = {r["value"]: r["clipped"] for r in
           ser.winsorize(df, lo=0.0, hi=0.75).collect()}
    assert out[100.0] == 4.0      # p75 of [1,2,3,4,100] = 4.0 exact
    assert out[1.0] == 1.0        # lo=min → untouched
    assert out[3.0] == 3.0


def test_ewma_matches_reference_recurrence(spark):
    rows = [("m", t * 60, v, 0) for t, v in
            enumerate([1.0, 2.0, None, 4.0, 0.0, 10.0])]
    out = {r["ts"]: r["ewma"]
           for r in ser.ewma(pts(spark, rows), alpha=0.5).collect()}
    # hand-rolled recurrence: NULL carries state forward, no decay
    e = {0: 1.0, 60: 0.5 * 2 + 0.5 * 1}
    e[120] = e[60]                       # gap: carry
    e[180] = 0.5 * 4 + 0.5 * e[60]
    e[240] = 0.5 * 0 + 0.5 * e[180]
    e[300] = 0.5 * 10 + 0.5 * e[240]
    assert all(abs(out[t] - v) < 1e-12 for t, v in e.items())


def test_holt_winters_bands_and_aberration(spark):
    import math
    vals = [10.0, 10.0, 10.0, 10.0, 50.0, 10.0]
    rows = [("m", t * 60, v, 0) for t, v in enumerate(vals)]
    out = {r["ts"]: r for r in
           ser.holt_winters(pts(spark, rows), alpha=0.5, beta=0.1,
                            dev_scale=2.0).collect()}
    # flat prefix → forecast locks to 10, zero deviation, no aberration
    assert abs(out[180]["forecast"] - 10.0) < 1e-9
    assert out[180]["aberration"] == 0.0
    # the 50 spike escapes the (tight) band upward
    assert out[240]["aberration"] > 0.0
    # python reference replay for the spike step
    level, trend, d, a, b = 10.0, 0.0, 0.0, 0.5, 0.1
    for v in vals[1:4]:
        f = level + trend
        d = a * abs(v - f) + (1 - a) * d
        nl = a * v + (1 - a) * (level + trend)
        trend = b * (nl - level) + (1 - b) * trend
        level = nl
    f = level + trend
    assert abs(out[240]["forecast"] - f) < 1e-9
    # band at the spike step uses PRE-spike deviation (one-step-ahead)
    assert abs(out[240]["upper"] - (f + 2.0 * d)) < 1e-9
    assert abs(out[240]["aberration"] - (50.0 - (f + 2.0 * d))) < 1e-9


def test_holt_winters_reference_replay_exact(spark):
    import numpy as np
    vals = [3.0, 7.0, 5.0, None, 9.0, 2.0, 2.0, 8.0]
    rows = [("m", t * 60, v, 0) for t, v in enumerate(vals)]
    out = {r["ts"]: r for r in
           ser.holt_winters(pts(spark, rows), alpha=0.3, beta=0.05,
                            dev_scale=3.0).collect()}
    level, trend, d = None, 0.0, 0.0
    a, b = 0.3, 0.05
    for i, v in enumerate(vals):
        ts = i * 60
        if level is None:
            if v is not None:
                level = v
            continue
        f = level + trend
        assert abs(out[ts]["forecast"] - f) < 1e-12
        assert abs(out[ts]["upper"] - (f + 3.0 * d)) < 1e-12
        if v is not None:
            d = a * abs(v - f) + (1 - a) * d
            nl = a * v + (1 - a) * (level + trend)
            trend = b * (nl - level) + (1 - b) * trend
            level = nl


def test_series_linreg_exact_line(spark):
    # y = 2x + 10 on an exact grid → slope recovered exactly
    base = 1_700_000_000
    rows = [("m", base + i * 3600, 10.0 + 2.0 * i, 0) for i in range(6)]
    rows += [("flat", base, 5.0, 0)]        # single point → NULL slope
    out = {r["metric"]: r for r in
           ser.series_linreg(pts(spark, rows)).collect()}
    # slope is per HOUR; one step = 1h and y rises 2.0 per step
    assert abs(out["m"]["slope_per_hour"] - 2.0) < 1e-9
    assert abs(out["m"]["fit_end"] - 20.0) < 1e-9   # value at last point
    assert out["m"]["n_points"] == 6
    assert out["flat"]["slope_per_hour"] is None


def test_holt_winters_seasonal_reference_replay_exact(spark):
    # planted series: period-4 additive pattern + drift + a gap;
    # replay the documented recurrence in pure Python, bit-exact
    import numpy as np
    pattern = [0.0, 5.0, -3.0, 1.0]
    vals = [
        (10.0 + 0.5 * i + pattern[i % 4]) if i != 9 else None
        for i in range(16)
    ]
    rows = [("m", i * 60, v, 0) for i, v in enumerate(vals)]
    out = {r["ts"]: r for r in
           ser.holt_winters(pts(spark, rows), alpha=0.3, beta=0.05,
                            dev_scale=2.0, season_length=4, gamma=0.2,
                            step=60).collect()}
    a, b, g = 0.3, 0.05, 0.2
    level, trend, d = None, 0.0, 0.0
    seas = [0.0, 0.0, 0.0, 0.0]
    for i, v in enumerate(vals):
        ts = i * 60
        j = (ts // 60) % 4
        if level is None:
            if v is not None:
                level = v
            continue
        f = level + trend + seas[j]
        assert abs(out[ts]["forecast"] - f) < 1e-12, (ts, f)
        assert abs(out[ts]["upper"] - (f + 2.0 * d)) < 1e-12
        assert abs(out[ts]["lower"] - (f - 2.0 * d)) < 1e-12
        if v is not None:
            d = g * abs(v - f) + (1 - g) * d
            nl = a * (v - seas[j]) + (1 - a) * (level + trend)
            trend = b * (nl - level) + (1 - b) * trend
            seas[j] = g * (v - nl) + (1 - g) * seas[j]
            level = nl


def test_holt_winters_seasonal_learns_the_season(spark):
    # perfectly periodic signal: after several cycles the seasonal
    # model's one-step forecast error must be far below non-seasonal
    # Holt's (which can only chase the oscillation)
    pattern = [0.0, 8.0, 0.0, -8.0]
    vals = [50.0 + pattern[i % 4] for i in range(48)]
    rows = [("m", i * 300, v, 0) for i, v in enumerate(vals)]
    seasonal = {r["ts"]: r for r in
                ser.holt_winters(pts(spark, rows), alpha=0.1,
                                 beta=0.0035, season_length=4,
                                 gamma=0.3, step=300).collect()}
    plain = {r["ts"]: r for r in
             ser.holt_winters(pts(spark, rows), alpha=0.1,
                              beta=0.0035).collect()}
    tail = [i * 300 for i in range(40, 48)]
    err_s = sum(abs(seasonal[t]["forecast"] - vals[t // 300])
                for t in tail)
    err_p = sum(abs(plain[t]["forecast"] - vals[t // 300])
                for t in tail)
    assert err_s < 0.25 * err_p, (err_s, err_p)


def test_holt_winters_seasonal_phase_is_timestamp_anchored(spark):
    # drop an entire row (not a NULL — the row is absent): the phase
    # of later points must not shift, because j = (ts//step) % L
    pattern = [0.0, 6.0, 0.0, -6.0]
    full = [("m", i * 60, 20.0 + pattern[i % 4], 0) for i in range(24)]
    holed = [r for r in full if r[1] != 7 * 60]
    out_f = {r["ts"]: r["forecast"] for r in
             ser.holt_winters(pts(spark, full), season_length=4,
                              gamma=0.3, step=60).collect()}
    out_h = {r["ts"]: r["forecast"] for r in
             ser.holt_winters(pts(spark, holed), season_length=4,
                              gamma=0.3, step=60).collect()}
    # forecasts BEFORE the hole are identical
    for t in range(1, 7):
        assert out_f[t * 60] == out_h[t * 60]
    # late forecasts stay phase-aligned: both runs predict the same
    # pattern offsets, so they agree to within the tiny state drift
    # the one missing update causes
    for t in range(20, 24):
        assert abs(out_f[t * 60] - out_h[t * 60]) < 0.7, (
            t, out_f[t * 60], out_h[t * 60])


def test_holt_winters_seasonal_requires_step(spark):
    with pytest.raises(ValueError):
        ser.holt_winters(pts(spark, [("m", 0, 1.0, 0)]),
                         season_length=4)


def test_cusum_detects_level_shift(spark):
    import ceres_spark.operators.series as ser

    # flat at 10 for 20 points, then shifts to 20: the cusum ramps
    # after the shift and the flat prefix stays unflagged
    rows = [("m", t * 60, 10.0) for t in range(20)] + [
        ("m", (20 + t) * 60, 20.0) for t in range(20)
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    res = sorted(
        ser.cusum_changepoints(df, threshold=30.0).collect(),
        key=lambda r: r["ts"],
    )
    # mean = 15; prefix cusum descends to -100, suffix climbs back to 0
    assert res[0]["cusum"] == -5.0
    assert min(r["cusum"] for r in res) == -100.0
    assert abs(res[-1]["cusum"]) < 1e-9
    flagged_ts = [r["ts"] for r in res if r["is_changepoint"]]
    # the deepest ramp around the shift is flagged, the edges are not
    # first flag at t=5: cusum = 6·(−5) = −30 hits the threshold
    assert flagged_ts and min(flagged_ts) == 5 * 60
    assert not res[0]["is_changepoint"] and not res[-1]["is_changepoint"]


# ---- graphite read-API breadth: nPercentile / percentileOfSeries /
# ---- sortByMaxima+Minima / summarize(alignToFrom) (round 5)

def _pts(spark, rows):
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def _graphite_rank(n, cnt):
    # graphite-web _getPercentile, non-interpolated
    import math
    fr = n / 100.0 * (cnt + 1)
    rank = int(fr)
    if fr - rank > 0:
        rank += 1
    return max(1, min(cnt, rank))


def test_n_percentile_matches_graphite_rank_rule(spark):
    import ceres_spark.operators.series as ser

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    d = _pts(spark, [("m", 60 * i, v) for i, v in enumerate(vals)]
             + [("m", 6000, None)])  # nulls skipped
    for n in (0, 10, 50, 90, 100):
        out = ser.n_percentile(d, n=n).collect()
        assert len(out) == 1
        expect = sorted(vals)[_graphite_rank(n, len(vals)) - 1]
        assert out[0]["n_percentile"] == expect, n


def test_n_percentile_per_metric_and_clamps(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("a", 0, 10.0), ("b", 0, 1.0), ("b", 60, 2.0)])
    got = {r["metric"]: r["n_percentile"]
           for r in ser.n_percentile(d, n=100).collect()}
    # n=100: rank = cnt+1 clamped to cnt -> the max
    assert got == {"a": 10.0, "b": 2.0}


def test_percentile_of_series_combines_across_metrics(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [(m, 0, v) for m, v in
                     [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)]]
             + [("a", 60, 7.0)])
    got = {r["ts"]: r["value"]
           for r in ser.percentile_of_series(d, n=50).collect()}
    # ts=0: sorted [1,2,3,4], fr=0.5*(4+1)=2.5 -> rank 3 -> 3.0;
    # ts=60: single value
    assert got == {0: 3.0, 60: 7.0}


def test_sort_by_extrema_orders_both_ways(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("a", 0, 5.0), ("a", 60, -1.0),
                     ("b", 0, 9.0), ("b", 60, 0.0),
                     ("c", 0, 5.0), ("c", 60, -7.0)])
    rows = {r["metric"]: r for r in ser.sort_by_extrema(d).collect()}
    # max: b=9, a=5, c=5 (tie by metric) ; min: c=-7, a=-1, b=0
    assert [m for m, _ in sorted(rows.items(),
            key=lambda kv: kv[1]["rank_by_max"])] == ["b", "a", "c"]
    assert [m for m, _ in sorted(rows.items(),
            key=lambda kv: kv[1]["rank_by_min"])] == ["c", "a", "b"]


def test_sort_by_extrema_cardinality_guard(spark, monkeypatch):
    # VERDICT r5: the unpartitioned rank windows are panel-ordering
    # primitives — past MAX_RANKED_SERIES the plan must raise loudly
    # in-plan, never silently single-reduce a catalog
    import pytest

    import ceres_spark.operators.series as ser

    d = _pts(spark, [(f"m{i}", 0, float(i)) for i in range(6)])
    monkeypatch.setattr(ser, "MAX_RANKED_SERIES", 5)
    with pytest.raises(Exception, match="sort_by_extrema: more than"):
        ser.sort_by_extrema(d).collect()
    monkeypatch.setattr(ser, "MAX_RANKED_SERIES", 6)
    assert ser.sort_by_extrema(d).count() == 6


@pytest.mark.parametrize("op, rank", [
    ("sort_by_extrema", "rank_by_max"),
    ("sort_by_extrema", "rank_by_min"),
    ("series_orderings", "rank_by_name"),
    ("series_orderings", "rank_by_total"),
    ("series_orderings", "rank_by_avg"),
    ("filter_series", "rank_highest_current"),
    ("filter_series", "rank_lowest_current"),
])
def test_each_series_rank_keeps_its_guard_alone(spark, monkeypatch, op, rank):
    # render builds sortByMinima and lowest(..., "min") from ONE rank
    # column: pruning the others must not prune the guard with them
    d = _pts(spark, [(f"m{i}", 0, float(i)) for i in range(6)])
    monkeypatch.setattr(ser, "MAX_RANKED_SERIES", 5)
    with pytest.raises(Exception, match=f"{op}: more than"):
        getattr(ser, op)(d).select("metric", rank).collect()


def test_summarize_align_to_from_vs_epoch(spark):
    import ceres_spark.operators.series as ser

    # series starts at 90s; 120s buckets
    d = _pts(spark, [("m", 90, 1.0), ("m", 150, 2.0), ("m", 210, 4.0),
                     ("m", 330, 8.0)])
    epoch = {(r["ts"]): r["value"]
             for r in ser.summarize(d, 120, "sum").collect()}
    assert epoch == {0: 1.0, 120: 6.0, 240: 0.0 + 8.0}
    aligned = {(r["ts"]): r["value"]
               for r in ser.summarize(d, 120, "sum",
                                      align_to_from=True).collect()}
    # anchor 90: [90,210) -> 1+2, [210,330) -> 4, [330,450) -> 8
    assert aligned == {90: 3.0, 210: 4.0, 330: 8.0}


def test_summarize_align_methods_null_skip(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("m", 0, None), ("m", 60, 5.0), ("m", 120, 3.0)])
    out = {r["ts"]: r["value"]
           for r in ser.summarize(d, 180, "max",
                                  align_to_from=True).collect()}
    # anchor = 0 (null row counts for the anchor), max skips the null
    assert out == {0: 5.0}

def test_hitcount_rate_to_hits_per_bucket(spark):
    import ceres_spark.operators.series as ser

    # 1/s for two minutes in hour 0, 2/s for one minute in hour 1
    d = _pts(spark, [("m", 0, 1.0), ("m", 60, 1.0),
                     ("m", 3600, 2.0), ("m", 3720, None)])
    got = {r["ts"]: r["hits"] for r in
           ser.hitcount(d, interval=3600, step=60).collect()}
    assert got == {0: 120.0, 3600: 120.0}


def test_integral_by_interval_resets_each_bucket(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("m", 0, 1.0), ("m", 60, 2.0),
                     ("m", 3600, 5.0), ("m", 3660, 1.0)])
    got = {r["ts"]: r["integral"] for r in
           ser.integral_by_interval(d, interval=3600).collect()}
    # running sum resets at the 3600 boundary
    assert got == {0: 1.0, 60: 3.0, 3600: 5.0, 3660: 6.0}


def test_remove_percentile_nulls_offenders_keeps_slots(spark):
    import ceres_spark.operators.series as ser

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    d = _pts(spark, [("m", 60 * i, v) for i, v in enumerate(vals)])
    out = ser.remove_percentile(d, n=80, above=True).collect()
    # all 10 slots survive; values STRICTLY above the 80th pct (rank
    # rule: fr=0.8*11=8.8 -> rank 9 -> 9.0) become NULL — the
    # threshold value itself stays, matching graphite's `> percentile`
    assert len(out) == 10
    got = {r["ts"]: r["value"] for r in out}
    assert got[540] is None and got[480] == 9.0
    below = {r["ts"]: r["value"] for r in
             ser.remove_percentile(d, n=10, above=False).collect()}
    # 10th pct: fr=0.1*11=1.1 -> rank 2 -> 2.0; values < 2.0 nulled
    assert below[0] is None and below[60] == 2.0


def test_most_deviant_topk_population_stddev(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("flat", 0, 5.0), ("flat", 60, 5.0),
                     ("wide", 0, 0.0), ("wide", 60, 10.0),
                     ("mid", 0, 4.0), ("mid", 60, 6.0),
                     ("mid2", 0, 4.0), ("mid2", 60, 6.0)])
    rows = ser.most_deviant(d, k=3).collect()
    # population stddev: wide=5, mid=mid2=1 (metric tie-break), flat=0
    assert [r["metric"] for r in rows] == ["wide", "mid", "mid2"]
    assert rows[0]["deviation"] == 5.0


def test_average_above_keeps_full_series_incl_nulls(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("hot", 0, 10.0), ("hot", 60, None),
                     ("hot", 120, 20.0),
                     ("cold", 0, 1.0), ("cold", 60, 2.0)])
    out = ser.average_above(d, threshold=5.0).collect()
    # hot avg=15 (> 5, null skipped in the gate); its NULL slot survives
    assert {r["metric"] for r in out} == {"hot"}
    assert len(out) == 3
    assert ser.average_above(d, threshold=99.0).count() == 0


def test_moving_window_functions_frames(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("m", 60 * i, v) for i, v in
                     enumerate([5.0, 3.0, 9.0, 1.0, 7.0, 4.0])])
    got = {r["ts"]: r for r in
           ser.moving_window_functions(d, points=3).collect()}
    # offsetToZero: series min is 1.0
    assert got[0]["offset_to_zero"] == 4.0
    assert got[180]["offset_to_zero"] == 0.0
    # trailing 3-frame at ts=240 covers indices 2..4 = (9, 1, 7)
    assert got[240]["moving_min"] == 1.0
    assert got[240]["moving_max"] == 9.0
    assert got[240]["moving_sum"] == 17.0
    # frame shorter than `points` at the series head
    assert got[60]["moving_sum"] == 8.0 and got[60]["moving_max"] == 5.0


def test_value_transforms_family(spark):
    import ceres_spark.operators.series as ser

    d = _pts(spark, [("m", 0, -4.0), ("m", 60, 0.0), ("m", 120, 50.0),
                     ("m", 180, 200.0), ("m", 240, None)])
    got = {r["ts"]: r for r in
           ser.value_transforms(d, clamp_lo=0.0, clamp_hi=100.0).collect()}
    assert got[0]["abs_value"] == 4.0
    assert got[0]["inverted"] == -0.25
    assert got[0]["sqrt_value"] == 2.0
    assert got[0]["squared"] == 16.0
    assert got[0]["clamped"] == 0.0      # clamp floor
    assert got[60]["inverted"] is None   # 1/0 -> NULL, not inf
    assert got[120]["clamped"] == 50.0   # in range untouched
    assert got[180]["clamped"] == 100.0  # clamp ceiling
    assert got[240]["abs_value"] is None # NULL propagates


def test_consolidate_by_derived_vpp_and_anchor(spark):
    # series m: 10 dense slots at step 60 from t0=120; maxDataPoints=4
    # -> vpp = ceil(10/4) = 3, c_step = 180, buckets anchored at 120
    rows = [("m", 120 + 60 * i, float(i), i) for i in range(10)]
    # series s: 3 slots -> vpp = ceil(3/4) = 1 (consolidation no-op)
    rows += [("s", 0, 5.0, 20), ("s", 60, 7.0, 21), ("s", 120, 9.0, 22)]
    out = ser.consolidate_by(pts(spark, rows), max_points=4, method="average")
    got = {
        (r["metric"], r["ts"]): (r["c_step"], r["value"])
        for r in out.collect()
    }
    # graphite: buckets of 3 consecutive slots, partial tail still
    # consolidated (values 9 alone in the last bucket)
    assert got[("m", 120)] == (180, 1.0)        # (0+1+2)/3
    assert got[("m", 300)] == (180, 4.0)        # (3+4+5)/3
    assert got[("m", 480)] == (180, 7.0)        # (6+7+8)/3
    assert got[("m", 660)] == (180, 9.0)        # partial bucket
    assert got[("s", 0)] == (60, 5.0)
    assert got[("s", 60)] == (60, 7.0)
    assert got[("s", 120)] == (60, 9.0)
    assert len(got) == 7


def test_consolidate_by_gaps_count_toward_slots_and_method_dial(spark):
    # gaps widen the DENSE slot count: two points 9 slots apart is
    # n=10 even though only 2 rows exist -> vpp=ceil(10/5)=2
    rows = [("g", 0, 2.0, 0), ("g", 540, 8.0, 1)]
    out = ser.consolidate_by(pts(spark, rows), max_points=5, method="max")
    got = {(r["metric"], r["ts"]): (r["c_step"], r["value"])
           for r in out.collect()}
    assert got == {("g", 0): (120, 2.0), ("g", 480): (120, 8.0)}
    with pytest.raises(ValueError):
        ser.consolidate_by(pts(spark, rows), max_points=0)


def test_counter_wrap_rate_recovers_wrap_and_nulls_reset(spark):
    # 8-bit-style counter, max_value=255: 250 -> 40 is a WRAP
    # (delta = 255-250+40+1 = 46 over 60 s); 40 -> 900 exceeds the
    # bound so the NEXT negative delta (900 -> 10) has no wrap
    # explanation at value<=255... 10 <= 255 though — graphite only
    # checks the NEW value fits, so it reconstructs; a true
    # unexplainable reset is new value > maxValue with delta < 0.
    df = pts(
        spark,
        [
            ("c", 0, 100.0, 0),
            ("c", 60, 250.0, 1),   # +150 plain
            ("c", 120, 40.0, 2),   # wrap: 255-250+40+1 = 46
            ("c", 240, 400.0, 3),  # +360 plain (gap: dt=120)
            ("c", 300, 300.0, 4),  # negative, 300 > 255 -> NULL
        ],
    )
    got = {
        r["ts"]: (r["nn_delta"], r["rate_per_s"])
        for r in ser.counter_wrap_rate(df, max_value=255.0).collect()
    }
    assert got[0] == (None, None)            # first point
    assert got[60] == (150.0, 2.5)
    assert got[120] == (46.0, 46.0 / 60.0)   # wrap recovered
    assert got[240] == (360.0, 3.0)          # gap-correct dt=120
    assert got[300] == (None, None)          # unexplainable reset


def test_time_stack_copies_and_relabel(spark):
    df = pts(spark, [("m", 0, 1.0, 0), ("m", 60, 2.0, 1)])
    out = ser.time_stack(df, period=1000, copies=2).collect()
    got = {(r["shift_idx"], r["ts"]): r["value"] for r in out}
    assert got == {
        (0, 0): 1.0, (0, 60): 2.0,          # copy 0 == live series
        (1, 1000): 1.0, (1, 1060): 2.0,     # copy 1 shifted forward
    }
    with pytest.raises(ValueError):
        ser.time_stack(df, period=1000, copies=0)


def test_changed_points_null_transitions_count(spark):
    # the external fixture is NULL-free by construction (LWW dedup
    # drops null slots); the None->value and value->None arms of
    # graphite's changed() live here
    df = pts(
        spark,
        [
            ("m", 0, 5.0, 0),
            ("m", 60, 5.0, 1),     # no change
            ("m", 120, None, 2),   # value -> None: changed
            ("m", 180, None, 3),   # None -> None: no change
            ("m", 240, 7.0, 4),    # None -> value: changed
        ],
    )
    got = {
        r["ts"]: (r["changed"], r["delayed"], r["is_non_null"])
        for r in ser.changed_points(df, delay_steps=2).collect()
    }
    assert got[0] == (0, None, 1)      # first point: 0 by definition
    assert got[60] == (0, None, 1)
    assert got[120] == (1, 5.0, 0)
    assert got[180] == (0, 5.0, 0)
    assert got[240] == (1, None, 1)    # delayed lands on a gap


def test_weighted_average_weights_by_raw_arrivals(spark):
    # metric a: slot 0 has 3 arrivals (LWW keeps value 30), metric b:
    # 1 arrival of 10 -> weighted avg = (30*3 + 10*1) / 4 = 25, NOT
    # the plain mean 20 — the dedup/weight split is the point
    raw = pts(
        spark,
        [
            ("a", 0, 10.0, 0),
            ("a", 0, 20.0, 1),
            ("a", 0, 30.0, 2),   # last write wins
            ("b", 0, 10.0, 3),
            ("b", 60, None, 4),  # null arrival: weight skips it
        ],
    )
    lww = cp.compact(raw, 60)
    rows = {r["ts"]: r for r in ser.weighted_average(raw, lww).collect()}
    assert rows[0]["weighted_avg"] == 25.0
    assert rows[0]["total_weight"] == 4
    assert rows[0]["n_series"] == 2
    assert 60 not in rows  # all-null slot: no LWW row survives


def test_filter_series_gates_and_ranks(spark):
    # current = LAST-BY-TS, not the max: metric a ends low (5) after
    # peaking at 100; b ends high (50) after a low run
    df = pts(
        spark,
        [
            ("a", 0, 100.0, 0),
            ("a", 60, 5.0, 1),
            ("b", 0, 1.0, 2),
            ("b", 60, 50.0, 3),
            ("c", 0, None, 4),   # all-null series: no stats row
        ],
    )
    rows = {r["metric"]: r for r in ser.filter_series(
        df, current_gate=10.0, max_gate=60.0, min_gate=2.0
    ).collect()}
    assert set(rows) == {"a", "b"}
    a, b = rows["a"], rows["b"]
    assert (a["current"], a["max_value"], a["min_value"]) == (5.0, 100.0, 5.0)
    assert (b["current"], b["max_value"], b["min_value"]) == (50.0, 50.0, 1.0)
    # gates: both arms populated
    assert (a["current_above"], a["current_below"]) == (0, 1)
    assert (b["current_above"], b["current_below"]) == (1, 0)
    assert (a["maximum_above"], b["maximum_above"]) == (1, 0)
    assert (a["maximum_below"], b["maximum_below"]) == (0, 1)
    assert (a["minimum_above"], b["minimum_above"]) == (1, 0)
    assert (a["minimum_below"], b["minimum_below"]) == (0, 1)
    # highestCurrent: b (50) ranks 1; lowestCurrent: a (5) ranks 1
    assert (b["rank_highest_current"], a["rank_highest_current"]) == (1, 2)
    assert (a["rank_lowest_current"], b["rank_lowest_current"]) == (1, 2)


def test_filter_series_boundary_equality_mixed_strictness(spark):
    df = pts(spark, [("a", 0, 10.0, 0)])
    r = ser.filter_series(
        df, current_gate=10.0, max_gate=10.0, min_gate=10.0
    ).collect()[0]
    # graphite-web strictness split (ADVICE r8 + r9):
    # currentAbove/Below are inclusive (safeLast >= n / <= n) so
    # equality passes BOTH current arms; maximumAbove/minimumAbove
    # are strict (val > n) but maximumBelow/minimumBelow are
    # inclusive (val is None or val <= n) — equality passes the
    # Below arm only
    assert (r["current_above"], r["current_below"]) == (1, 1)
    assert (r["maximum_above"], r["maximum_below"]) == (0, 1)
    assert (r["minimum_above"], r["minimum_below"]) == (0, 1)


def test_series_combinators_null_semantics(spark):
    df = pts(
        spark,
        [
            # ts 0: anchor + other + a third series
            ("click", 0, 3.0, 0),
            ("view", 0, 4.0, 1),
            ("error", 0, 5.0, 2),
            # ts 60: anchor missing -> diff/multiply NULL
            ("view", 60, 7.0, 3),
            ("error", 60, 1.0, 4),
            # ts 120: anchor alone -> diff = value, multiply NULL
            ("click", 120, 9.0, 5),
        ],
    )
    rows = {r["ts"]: r for r in ser.series_combinators(
        df, anchor="click", other="view"
    ).collect()}
    r0 = rows[0]
    assert r0["n_series"] == 3
    assert r0["sum_series"] == 12.0
    assert r0["diff_series"] == 3.0 - (4.0 + 5.0)
    assert r0["multiply_series"] == 12.0
    # population stddev of (3,4,5) = sqrt(2/3)
    assert abs(r0["stddev_series"] - (2.0 / 3.0) ** 0.5) < 1e-12
    r60 = rows[60]
    assert r60["diff_series"] is None
    assert r60["multiply_series"] is None
    assert r60["sum_series"] == 8.0
    r120 = rows[120]
    assert r120["diff_series"] == 9.0
    assert r120["multiply_series"] is None
    assert r120["stddev_series"] == 0.0


def test_point_gates_arms_and_degenerates(spark):
    df = pts(
        spark,
        [
            ("a", 1704844800, 0.5, 0),    # below remove_below gate
            ("a", 1704844860, 500.0, 1),  # above remove_above gate
            ("a", 1700000000, 100.0, 2),  # outside the slice window
            ("b", 1704844800, 7.0, 3),    # single-point series
        ],
    )
    out = ser.point_gates(df)
    rows = {(r["metric"], r["ts"]): r for r in out.collect()}
    a0 = rows[("a", 1704844800)]
    a1 = rows[("a", 1704844860)]
    a2 = rows[("a", 1700000000)]
    b = rows[("b", 1704844800)]
    # minMax: (v - min)/(max - min) over the series; degenerate -> 0
    assert a0["minmax"] == 0.0 and a1["minmax"] == 1.0
    assert abs(a2["minmax"] - (100.0 - 0.5) / (500.0 - 0.5)) < 1e-15
    assert b["minmax"] == 0.0
    # removeAboveValue(400) / removeBelowValue(1): NULL, not dropped
    assert a1["removed_above"] is None and a0["removed_above"] == 0.5
    assert a0["removed_below"] is None and a1["removed_below"] == 500.0
    # scaleToSeconds(90) with step 60: exact 1.5 factor
    assert a2["scaled_to_seconds"] == 150.0
    # timeSlice: outside window -> NULL, inside kept
    assert a2["time_sliced"] is None and a0["time_sliced"] == 0.5
    # row count preserved (projection, not filter)
    assert out.count() == 4


# ---- r9 third function-layer widening -------------------------------


def test_derivative_integral_null_poisoning(spark):
    # gap poisons TWO derivative outputs (current and next); integral
    # skips None but emits None at None slots
    df = pts(spark, [("a", 0, 1.0, 0), ("a", 60, None, 1),
                     ("a", 120, 4.0, 2), ("a", 180, 6.0, 3)])
    rows = {r["ts"]: r for r in ser.derivative_integral(df).collect()}
    assert rows[0]["derivative"] is None       # no prev
    assert rows[60]["derivative"] is None      # current None
    assert rows[120]["derivative"] is None     # prev None
    assert rows[180]["derivative"] == 2.0
    assert rows[0]["integral"] == 1.0
    assert rows[60]["integral"] is None        # None slot emits None
    assert rows[120]["integral"] == 5.0        # accumulator held
    assert rows[180]["integral"] == 11.0


def test_null_gap_fill_run_length_boundary(spark):
    # limit=2: a 2-run fills completely, a 3-run stays ALL None
    # (graphite never partially fills), leading Nones stay None
    data = [("a", 0, None, 0),                  # leading: no anchor
            ("a", 60, 10.0, 1),
            ("a", 120, None, 2), ("a", 180, None, 3),   # run of 2
            ("a", 240, 20.0, 4),
            ("a", 300, None, 5), ("a", 360, None, 6),
            ("a", 420, None, 7)]                # trailing run of 3
    df = pts(spark, data)
    rows = {r["ts"]: r for r in ser.null_gap_fill(
        df, default=0.0, limit=2).collect()}
    assert rows[0]["kept_last"] is None
    assert rows[0]["null_as_default"] == 0.0
    assert rows[120]["kept_last"] == 10.0
    assert rows[180]["kept_last"] == 10.0
    assert rows[300]["kept_last"] is None      # run of 3 > limit
    assert rows[360]["kept_last"] is None
    assert rows[420]["kept_last"] is None
    # trailing run of exactly limit fills
    rows3 = {r["ts"]: r for r in ser.null_gap_fill(
        df, default=0.0, limit=3).collect()}
    assert rows3[420]["kept_last"] == 20.0


def test_name_functions_gates_and_aliases(spark):
    df = pts(spark, [("click", 0, 1.0, 0), ("error", 0, 1.0, 1),
                     ("signup", 0, 1.0, 2)])
    rows = {r["metric"]: r for r in ser.name_functions(df).collect()}
    assert rows["click"]["path"] == "prod.events.click"
    assert rows["click"]["grep_keep"] == 1
    assert rows["signup"]["grep_keep"] == 0
    assert rows["error"]["exclude_keep"] == 0
    assert rows["signup"]["exclude_keep"] == 1
    assert rows["click"]["alias_by_node"] == "click"
    assert rows["click"]["alias_sub"] == "stage.events.click"


def test_divide_series_zero_and_missing_divisor(spark):
    df = pts(spark, [("click", 0, 6.0, 0), ("view", 0, 3.0, 1),
                     ("click", 60, 5.0, 2), ("view", 60, 0.0, 3),
                     ("click", 120, 4.0, 4),          # no view slot
                     ("view", 180, 2.0, 5)])          # no click slot
    rows = {r["ts"]: r for r in ser.divide_series(df).collect()}
    assert rows[0]["quotient"] == 2.0
    assert rows[60]["quotient"] is None        # zero divisor: None
    assert rows[120]["quotient"] is None       # missing divisor
    assert rows[180]["quotient"] is None       # missing dividend


def test_series_orderings_ranks(spark):
    df = pts(spark, [("b", 0, 5.0, 0), ("b", 60, 5.0, 1),
                     ("a", 0, 3.0, 2), ("c", 0, 10.0, 3)])
    rows = {r["metric"]: r for r in ser.series_orderings(df).collect()}
    assert [rows[m]["rank_by_name"] for m in "abc"] == [1, 2, 3]
    # totals: a=3, b=10, c=10 — tie breaks by name: b before c
    assert rows["b"]["rank_by_total"] == 1
    assert rows["c"]["rank_by_total"] == 2
    assert rows["a"]["rank_by_total"] == 3
    assert rows["b"]["total"] == 10.0 and rows["b"]["n_points"] == 2


def test_interpolate_gaps_linear_and_boundaries(spark):
    # limit=2: interior 2-run fills linearly by slot position;
    # 3-run stays None; leading/trailing gaps stay None (no anchor)
    data = [("a", 0, None, 0),
            ("a", 60, 10.0, 1),
            ("a", 120, None, 2), ("a", 180, None, 3),   # run of 2
            ("a", 240, 40.0, 4),
            ("a", 300, None, 5), ("a", 360, None, 6), ("a", 420, None, 7),
            ("a", 480, 0.0, 8),                          # run of 3
            ("a", 540, None, 9)]                         # trailing
    df = pts(spark, data)
    rows = {r["ts"]: r["interpolated"] for r in ser.interpolate_gaps(
        df, limit=2).collect()}
    assert rows[0] is None
    assert rows[120] == 20.0          # 10 + (40-10)*1/3
    assert rows[180] == 30.0          # 10 + (40-10)*2/3
    assert rows[300] is None and rows[360] is None and rows[420] is None
    assert rows[540] is None          # trailing: no next anchor
    assert rows[60] == 10.0 and rows[240] == 40.0


def test_remove_between_percentile_escapers_only(spark):
    # 5 series, 2 slots; n=80 -> band [2nd smallest, max] per slot.
    # graphite's escape test is `not (low < val < high)` (ADVICE
    # r9): strictly-outside points AND band-edge-equality points
    # escape, so per slot the minimum, the rank-2 series (== low)
    # and the max series (== high) all escape.
    rows = []
    for i, m in enumerate("abcde"):
        rows.append((m, 0, float(10 + i), i))
        rows.append((m, 60, float(20 + i), 10 + i))
    # make 'e' the minimum at ts=60 instead
    rows[-1] = ("e", 60, 1.0, 14)
    df = pts(spark, rows)
    got = ser.remove_between_percentile(df, n=80).collect()
    by_metric = {}
    for r in got:
        by_metric.setdefault(r["metric"], r["escapes"])
    # ts=0 (10,11,12,13,14): a (min), b (== p20 band edge),
    #   e (== p80 band edge = max) escape
    # ts=60 (20,21,22,23,1): e (min), a (== p20 edge), d (max) escape
    # only 'c' sits strictly inside the band at both slots
    assert set(by_metric) == {"a", "b", "d", "e"}
    assert by_metric["a"] == 2 and by_metric["e"] == 2
    assert by_metric["b"] == 1 and by_metric["d"] == 1
    # survivors keep their FULL point set
    assert len(got) == 8
    # n below 50 mirrors to 100-n (graphite)
    got2 = {r["metric"] for r in
            ser.remove_between_percentile(df, n=20).collect()}
    assert got2 == {"a", "b", "d", "e"}


def test_scalar_line_transforms_ops_and_lines(spark):
    df = pts(spark, [("a", 0, 2.0, 0), ("a", 60, 4.0, 1),
                     ("a", 120, None, 2), ("b", 0, 10.0, 3)])
    rows = {(r["metric"], r["ts"]): r
            for r in ser.scalar_line_transforms(
                df, offset=10.0, factor=1.5).collect()}
    assert ("a", 120) not in rows          # null points dropped
    a0 = rows[("a", 0)]
    assert a0["offset_value"] == 12.0 and a0["scaled_value"] == 3.0
    assert a0["line_avg"] == 3.0           # (2+4)/2
    assert a0["line_min"] == 2.0 and a0["line_max"] == 4.0
    assert rows[("b", 0)]["line_avg"] == 10.0


def test_average_outside_percentile_band_arms(spark):
    # 5 series with averages 1..5; n=65 -> band ranks 3/4 = [3, 4].
    # graphite keeps a series when `not (lo < avg < hi)` (ADVICE
    # r9): the band edges are actual averages, so c (== lo) and
    # d (== hi) are kept too — ALL five survive; the band columns
    # pin the rank computation instead.
    rows = []
    for i, m in enumerate("abcde"):
        rows.append((m, 0, float(i + 1), i))
        rows.append((m, 60, float(i + 1), 10 + i))
    df = pts(spark, rows)
    out = ser.average_outside_percentile(df, n=65).collect()
    got = {r["metric"]: r["avg_value"] for r in out}
    assert got == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0, "e": 5.0}
    assert {(r["band_lo"], r["band_hi"]) for r in out} == {(3.0, 4.0)}
    # n below 50 mirrors (graphite): n=35 == n=65
    got2 = {r["metric"]
            for r in ser.average_outside_percentile(df, n=35).collect()}
    assert got2 == {"a", "b", "c", "d", "e"}


def test_average_outside_percentile_strict_interior_dropped(spark):
    # a fixture where the keeper filter DOES discriminate: with 9
    # series the n=80 band is ranks 2/8 = [2, 8] — averages 3..7
    # sit strictly inside and are dropped; 1, 2 (== lo), 8 (== hi),
    # 9 survive
    rows = []
    for i in range(9):
        rows.append((f"m{i}", 0, float(i + 1), i))
    df = pts(spark, rows)
    got = {r["metric"] for r in
           ser.average_outside_percentile(df, n=80).collect()}
    assert got == {"m0", "m1", "m7", "m8"}


def test_smart_summarize_calendar_anchor(spark):
    # data starts 5h into the day; the calendar anchor is the day
    # boundary (ts=0 grid), NOT the first point and NOT the epoch
    # interval grid
    df = pts(spark, [
        ("a", 86400 + 18000, 1.0, 0),        # 05:00 day 2
        ("a", 86400 + 18000 + 25200, 3.0, 1),  # 12:00 day 2
        ("a", 86400 + 60000, 5.0, 2),        # 16:40 day 2
    ])
    got = {r["ts"]: r for r in ser.smart_summarize(
        df, interval=25200, method="average", align_seconds=86400
    ).collect()}
    # anchor = day floor of min ts = 86400; buckets at 86400+0h/7h/14h
    assert all(r["anchor"] == 86400 for r in got.values())
    assert got[86400 + 0]["value"] == 1.0          # [0h, 7h): 05:00
    assert got[86400 + 25200]["value"] == 3.0      # [7h, 14h): 12:00
    assert got[86400 + 50400]["value"] == 5.0      # [14h, 21h): 16:40
    assert got[86400 + 25200]["n_points"] == 1


def test_series_with_wildcards_strips_and_merges(spark):
    series = spark.createDataFrame(
        [
            ("dc0.click.requests", 0, 2.0),
            ("dc1.click.requests", 0, 4.0),
            ("dc0.view.requests", 0, 10.0),
        ],
        "path string, ts long, value double",
    )
    got = {(r["name"], r["ts"]): r for r in
           ser.series_with_wildcards(series, position=0).collect()}
    r = got[("click.requests", 0)]
    assert (r["n_series"], r["sum_wild"], r["avg_wild"]) == (2, 6.0, 3.0)
    assert got[("view.requests", 0)]["n_series"] == 1


def test_divide_series_lists_zero_and_missing_divisor(spark):
    series = spark.createDataFrame(
        [
            ("dc0.a.requests", 0, 6.0), ("dc1.a.requests", 0, 3.0),
            ("dc0.b.requests", 0, 1.0), ("dc1.b.requests", 0, 0.0),
            ("dc0.c.requests", 0, 1.0),  # no divisor series
        ],
        "path string, ts long, value double",
    )
    got = {r["name"]: r for r in
           ser.divide_series_lists(series).collect()}
    assert got["a.requests"]["quotient"] == 2.0
    assert got["b.requests"]["quotient"] is None   # zero divisor
    assert got["c.requests"]["quotient"] is None   # missing divisor


def test_divide_series_lists_custom_nodes_and_unknown_raises(spark):
    # ADVICE r10 low: the side prefixes are parameters, and a path
    # matching neither side raises in-plan instead of yielding
    # silent all-NULL quotients
    series = spark.createDataFrame(
        [("num.a.rate", 0, 8.0), ("den.a.rate", 0, 4.0)],
        "path string, ts long, value double",
    )
    got = ser.divide_series_lists(
        series, dividend_node="num", divisor_node="den"
    ).collect()
    assert len(got) == 1 and got[0]["quotient"] == 2.0

    bad = spark.createDataFrame(
        [("num.a.rate", 0, 8.0), ("oops.a.rate", 0, 4.0)],
        "path string, ts long, value double",
    )
    with pytest.raises(Exception) as ei:
        ser.divide_series_lists(
            bad, dividend_node="num", divisor_node="den"
        ).collect()
    assert "neither dividend_node" in str(ei.value)


def test_smart_summarize_from_time_anchor(spark):
    # ADVICE r10 / VERDICT r10 wrong #1: graphite truncates the
    # REQUESTED fetch start; a sparse series whose first point lands
    # a day after the request start must anchor on the request day
    # when from_time is given, and on the data-min day otherwise
    df = pts(spark, [("a", 2 * 86400 + 18000, 1.0, 0)])  # 05:00 day 3
    # request started mid-day-2: anchor = day floor of the REQUEST
    got = ser.smart_summarize(
        df, interval=25200, align_seconds=86400,
        from_time=86400 + 7000,
    ).collect()
    assert len(got) == 1
    assert got[0]["anchor"] == 86400
    # 2*86400+18000 - 86400 = 104400 → bucket 3 (floor 104400/25200=4)
    assert got[0]["ts"] == 86400 + 4 * 25200
    # default arm: anchor shifts to the data-min day (the documented
    # departure)
    got2 = ser.smart_summarize(
        df, interval=25200, align_seconds=86400
    ).collect()
    assert got2[0]["anchor"] == 2 * 86400


def test_remove_empty_series_gates(spark):
    dense = spark.createDataFrame(
        [
            ("full", 0, 1.0), ("full", 60, 2.0),
            ("half", 0, 1.0), ("half", 60, None),
            ("empty", 0, None), ("empty", 60, None),
        ],
        "metric string, ts long, value double",
    )
    got = {r["metric"]: r for r in
           ser.remove_empty_series(dense, xff_ppm=750000).collect()}
    assert (got["full"]["keep_any"], got["full"]["keep_xff"]) == (1, 1)
    assert (got["half"]["keep_any"], got["half"]["keep_xff"]) == (1, 0)
    assert (got["empty"]["keep_any"], got["empty"]["keep_xff"]) == (0, 0)
    assert got["half"]["nonnull_ppm"] == 500000


def test_name_functions_2_node_slice(spark):
    df = pts(spark, [("cpu", 0, 1.0, 0)])
    r = ser.name_functions_2(
        df, prefix="prod.events.", sub_start=1, sub_stop=3
    ).collect()[0]
    assert r["path"] == "prod.events.cpu"
    assert r["substr_name"] == "events.cpu"     # node slice [1, 3)
    assert r["alias_by_metric"] == "cpu"
    assert r["alias_name"] == "renamed"


# ------------------------------------------------------- wave 7 (r11)

def test_group_by_nodes_keeps_listed_components(spark):
    # groupByNodes(srv.*.disk.*, 'sum', 0, 2): keep (dc, metric-leaf),
    # aggregate the host away
    df = spark.createDataFrame(
        [
            ("dc0.h1.cpu", 0, 1.0), ("dc0.h2.cpu", 0, 2.0),
            ("dc1.h1.cpu", 0, 10.0),
            ("dc0.h1.mem", 0, 5.0),
        ],
        "metric string, ts long, value double",
    )
    got = {(r["name"], r["ts"]): r for r in
           ser.group_by_nodes(df, [0, 2], "sum").collect()}
    assert got[("dc0.cpu", 0)]["value"] == 3.0
    assert got[("dc0.cpu", 0)]["n_series"] == 2
    assert got[("dc1.cpu", 0)]["value"] == 10.0
    assert got[("dc0.mem", 0)]["value"] == 5.0
    # order of kept nodes follows the argument order, like graphite
    got_rev = {r["name"] for r in
               ser.group_by_nodes(df, [2, 0], "sum").collect()}
    assert got_rev == {"cpu.dc0", "cpu.dc1", "mem.dc0"}


def test_apply_by_node_divide_template(spark):
    # applyByNode(srv.*.disk.*, 0, 'divideSeries(%.disk.used,
    # %.disk.total)') — per-host ratio, missing/zero denominator NULL
    df = spark.createDataFrame(
        [
            ("h1.disk.used", 0, 30.0), ("h1.disk.total", 0, 100.0),
            ("h2.disk.used", 0, 10.0), ("h2.disk.total", 0, 0.0),
            ("h3.disk.used", 0, 7.0),   # no total series
        ],
        "path string, ts long, value double",
    )
    got = {r["name"]: r for r in ser.apply_by_node(
        df, 0, "disk.used", "disk.total"
    ).collect()}
    assert got["h1"]["quotient"] == 0.3
    assert got["h2"]["quotient"] is None     # zero denominator
    assert got["h3"]["quotient"] is None     # missing denominator
    assert got["h3"]["numerator"] == 7.0


def test_use_series_above_gate_and_rewrite(spark):
    # disk1 capacity above the gate -> fetch disk1.active_io; disk2
    # stays below -> nothing fetched for it
    df = spark.createDataFrame(
        [
            ("disk1.capacity", 0, 500.0), ("disk1.capacity", 60, 900.0),
            ("disk2.capacity", 0, 50.0),
            ("disk1.active_io", 0, 1.0), ("disk1.active_io", 60, 0.0),
            ("disk2.active_io", 0, 1.0),
        ],
        "metric string, ts long, value double",
    )
    got = sorted(
        (r["metric"], r["ts"], r["value"])
        for r in ser.use_series_above(
            df, 100.0, "capacity", "active_io"
        ).collect()
    )
    assert got == [("disk1.active_io", 0, 1.0), ("disk1.active_io", 60, 0.0)]
    # strict >: a max exactly AT the threshold does not gate through
    assert ser.use_series_above(df, 900.0, "capacity", "active_io") \
        .count() == 0


def test_ema_window_seed_phase_and_none_rules(spark):
    # n=3 keeps the constants exact: c = 0.5. seed = avg(2,4,6) = 4 at
    # the slot AFTER the window; each later slot consumes the PREVIOUS
    # slot's datapoint; None emits None without touching the state
    df = pts_nullable(spark, [
        ("a", 0, 2.0), ("a", 1, 4.0), ("a", 2, 6.0),
        ("a", 3, 10.0), ("a", 4, None), ("a", 5, 8.0),
    ])
    got = {r["ts"]: r["ema"] for r in
           ser.ema_window(df, window_points=3).collect()}
    assert got[3] == 4.0                      # the seed
    assert got[4] == 0.5 * 10.0 + 0.5 * 4.0   # consumes v(ts=3)
    assert got[5] is None                     # consumes v(ts=4) = None
    # all-None window: seed EMITS 0.0 and the state starts at 0.0 —
    # graphite's `ema = safeAvg(window) or 0` is appended
    # unconditionally (ADVICE r11; earlier transcription emitted None)
    df2 = pts_nullable(spark, [
        ("a", 0, None), ("a", 1, None), ("a", 2, None),
        ("a", 3, 4.0), ("a", 4, 6.0),
    ])
    got2 = {r["ts"]: r["ema"] for r in
            ser.ema_window(df2, window_points=3).collect()}
    assert got2[3] == 0.0
    assert got2[4] == 0.5 * 4.0 + 0.5 * 0.0
    # series shorter than the window: no output at all
    short = pts_nullable(spark, [("a", 0, 1.0), ("a", 1, 2.0)])
    assert ser.ema_window(short, window_points=3).count() == 0


def pts_nullable(spark, rows):
    return spark.createDataFrame(
        rows, "metric string, ts long, value double"
    )


def test_offset_to_zero_and_delay(spark):
    df = pts_nullable(spark, [
        ("a", 0, 5.0), ("a", 1, 3.0), ("a", 2, 7.0), ("a", 3, None),
        ("b", 0, -2.0), ("b", 1, 4.0),
    ])
    got = {(r["metric"], r["ts"]): r for r in
           ser.offset_to_zero(df, delay_steps=1).collect()}
    assert got[("a", 0)]["offset_to_zero"] == 2.0   # 5 - min(3)
    assert got[("a", 1)]["offset_to_zero"] == 0.0
    assert got[("a", 3)]["offset_to_zero"] is None  # null rides through
    assert got[("b", 0)]["offset_to_zero"] == 0.0   # negative min rebases
    assert got[("b", 1)]["offset_to_zero"] == 6.0
    assert got[("a", 0)]["delayed"] is None         # nothing to lag
    assert got[("a", 1)]["delayed"] == 5.0
    assert got[("a", 3)]["delayed"] == 7.0


def test_ema_window_time_string_form(spark):
    # graphite's '2h' windowSize over hourly buckets == 2 points:
    # the time form must be exactly the points form at seconds//step
    df = pts_nullable(spark, [
        ("a", 0, 2.0), ("a", 3600, 6.0), ("a", 7200, 4.0),
        ("a", 10800, 8.0),
    ])
    by_points = ser.ema_window(df, window_points=2).collect()
    by_time = ser.ema_window(
        df, window_seconds=7200, step=3600
    ).collect()
    assert sorted((r["ts"], r["ema"]) for r in by_time) == \
        sorted((r["ts"], r["ema"]) for r in by_points)
    import pytest as _pt
    from ceres_spark.errors import InvalidRequest

    with _pt.raises(InvalidRequest):
        ser.ema_window(df, window_seconds=7200)  # step missing


def test_group_by_nodes_mixed_depth_skip_rule(spark):
    # the documented depth-seam contract: an index past a path's
    # node count contributes nothing to the joined name
    df = spark.createDataFrame(
        [("dc0.h1.cpu", 0, 1.0), ("dc0.cpu", 0, 2.0)],
        "metric string, ts long, value double",
    )
    got = {r["name"]: r["value"] for r in
           ser.group_by_nodes(df, [0, 2], "sum").collect()}
    # 3-deep keeps (dc0, cpu); 2-deep has no node 2 -> name "dc0"
    assert got == {"dc0.cpu": 1.0, "dc0": 2.0}


def test_use_series_above_identity_rewrite(spark):
    # re.sub semantics: a gated series whose name does not match the
    # search pattern rewrites to ITSELF and is fetched unchanged
    df = spark.createDataFrame(
        [("other.high", 0, 999.0), ("other.low", 0, 1.0)],
        "metric string, ts long, value double",
    )
    got = [(r["metric"], r["value"]) for r in
           ser.use_series_above(df, 100.0, "capacity", "active").collect()]
    assert got == [("other.high", 999.0)]


def test_fallback_series_both_arms(spark):
    primary = pts_nullable(spark, [("p1", 0, 1.0), ("p2", 0, None)])
    fallback = pts_nullable(spark, [("f1", 0, 9.0)])
    # non-empty primary: fallback suppressed entirely
    got = {(r["metric"], r["src"]) for r in
           ser.fallback_series(primary, fallback).collect()}
    assert got == {("p1", "primary"), ("p2", "primary")}
    # EMPTY primary (list-level gate, not per-series coalesce)
    empty = primary.filter(F.col("metric") == "nope")
    got2 = [(r["metric"], r["src"], r["is_non_null"]) for r in
            ser.fallback_series(empty, fallback).collect()]
    assert got2 == [("f1", "fallback", 1)]


def test_fallback_series_is_non_null_and_limit(spark):
    panel = pts_nullable(spark, [
        ("a", 0, 1.0), ("b", 0, None), ("c", 0, 3.0), ("d", 0, 4.0),
    ])
    empty = panel.filter(F.col("metric") == "nope")
    got = {r["metric"]: r for r in
           ser.fallback_series(empty, panel, limit_n=2).collect()}
    assert got["b"]["is_non_null"] == 0 and got["a"]["is_non_null"] == 1
    # limit(2): first two names in order keep, rest drop
    assert [got[m]["keep_limit"] for m in "abcd"] == [1, 1, 0, 0]
