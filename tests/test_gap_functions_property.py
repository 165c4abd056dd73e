"""Property tests: gap functions vs pure-Python graphite references.

The r9 gap family (null_gap_fill's finite-limit keepLastValue,
interpolate_gaps, derivative_integral) reproduces graphite-web
functions.py semantics through window algebra (running non-null
counts, group anchors, frame-scoped first/max). The unit tests pin
hand-picked edges; these hypothesis tests pin the WHOLE semantics by
comparing against straightforward pure-Python reimplementations of
the graphite loops over random series — if the window formulation
diverges from the loop semantics on any shape (gap at the edge, runs
of exactly limit, all-null series, adjacent gaps), the property
fails with the generated counterexample.
"""

import math
import os
import sys

import pytest

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ceres_spark.operators.series as ser  # noqa: E402

# series: a list of Optional[float] values on a dense grid — small
# alphabet of values keeps duplicates/ties in play; None-heavy so gap
# shapes (leading/trailing/adjacent/exact-limit) generate often
series_strategy = st.lists(
    st.one_of(st.none(), st.sampled_from([0.0, 1.0, 2.5, -3.0, 10.0])),
    min_size=1,
    max_size=14,
)


def ref_keep_last(vals, limit):
    """graphite functions.py keepLastValue: fill a consecutive-None
    run ONLY if its whole length <= limit; leading runs never fill."""
    out = list(vals)
    consecutive = 0
    last_i = None
    for i, v in enumerate(vals):
        if v is None:
            consecutive += 1
        else:
            if 0 < consecutive <= limit and last_i is not None:
                for j in range(i - consecutive, i):
                    out[j] = vals[last_i]
            last_i = i
            consecutive = 0
    if 0 < consecutive <= limit and last_i is not None:
        for j in range(len(vals) - consecutive, len(vals)):
            out[j] = vals[last_i]
    return out


def ref_interpolate(vals, limit):
    """graphite interpolate: linear fill of INTERIOR runs <= limit."""
    out = list(vals)
    last_i = None
    run = []
    for i, v in enumerate(vals):
        if v is None:
            run.append(i)
            continue
        if run and last_i is not None and len(run) <= limit:
            prev, nxt = vals[last_i], v
            span = float(len(run) + 1)
            for pos, j in enumerate(run, start=1):
                out[j] = prev + (nxt - prev) * (pos / span)
        last_i = i
        run = []
    return out  # trailing run stays None (no next anchor)


def ref_derivative_integral(vals):
    deriv, integ = [], []
    prev = None
    acc = 0.0
    for v in vals:
        deriv.append(None if (prev is None or v is None) else v - prev)
        prev = v
        if v is None:
            integ.append(None)
        else:
            acc += v
            integ.append(acc)
    return deriv, integ


def _run(spark, vals, fn, col):
    rows = [("m", i * 60, v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "metric string, ts long, value double, arrival_seq long"
    )
    got = {r["ts"]: r[col] for r in fn(df).collect()}
    return [got[i * 60] for i in range(len(vals))]


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


@settings(max_examples=25, deadline=None)
@given(vals=series_strategy, limit=st.integers(0, 4))
def test_keep_last_matches_graphite_loop(spark, vals, limit):
    got = _run(
        spark, vals,
        lambda df: ser.null_gap_fill(df, default=0.0, limit=limit),
        "kept_last",
    )
    want = ref_keep_last(vals, limit)
    assert all(_close(g, w) for g, w in zip(got, want)), (
        vals, limit, got, want
    )


@settings(max_examples=25, deadline=None)
@given(vals=series_strategy, limit=st.integers(0, 4))
def test_interpolate_matches_graphite_loop(spark, vals, limit):
    got = _run(
        spark, vals,
        lambda df: ser.interpolate_gaps(df, limit=limit),
        "interpolated",
    )
    want = ref_interpolate(vals, limit)
    assert all(_close(g, w) for g, w in zip(got, want)), (
        vals, limit, got, want
    )


@settings(max_examples=25, deadline=None)
@given(vals=series_strategy)
def test_derivative_integral_matches_graphite_loop(spark, vals):
    rows = [("m", i * 60, v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "metric string, ts long, value double, arrival_seq long"
    )
    got = {r["ts"]: r for r in ser.derivative_integral(df).collect()}
    d_want, i_want = ref_derivative_integral(vals)
    for i in range(len(vals)):
        r = got[i * 60]
        assert _close(r["derivative"], d_want[i]), (vals, i)
        assert _close(r["integral"], i_want[i]), (vals, i)
