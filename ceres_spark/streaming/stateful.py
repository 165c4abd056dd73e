"""Custom stateful streaming operators (north-star §2.2:
"applyInPandasWithState for custom stateful operators"): per-group
state carried across micro-batches in the state store.

- :func:`running_stats_stream`: per-metric cumulative count/sum and
  last value — the shape every custom stateful ceres extension takes
  (anomaly flags, rate-of-change, counters that the reference's
  maintenance plugins computed offline).
- :func:`ewma_stream`, :func:`holt_winters_stream`,
  :func:`holt_winters_seasonal_stream`: the live twins of the batch
  smoothers in ``operators/series.py``. Each updater sorts the group's
  micro-batch once, runs the batch fold (``series._ewma_fold`` /
  ``series._holt_fold``) from the stored state and stores the state it
  returns, so a time-ordered replay is bit-identical to the batch pass.
- :func:`cusum_stream`: Page's online CUSUM.
- :func:`kmv_stream`: a live KMV distinct-count sketch.

Scale notes: state is per-group, partitioned by the streaming state
store across executors; each micro-batch touches only groups present
in the batch. Timeouts would bound state for unbounded key spaces
(not needed for bounded metric sets).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ceres_spark.operators.series import _ewma_fold, _holt_bands, _holt_fold

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_ts", LongType()),
        StructField("last_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", LongType()),
        StructField("last_value", DoubleType()),
    ]
)


def _update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (metric,) = key
    if state.exists:
        n, total, last_ts, last_value = state.get
    else:
        n, total, last_ts, last_value = 0, 0.0, -1, None
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        idx = pdf["ts"].idxmax()
        if int(pdf["ts"].loc[idx]) >= last_ts:
            last_ts = int(pdf["ts"].loc[idx])
            last_value = float(pdf["value"].loc[idx])
    state.update((n, total, last_ts, last_value))
    yield pd.DataFrame(
        {
            "metric": [metric],
            "n_events": [n],
            "sum_value": [total],
            "last_ts": [last_ts],
            "last_value": [last_value],
        }
    )


HOLT_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("dev", DoubleType()),
        StructField("inited", LongType()),
    ]
)

HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("forecast", DoubleType()),
        StructField("upper", DoubleType()),
        StructField("lower", DoubleType()),
        StructField("aberration", DoubleType()),
    ]
)


def _sorted_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """A group's whole micro-batch in ts order (None when empty). ONE
    sort over the concatenation: pandas chunks within a group carry no
    cross-chunk ordering guarantee, and a per-chunk sort would fold a
    recurrence out of time order whenever a batch splits into several
    Arrow chunks."""
    chunks = list(pdfs)
    if not chunks:
        return None
    return pd.concat(chunks).sort_values("ts").reset_index(drop=True)


def _holt_stream(
    stream: DataFrame,
    a: float,
    b: float,
    g: float,
    s: float,
    season_length: int = 0,
    step: int = 0,
) -> DataFrame:
    """Both Holt twins: per group, fold the sorted micro-batch from the
    stored (level, trend, dev, inited[, seasonals]) state with
    ``series._holt_fold``, emit its bands, store the new state."""
    L = season_length

    def _upd(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (metric,) = key
        pdf = _sorted_batch(pdfs)
        if pdf is None:
            return
        hw = None
        if state.exists:
            level, trend, d, inited, *seas = state.get
            hw = (level, trend, d, inited, np.asarray(seas[0] if L else []))
        fc, dev, hw = _holt_fold(
            pdf["value"].to_numpy(dtype=float),
            pdf["ts"].to_numpy(dtype=np.int64),
            a, b, g, L, step, hw,
        )
        yield _holt_bands(metric, pdf, fc, dev, s)
        level, trend, d, inited, seas = hw
        row = (float(level), float(trend), float(d), int(inited))
        state.update(row + ((seas.tolist(),) if L else ()))

    return stream.groupBy("metric").applyInPandasWithState(
        _upd,
        outputStructType=HOLT_OUTPUT_SCHEMA,
        stateStructType=(
            HOLT_SEASONAL_STATE_SCHEMA if L else HOLT_STATE_SCHEMA
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def holt_winters_stream(
    stream: DataFrame,
    alpha: float = 0.1,
    beta: float = 0.0035,
    dev_scale: float = 3.0,
) -> DataFrame:
    """Streaming twin of :func:`ceres_spark.operators.series
    .holt_winters`: the (level, trend, deviation) recurrence carried
    across micro-batches as explicit state, emitting forecast/band/
    aberration for every observation as it arrives — the online
    anomaly-detection shape (graphite holtWintersAberration as a
    live stream instead of a nightly batch).

    Equivalence with the batch operator on identically-ordered input
    is pytest-asserted (tests/test_stateful.py): same series fed in
    two micro-batches must produce bit-identical rows. Requires
    per-series batches to arrive in time order (the file/Kafka source
    contract used by the ingest path; late data belongs to the
    backfill route, streaming/ingest.py).
    """
    return _holt_stream(
        stream, float(alpha), float(beta), 0.0, float(dev_scale)
    )


EWMA_STATE_SCHEMA = StructType(
    [StructField("ewma", DoubleType()), StructField("inited", LongType())]
)

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)


def ewma_stream(stream: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming twin of :func:`ceres_spark.operators.series.ewma`:
    the ``e_i = α·v_i + (1−α)·e_{i-1}`` recurrence carried across
    micro-batches as one float and a seeded flag per series — the
    cheapest possible stateful operator, and the live version of
    graphite's ``exponentialMovingAverage``.

    It runs the batch fold (``series._ewma_fold``) from the stored
    state, so a time-ordered replay produces bit-identical doubles to
    the batch pass — which is what lets the replay entry share the
    batch recursive-CTE oracle. State store cost: 16 bytes per live
    series.
    """
    a = float(alpha)

    def _upd(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (metric,) = key
        pdf = _sorted_batch(pdfs)
        if pdf is None:
            return
        st = state.get if state.exists else (np.nan, 0)
        out, (e, inited) = _ewma_fold(
            pdf["value"].to_numpy(dtype=float), a, st
        )
        yield pd.DataFrame({
            "metric": metric, "ts": pdf["ts"], "value": pdf["value"],
            "ewma": out,
        })
        state.update((float(e), int(inited)))

    return stream.groupBy("metric").applyInPandasWithState(
        _upd,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HOLT_SEASONAL_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("dev", DoubleType()),
        StructField("inited", LongType()),
        StructField("seasonals", ArrayType(DoubleType())),
    ]
)


def holt_winters_seasonal_stream(
    stream: DataFrame,
    season_length: int,
    step: int,
    alpha: float = 0.1,
    beta: float = 0.0035,
    gamma: float = 0.1,
    dev_scale: float = 3.0,
) -> DataFrame:
    """Streaming twin of the SEASONAL
    :func:`ceres_spark.operators.series.holt_winters` (additive
    triple smoothing): level/trend/deviation plus the O(L) seasonal
    vector carried as explicit state across micro-batches. The
    seasonal phase is anchored to the timestamp
    (``j = (ts // step) % L``), so a restart resumes in phase and the
    batch operator on identically-ordered input is bit-equal
    (pytest-asserted, tests/test_stateful.py)."""
    return _holt_stream(
        stream, float(alpha), float(beta), float(gamma), float(dev_scale),
        int(season_length), int(step),
    )


def running_stats_stream(stream: DataFrame) -> DataFrame:
    """Attach the stateful running-stats operator to a streaming
    DataFrame with columns (metric string, ts long, value double).
    Emits the updated per-metric totals every micro-batch."""
    return stream.groupBy("metric").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------- CUSUM

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_hi", DoubleType()),
        StructField("s_lo", DoubleType()),
        StructField("last_ts", LongType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("s_hi", DoubleType()),
        StructField("s_lo", DoubleType()),
        StructField("alarm", StringType()),
    ]
)


def make_cusum_update(mu0: float, slack: float, h: float):
    """Page's ONLINE CUSUM recursion (the sequential original — the
    batch twin at operators/series.cusum_changepoints uses the
    retrospective whole-series form):

        S⁺ ← max(0, S⁺ + (x − μ₀ − k))
        S⁻ ← max(0, S⁻ + (μ₀ − k − x))
        alarm when either exceeds h, then RESET that side

    μ₀ is the in-control reference mean, ``slack`` the k allowance,
    ``h`` the decision threshold — all deployment dials, exactly how
    the sequential test is parameterized in the SPC literature.
    State is three numbers per metric; rows inside a batch are
    processed in ts order, so replaying the same stream reproduces
    the same alarms bit-for-bit.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (metric,) = key
        s_hi, s_lo, last_ts = (
            state.get if state.exists else (0.0, 0.0, -1)
        )
        out = []
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for ts, value in zip(rows["ts"], rows["value"]):
            if value is None or pd.isna(value):
                continue
            s_hi = max(0.0, s_hi + (value - mu0 - slack))
            s_lo = max(0.0, s_lo + (mu0 - slack - value))
            alarm = ""
            if s_hi > h:
                alarm, s_hi = "high", 0.0
            if s_lo > h:
                alarm, s_lo = ("low", 0.0) if not alarm else ("both", 0.0)
            out.append((metric, int(ts), float(value), s_hi, s_lo, alarm))
            last_ts = int(ts)
        state.update((float(s_hi), float(s_lo), int(last_ts)))
        yield pd.DataFrame(
            out,
            columns=["metric", "ts", "value", "s_hi", "s_lo", "alarm"],
        )

    return update


def cusum_stream(
    stream: DataFrame, mu0: float, slack: float = 0.5, h: float = 5.0
) -> DataFrame:
    """Online CUSUM over a streaming (metric, ts, value) frame: one
    (s_hi, s_lo) pair of state per metric, alarms emitted in-stream.
    The state is O(1) per metric regardless of history length — the
    property that makes sequential CUSUM the streaming-native form
    (the batch form needs the whole series for its mean)."""
    return stream.groupBy("metric").applyInPandasWithState(
        make_cusum_update(float(mu0), float(slack), float(h)),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType())),
        StructField("rows_seen", LongType()),
    ]
)

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("rows_seen", LongType()),
        StructField("n_tracked", LongType()),
        StructField("est_distinct", DoubleType()),
    ]
)


def kmv_stream(stream: DataFrame, k: int = 64) -> DataFrame:
    """Streaming twin of
    :func:`ceres_spark.operators.sketches.kmv_distinct`: a live
    distinct-user counter per event_type, maintained as a KMV sketch
    in the state store — ≤ ``k`` int64 hashes + one counter per
    group, emitted as (rows_seen, n_tracked, est_distinct) after each
    micro-batch.

    The state transition is pure set-union-then-truncate, which is
    COMMUTATIVE and IDEMPOTENT in the inputs — so the final sketch is
    bit-identical to the batch sketch REGARDLESS of how arrivals are
    batched or ordered. That is the mergeability property that makes
    KMV (like HLL) the warehouse streaming-distinct primitive, and
    it is exactly what the replay entry externally verifies: the
    last emission per group must hash-match the batch KMV SQL.

    The per-value hash is the same portable md5-low31 as the batch
    side (digest bytes 8..16 little-endian, masked to 31 bits), and
    the estimator double arithmetic is written term-for-term like the
    batch column expression — Python floats ARE IEEE doubles, so the
    emitted estimate is bit-equal across the three implementations
    (this stream, the Spark batch plan, the DuckDB oracle).
    """
    import hashlib

    kk = int(k)

    def _upd(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        if state.exists:
            hashes, rows_seen = set(state.get[0]), int(state.get[1])
        else:
            hashes, rows_seen = set(), 0
        for pdf in pdfs:
            vals = pdf["user_id"].dropna()
            rows_seen += int(len(vals))
            for v in vals:
                d = hashlib.md5(str(int(v)).encode()).digest()
                hashes.add(
                    int.from_bytes(d[8:16], "little") & 0x7FFFFFFF
                )
            if len(hashes) > kk:
                hashes = set(sorted(hashes)[:kk])
            n_tracked = min(len(hashes), kk)
            if n_tracked < kk:
                est = float(n_tracked)
            else:
                est = (kk - 1) * float(1 << 31) / sorted(hashes)[kk - 1]
            yield pd.DataFrame(
                {
                    "event_type": [etype],
                    "rows_seen": [rows_seen],
                    "n_tracked": [n_tracked],
                    "est_distinct": [est],
                }
            )
        state.update((sorted(hashes), rows_seen))

    return stream.groupBy("event_type").applyInPandasWithState(
        _upd,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
