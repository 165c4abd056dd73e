"""Write-path compaction: quantize + last-writer-wins dedup (op #16).

Reference: ``CeresNode.compact(datapoints)`` (ceres.py ≈L460-495)
sorts ascending, drops None values, floor-quantizes each timestamp to
the node's timeStep, and resolves duplicate quantized timestamps by
keeping the LAST value in write order (``sequence[-1] = (ts, val)``),
then splits into contiguous runs for slice routing.

Spark mapping: the run-splitting is a slice-file artifact and is
unnecessary with sparse storage; the semantic payload is
sort + quantize + LWW. Distributed LWW needs an explicit write-order
column (``arrival_seq``); ``max_by(value, arrival_seq)`` per
(metric, quantized ts) reproduces "last write wins" without any
in-place mutation — append-only Parquet plus this read-path dedup is
race-free where ceres needed SliceDeleted/retry (ceres.py ≈L640).

Scale: one shuffle on (metric, ts) with map-side partial max_by; no
window function, no sort of the whole table.

The stored points row is decided here too: :func:`store_rows` shapes
a write batch, :func:`stamp` adds ``arrival_seq`` and ``date``, and
:func:`utc_date` is the one ts -> date rule writers and pruners share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def utc_date(ts: Column) -> Column:
    """The ``date`` partition of epoch-second ``ts``: its UTC day.
    Epoch-day arithmetic, so the session timezone never enters
    (``to_date(timestamp_seconds(ts))`` yields session-local days).
    The double quotient floors exactly for every day a DATE holds."""
    return F.date_from_unix_date(F.floor(ts / 86400).cast("int"))


def stamp(rows: DataFrame, seq: int) -> DataFrame:
    """``rows`` (with epoch-second ``ts``) as stored points rows:
    ``arrival_seq = seq`` (the write-order stamp read-time LWW keys on)
    and ``date = utc_date(ts)``."""
    return rows.withColumn(
        "arrival_seq", F.lit(int(seq)).cast("long")
    ).withColumn("date", utc_date(F.col("ts")))


def store_rows(
    batch: DataFrame, metric: Column, order: Column, time_step: int, seq: int
) -> DataFrame:
    """One write batch as stored rows: cast to (metric, ts long, value
    double), :func:`compact` with ``order`` breaking exact-ts ties
    inside the batch, then :func:`stamp` with ``seq``."""
    rows = batch.select(
        metric.alias("metric"),
        F.col("ts").cast("long").alias("ts"),
        F.col("value").cast("double").alias("value"),
        order.alias("arrival_seq"),
    )
    return stamp(compact(rows, time_step), seq)


def quantize(df: DataFrame, time_step: int, ts_col: str = "ts") -> DataFrame:
    """Floor-align epoch-second timestamps to the step grid
    (``t - (t % timeStep)``, ceres.py ≈L520)."""
    step = int(time_step)
    # pure integer math (no double division) — bit-identical on every
    # engine and immune to float rounding at any epoch magnitude
    return df.withColumn(
        ts_col, (F.col(ts_col) - F.col(ts_col) % step).cast("long")
    )


def lww_dedup(
    df: DataFrame,
    keys: list[str] = ("metric", "ts"),
    value_col: str = "value",
    order_col: str = "arrival_seq",
) -> DataFrame:
    """Duplicate quantized timestamps → last (highest arrival_seq)
    value wins. Output schema: keys + value_col."""
    return df.groupBy(*keys).agg(
        F.max_by(value_col, F.col(order_col)).alias(value_col)
    )


def compact(
    df: DataFrame,
    time_step: int,
    keys: list[str] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "arrival_seq",
) -> DataFrame:
    """Full compact semantics: drop NULL values, quantize, LWW dedup.

    Within-bucket winner follows the reference exactly: CeresNode.
    compact sorts ascending by RAW timestamp before the last-wins
    scan (≈L460), so the largest raw ts in a bucket wins, with write
    order (arrival_seq) breaking exact-timestamp ties — hence
    ``max_by(value, struct(raw_ts, arrival_seq))``. (A plain
    arrival-only max_by would be nondeterministic for same-batch
    duplicates, where arrival_seq is constant.)

    Sorting is deliberately omitted: downstream consumers are
    aggregates/joins for which Catalyst plans its own ordering; a
    global sort here would be a wasted full shuffle at scale.
    """
    step = int(time_step)
    cleaned = df.filter(F.col(value_col).isNotNull())
    out = (
        cleaned.withColumn(
            "_q_ts", (F.col(ts_col) - F.col(ts_col) % step).cast("long")
        )
        .groupBy(*keys, "_q_ts")
        .agg(
            F.max_by(
                value_col, F.struct(F.col(ts_col), F.col(order_col))
            ).alias(value_col)
        )
        .withColumnRenamed("_q_ts", ts_col)
    )
    return out


MAX_SLICE_GAP = 80  # reference: ceres.py ≈L45


def slice_runs(
    deduped: DataFrame,
    time_step: int,
    max_gap: int = MAX_SLICE_GAP,
) -> DataFrame:
    """Contiguous-run detection (gaps-and-islands): split each
    metric's quantized points into the runs the reference would store
    as separate slice files — a new run starts when the gap to the
    previous point exceeds ``max_gap`` steps (``CeresNode.write``
    ≈L640: ``SliceGapTooLarge`` → ``CeresSlice.create``; ``compact``
    ≈L460 splits at any gap, write-path routing merges gaps ≤ 80).

    Classic two-window pass: a lag marks run starts (1/0), a running
    sum of the marks numbers the runs; both windows share one
    per-metric sort. Output ``metric, run_start, run_end, n_points``
    is exactly the slice inventory defrag reasons about — at scale
    this IS the small-file audit for the compaction job.

    All arithmetic is integer (quantized BIGINT ts), so runs are
    partitioning-independent.
    """
    from pyspark.sql.window import Window

    step = int(time_step)
    w = Window.partitionBy("metric").orderBy("ts")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    marked = deduped.withColumn(
        "_new_run",
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) > int(max_gap) * step, 1
        )
        .otherwise(0),
    )
    numbered = marked.withColumn(
        "run_id", F.sum("_new_run").over(w_run).cast("long")
    )
    return numbered.groupBy("metric", "run_id").agg(
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
        F.count("*").alias("n_points"),
    )
