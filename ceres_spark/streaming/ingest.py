"""Structured Streaming ingest — the ceres write path as a stream
(SURVEY.md §2 op #17 + §2.2 "watermarked streaming ingest").

Reference: carbon daemons call ``CeresTree.store`` point-batch by
point-batch; ceres accepts arbitrary lateness (a point may be years
old) and resolves duplicate timestamps last-writer-wins in-place
(CeresNode.write ≈L610, CeresSlice.write ≈L790).

Spark-native: ``readStream → foreachBatch(store_batch)``. Each
micro-batch is compacted (quantize + in-batch LWW) and appended with
``arrival_seq = batchId`` and the UTC ``date`` partition
(``operators/compact.store_rows``, the same stored row
``CeresNode.write`` produces) — the streaming engine's monotone batch
id IS the write-order stamp, so cross-batch LWW resolves at read time
with zero streaming state. That preserves ceres's unlimited-lateness
semantics exactly: no watermark drops data on the storage path.

Watermarks appear only on *aggregation* streams (windowed rollups for
dashboards), where bounded state is mandatory at scale; data older
than the watermark still lands in storage via the foreachBatch path
and is picked up by the batch rollup job — the documented backfill
story (SURVEY.md §7 M2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import ceres_spark.operators.compact as cp
from ceres_spark.operators.aggregate import exact_sum
from ceres_spark.operators.windows import _session_totals


def store_batch(
    batch: DataFrame, batch_id: int, target_path: str, time_step: int
) -> None:
    """foreachBatch body: compact within the batch, stamp write order,
    append partitioned by UTC date.

    Single-writer-per-path contract (the physical corollary of
    'one sequencer per table', tree._next_arrival_seq): micro-batches
    of ONE streaming query are serialized by the engine, so this bare
    ``append`` is safe — but TWO queries (or a query plus batch
    writers) appending the same ``target_path`` would race on
    Hadoop's shared ``_temporary/0`` staging (the tree.store bug,
    fixed there with per-commit staging). Point concurrent producers
    at one query via union, or at tree.store.
    """
    out = cp.store_rows(
        batch,
        F.col("metric"),
        F.coalesce(F.col("arrival_seq"), F.lit(0)),
        time_step,
        batch_id,
    )
    out.write.mode("append").partitionBy("date").parquet(target_path)


def stream_store(
    stream: DataFrame,
    target_path: str,
    time_step: int = 60,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Attach the ceres write path to any streaming DataFrame with
    columns (metric, ts epoch-s, value, [arrival_seq]). Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: store_batch(df, bid, target_path, time_step)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def append_log_batch(
    batch: DataFrame, batch_id: int, target_path: str, ts_col: str = "ts"
) -> None:
    """foreachBatch body for FACT streams (events — not point
    upserts, so no quantize/LWW compact): append raw arrivals
    stamped with the micro-batch id, partitioned by UTC date. The
    batch stamp is what the backfill job keys on (everything with
    ``arrival_batch >= since`` is 'late since the dashboard's last
    sound state'); the date partitioning is what lets the backfill's
    affected-window scan prune to the days late data actually
    touched instead of rescanning the 100 TB log."""
    out = batch.withColumn(
        "arrival_batch", F.lit(int(batch_id)).cast("long")
    ).withColumn("date", cp.utc_date(F.unix_timestamp(F.col(ts_col))))
    out.write.mode("append").partitionBy("date").parquet(target_path)


def stream_append_log(
    stream: DataFrame,
    target_path: str,
    checkpoint: str | None = None,
    ts_col: str = "ts",
    trigger_available_now: bool = True,
):
    """The unlimited-lateness STORAGE leg of the backfill story
    (module docstring; VERDICT r9 #7): no watermark here — a years-
    late fact still lands, batch-stamped, and the batch backfill job
    (operators/retention.backfill_rollup_windows) folds it into the
    watermarked dashboard's rollup afterwards. Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: append_log_batch(df, bid, target_path, ts_col)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    stream: DataFrame,
    keys: list[str] = ("metric", "ts"),
    lateness: str = "1 hour",
    ts_col: str = "event_time",
):
    """Streaming exact dedup (§2.2): drop duplicate (metric, ts)
    arrivals within the watermark window —
    ``dropDuplicatesWithinWatermark`` keeps state only for
    ``lateness``, so the dedup is exactly bounded. Storage-path LWW
    still resolves anything later than the watermark."""
    return stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_rollup_stream(
    stream: DataFrame,
    window_seconds: int,
    lateness: str = "1 hour",
    ts_col: str = "ts",
):
    """Watermarked tumbling-window aggregate over an event stream
    (§2.2): bounded state for live rollups. ``ts_col`` must be a real
    timestamp column. Late-beyond-watermark rows are dropped HERE but
    never from storage (see module docstring)."""
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(
            F.window(ts_col, f"{int(window_seconds)} seconds").alias("w"),
            "metric",
        )
        .agg(
            F.count("value").alias("n_points"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            "metric",
            F.unix_timestamp(F.col("w.start")).alias("ts"),
            "n_points",
            "sum_value",
        )
    )


def session_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    lateness: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
):
    """Watermarked session windows over a live event stream (§2.2):
    ``F.session_window`` merges events separated by < ``gap`` into one
    growing window per key; the watermark bounds state — a session
    closes (and emits, in append mode) once the watermark passes its
    end + gap. The batch twin is operators/windows.session_window_agg;
    both build their output with ``windows._session_totals``."""
    sessions = stream.withWatermark(ts_col, lateness).groupBy(
        F.session_window(ts_col, gap).alias("w"), key_col
    )
    return _session_totals(sessions, key_col)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    within: str = "1 hour",
    lateness: str = "1 hour",
    ts_col: str = "ts",
):
    """Watermarked stream-stream join (§2.2): pair each left event
    with right events for the same key that happened in the trailing
    ``within`` interval. Both sides carry watermarks AND the join has
    a time-range conjunct — the two things Structured Streaming needs
    to bound join state (it can drop buffered rows once the watermark
    passes the range), so state stays O(window), not O(stream).
    """
    l = left.select(
        F.col(key_col).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        F.col("value").alias("l_value"),
    ).withWatermark("l_ts", lateness)
    r = right.select(
        F.col(key_col).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", lateness)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_key").alias(key_col),
        "l_ts",
        "r_ts",
        "l_value",
        "r_value",
    )
