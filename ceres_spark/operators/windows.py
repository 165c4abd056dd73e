"""Event-stream window operators beyond ceres (north-star §2.2):
time-bucketed aggregation, sliding windows, session windows, and JSON
props extraction over the ``events`` table.

Ceres's only windowing is the fixed-factor downsample (op #20); these
generalize the read path to arbitrary event facts, which is what the
new engine's users actually run at 100 TB. All are single-shuffle
groupBys on (key, window) with map-side partial aggregation; session
windows are Spark's built-in ``session_window`` (state-merging is the
planner's problem, not ours).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from ceres_spark.operators.aggregate import exact_sum


def event_time(events: DataFrame, col: str = "ts") -> Column:
    """Real TimestampType event time (events.ts arrives as epoch-nanos
    long under the nanosAsLong read path; truncate to microseconds)."""
    import pyspark.sql.types as T

    dtype = events.schema[col].dataType
    if isinstance(dtype, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} DIV 1000"))
    return F.col(col)


def sliding_window_agg(
    events: DataFrame,
    window_s: int = 3600,
    slide_s: int = 1800,
    key: str = "event_type",
) -> DataFrame:
    """Sliding-window count/sum per key: each event lands in
    ``window_s / slide_s`` overlapping windows. Output window starts
    are epoch-second BIGINTs."""
    et = event_time(events)
    w = F.window(et, f"{window_s} seconds", f"{slide_s} seconds")
    return (
        events.groupBy(F.col(key).alias("metric"), w.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            "metric",
            F.unix_timestamp("w.start").alias("ts"),
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap_s: int = 1800,
    key: str = "user_id",
) -> DataFrame:
    """Session windows: consecutive events of one key belong to one
    session while gaps stay under ``gap_s``. Output: session start
    (epoch s, floored), event count, value sum per session."""
    et = event_time(events)
    sw = F.session_window(et, f"{gap_s} seconds")
    return _session_totals(events.groupBy(F.col(key), sw.alias("w")), key)


def _session_totals(sessions: GroupedData, key: str) -> DataFrame:
    """Event count and exact value sum per (``key``, session window
    ``w``) as (key, session_start epoch s, n_events, sum_value) — the
    one aggregate and projection the batch sessions above and the
    watermarked ``streaming.ingest.session_stream`` share."""
    return sessions.agg(
        F.count("*").alias("n_events"),
        exact_sum("value").alias("sum_value"),
    ).select(
        key,
        F.unix_timestamp(F.col("w.start")).alias("session_start"),
        "n_events",
        "sum_value",
    )


def props_flatten(events: DataFrame, sample: int = 100) -> DataFrame:
    """Schema-on-read FULL flatten of the JSON ``props`` column into
    typed top-level ``props_<key>`` columns — no named-key list
    required (the named-key fast path is :func:`props_extract_agg`).

    Schema inference runs on a bounded driver-side sample (``limit
    (sample)`` — bounded like the IVF training sample, not a table
    collect), merged by Spark's JSON schema inference; the full-table
    parse is then ONE JVM-side ``from_json`` with the fixed schema —
    distributed, codegen'd, no Python in the hot path. Keys seen only
    outside the sample parse as NULL (the standard schema-on-read
    contract; raise ``sample`` for long-tail key spaces).
    """
    spark = events.sparkSession
    rows = (
        events.select("props")
        .filter(F.col("props").isNotNull())
        .limit(int(sample))
        .collect()
    )
    exemplars = [r[0] for r in rows]
    if not exemplars:
        return events.select("event_id")
    schema = spark.read.json(
        spark.sparkContext.parallelize(exemplars)
    ).schema
    parsed = events.withColumn("_p", F.from_json("props", schema))
    flat = [
        F.col(f"_p.{f.name}").alias(f"props_{f.name}")
        for f in schema.fields
        if not f.name.startswith("_corrupt")
    ]
    keep = [c for c in events.columns if c != "props"]
    return parsed.select(*keep, *flat)


def props_extract_agg(events: DataFrame) -> DataFrame:
    """JSON props extraction (multimodal/typed-metadata pattern):
    pull ``$.k`` out of the JSON string column, aggregate per
    event_type. ``get_json_object`` is JVM-side — no Python."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return events.select(
        F.col("event_type").alias("metric"), k.alias("k")
    ).groupBy("metric").agg(
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )
