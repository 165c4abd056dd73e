"""Backfill repair job at scale (r10): backfill_rollup_windows
claims its store scan is eligible for dynamic partition pruning
because the affected-window set joins on the append-log's ``date``
partition column — verify the claim on the EXECUTED plan and measure
the wall curve, instead of arguing it.

Shape: synthesized x{m} event stores written date-partitioned
exactly like stream_append_log does (30 days of data), with the
LATE set confined to the first 6 hours of day 1 (the registry
entry's scenario) — so a pruning scan should touch ~1 day of
partitions, not 30. For each multiple the probe runs the repair
twice: once on the date-partitioned store (3-key join, DPP-eligible)
and once with the date column dropped (2-key join — the pre-r10
shape), printing wall seconds and whether the executed plan's store
scan carries a dynamicpruning expression.

Expected: `dpp_plan=True` on the partitioned arm at every multiple,
wall sub-linear in m on both arms at toy scale (local[32] fixed
overhead dominates), and the partitioned arm at worst at parity —
the pruning payoff is an at-scale I/O bound, the probe's job is to
prove the plan SHAPE that delivers it.

Usage: python tools/backfill_scale_probe.py [--skew] [mults ...]
(default 1 4 16)

``--skew`` (VERDICT r10 #7): OUTAGE-shaped late distribution — one
hot metric contributes every one of its first-6h rows to the late
set (instead of the uniform event_id%3 sample), so a single metric
carries the majority of late rows. The probe then also reports the
repaired leg's per-partition row balance (max/median over the final
groupBy(metric, ts) shuffle): the repair keys on (metric, WINDOW),
so even a one-metric outage fans out across its windows and no
single hot task should appear.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import ceres_spark.operators.retention as ret
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark
from tools.scale_probe import synthesize


def _build_store(
    spark, src_events_dir: str, out: str, skew: bool = False
) -> tuple[int, int]:
    """events → the append-log layout (metric, ts timestamp, x epoch,
    value, arrival_batch, date partition): late = first-6h rows with
    event_id%3==0 stamped batch 3, everything else batches 0-2 by
    time quartile — the registry entry's deterministic scenario.
    ``skew=True`` swaps the uniform late sample for the outage shape:
    ALL of metric 'click's first-6h rows are late plus a thin
    event_id%10 sample of the rest, so one metric carries the
    majority of the late set."""
    ev_raw = tbl.load(spark, "events", src_events_dir)
    sec = tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
    ev = ev_raw.select(
        F.col("event_type").alias("metric"),
        F.timestamp_seconds(sec).alias("ts"),
        "value",
        sec.alias("x"),
        "event_id",
    )
    x0, x1 = ev.agg(F.min("x"), F.max("x")).collect()[0]
    cut = int(x0) - int(x0) % 300 + 6 * 3600
    if skew:
        late = (F.col("x") < F.lit(cut)) & (
            (F.col("metric") == "click") | (F.col("event_id") % 10 == 0)
        )
    else:
        late = (F.col("x") < F.lit(cut)) & (F.col("event_id") % 3 == 0)
    span = int(x1) - int(x0) + 1
    batch = F.when(late, F.lit(3)).otherwise(
        F.expr(f"(3 * (x - {int(x0)})) div {span}")
    )
    store = ev.select(
        "metric", "ts", "x", "value",
        batch.cast("long").alias("arrival_batch"),
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            F.floor(F.col("x") / 86400).cast("int"),
        ).alias("date"),
    )
    store.write.mode("overwrite").partitionBy("date").parquet(out)
    n_late = store.filter(F.col("arrival_batch") >= 3).count()
    return store.count(), n_late


def _repair_wall(spark, store_path: str, with_date: bool) -> tuple[float, bool, int]:
    stored = spark.read.parquet(store_path)
    if not with_date:
        stored = stored.drop("date")
    dashboard = (
        stored.filter(F.col("arrival_batch") < 3)
        .groupBy(
            "metric",
            (F.col("x") - F.col("x") % 300).cast("long").alias("ts"),
        )
        .agg(
            F.count("value").alias("n_points"),
            F.sum("value").alias("sum_value"),
        )
    )
    out = ret.backfill_rollup_windows(stored, dashboard, 300, since_batch=3)
    t0 = time.perf_counter()
    n = out.count()
    wall = time.perf_counter() - t0
    plan = out._jdf.queryExecution().executedPlan().toString()
    return round(wall, 2), "dynamicpruning" in plan.lower(), n


def _repaired_balance(spark, store_path: str) -> dict:
    """Per-partition row balance of the REPAIRED leg's final
    groupBy(metric, ts) shuffle — the hot-task check for the outage
    shape: one metric's late rows fan out across its windows, so the
    post-shuffle partitions should stay balanced (max close to
    median, no partition holding the whole outage)."""
    stored = spark.read.parquet(store_path)
    dashboard = (
        stored.filter(F.col("arrival_batch") < 3)
        .groupBy(
            "metric",
            (F.col("x") - F.col("x") % 300).cast("long").alias("ts"),
        )
        .agg(
            F.count("value").alias("n_points"),
            F.sum("value").alias("sum_value"),
        )
    )
    repaired = ret.backfill_rollup_windows(
        stored, dashboard, 300, since_batch=3
    ).filter(F.col("patched") == 1)
    parts = sorted(
        r["count"]
        for r in repaired.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    # per-KEY group sizes: the recompute aggregates store rows per
    # (metric, window) with map-side partial aggregation, so the
    # straggler risk is the largest single window's row count — for
    # an outage confined to one metric that is bounded by
    # window_seconds x that metric's ingest rate, NOT by outage size
    groups = sorted(
        r["n_points"] for r in repaired.select("n_points").collect()
    )
    if not groups:
        return {"partitions": 0}
    return {
        "partitions_after_aqe": len(parts),
        "partition_rows_max": parts[-1] if parts else 0,
        "repaired_windows": len(groups),
        "window_rows_max": int(groups[-1]),
        "window_rows_median": int(groups[len(groups) // 2]),
        "window_max_over_median": round(
            groups[-1] / max(groups[len(groups) // 2], 1), 2
        ),
    }


def main() -> None:
    args = sys.argv[1:]
    skew = "--skew" in args
    mults = [int(x) for x in args if x != "--skew"] or [1, 4, 16]
    spark = get_spark("backfill-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = "/root/testdata/sf0.1"
    results = {}
    for m in mults:
        with tempfile.TemporaryDirectory() as td:
            synthesize(spark, base, m, f"{td}/events.parquet")
            rows, n_late = _build_store(spark, td, f"{td}/store", skew=skew)
            if m == mults[0]:  # warm the JVM once, untimed
                _repair_wall(spark, f"{td}/store", True)
            w_dpp, dpp_seen, n_out = _repair_wall(spark, f"{td}/store", True)
            w_flat, _, n_out2 = _repair_wall(spark, f"{td}/store", False)
            assert n_out == n_out2, (n_out, n_out2)
            results[f"x{m}"] = {
                "store_rows": rows, "late_rows": n_late,
                "out_windows": n_out,
                "wall_date_partitioned_s": w_dpp,
                "dpp_in_plan": dpp_seen,
                "wall_no_date_s": w_flat,
            }
            if skew:
                results[f"x{m}"]["repaired_balance"] = _repaired_balance(
                    spark, f"{td}/store"
                )
            print(json.dumps({f"x{m}": results[f"x{m}"]}))
    b = results[f"x{mults[0]}"]
    for m in mults[1:]:
        r = results[f"x{m}"]
        print(json.dumps({
            "scale": f"x{m} vs x{mults[0]}",
            "data_ratio": m,
            "wall_ratio_date_partitioned": round(
                r["wall_date_partitioned_s"]
                / max(b["wall_date_partitioned_s"], 1e-9), 2),
            "wall_ratio_no_date": round(
                r["wall_no_date_s"] / max(b["wall_no_date_s"], 1e-9), 2),
        }))


if __name__ == "__main__":
    main()
