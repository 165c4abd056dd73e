"""Hot-key skew probe (VERDICT r5 #3): stop ASSERTING that skew is
handled and measure it.

Builds deliberately skewed twins of the sf0.1 fixtures — ONE hot key
owns ~50% of the rows (hot metric in points, hot user in events, hot
orderkey in lineitem) — and times the window / rollup / transition /
funnel family plus one fact-fact join against the uniform baseline,
at x1 and x4 data. For the join, the executed (post-AQE) plan is
inspected for the skew-split marker so "AQE handles it" is read off
the plan, not assumed.

What SHOULD happen, by operator class:

- grouped aggregates (rollup, sliding window): hot keys are
  neutralized by partial aggregation — each task combines locally,
  the exchange carries one row per (task, key); skew ≈ uniform.
- sort-merge fact-fact join: the hot key's shuffle partition is
  oversized; AQE skew-join splits it into parallel sub-partitions
  (spark.sql.adaptive.skewJoin). Expect skew ≲ a small constant ×
  uniform, with skew=true visible in the final plan.
- per-key SEQUENTIAL windows (event_transitions, funnel's per-user
  first-touch): semantics pin the hot user's rows to one task; no
  engine can parallelize a sequence it must order. Expect the hot
  partition to serialize — the probe MEASURES how far that drags
  wall time at 50% share, and docs/SCALING.md documents the
  data-model rule (a key owning half the corpus is an upstream bug:
  bot traffic to drop, or a salt-and-merge rewrite for associative
  parts).

Usage: python tools/skew_probe.py [mults ...]   (default 1 4)
Emits one JSON line per (variant, mult) plus a ratio summary.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import ceres_spark.operators.analytics as ana
import ceres_spark.operators.compact as cp
import ceres_spark.operators.retention as ret
import ceres_spark.operators.windows as win
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark

BASE = "/root/testdata/sf0.1"


def synth_points(spark, out: str, mult: int, skew: bool) -> int:
    pts = tbl.points(spark, BASE).filter(F.col("value").isNotNull())
    parts = []
    for i in range(mult):
        parts.append(
            pts.select(
                F.concat(F.col("metric"), F.lit(f"_c{i}")).alias("metric"),
                (F.col("ts") + i).alias("ts"),
                "value",
                (F.col("arrival_seq") + i).alias("arrival_seq"),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if skew:
        # ~50% of rows collapse onto ONE metric (deterministic)
        df = df.withColumn(
            "metric",
            F.when(F.col("arrival_seq") % 2 == 0, F.lit("m_hot"))
            .otherwise(F.col("metric")),
        )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def synth_events(spark, out: str, mult: int, skew: bool) -> int:
    ev = tbl.load(spark, "events", BASE)
    import pyspark.sql.types as T

    is_nanos = isinstance(ev.schema["ts"].dataType, T.LongType)
    n = ev.count()
    parts = []
    for i in range(mult):
        shifted = (
            F.col("ts") + F.lit(i * 60_000_000_000)
            if is_nanos
            else F.col("ts") + F.expr(f"INTERVAL {i * 60} SECONDS")
        )
        parts.append(
            ev.select(
                (F.col("event_id") + i * n).alias("event_id"),
                shifted.alias("ts"),
                (F.col("user_id") + i * 100_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if skew:
        # ~50% of events belong to ONE user
        df = df.withColumn(
            "user_id",
            F.when(F.col("event_id") % 2 == 0, F.lit(1))
            .otherwise(F.col("user_id")),
        )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def synth_lineitem(spark, out: str, mult: int, skew: bool) -> int:
    li = tbl.load(spark, "lineitem", BASE)
    n = li.count()
    parts = []
    for i in range(mult):
        parts.append(li)  # orderkeys repeat — fine for a join probe
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if skew:
        hot = li.agg(F.min("l_orderkey")).collect()[0][0]
        df = df.withColumn(
            "l_orderkey",
            F.when(F.col("l_linenumber") % 2 == 0, F.lit(hot))
            .otherwise(F.col("l_orderkey")),
        )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def probe(spark, pts_dir: str, ev_dir: str, li_dir: str) -> dict:
    t: dict[str, float] = {}
    pts = spark.read.parquet(pts_dir)
    ev = spark.read.parquet(ev_dir)
    li = spark.read.parquet(li_dir)
    orders = tbl.load(spark, "orders", BASE)

    t0 = time.perf_counter()
    ret.rollup(cp.lww_dedup(pts), "average", 60, 3600).count()
    t["rollup"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    win.sliding_window_agg(ev).count()
    t["sliding_window"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    ana.event_transitions(ev).count()
    t["event_transitions"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    ana.funnel(ev).count()
    t["funnel"] = round(time.perf_counter() - t0, 2)

    # salt-and-merge twins (r7): same output bit-for-bit (oracle-
    # shared with the unsalted entries), measured here to show the
    # hot-key serialization cost actually drops
    t0 = time.perf_counter()
    ana.event_transitions_salted(ev).count()
    t["event_transitions_salted"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    ana.funnel_salted(ev).count()
    t["funnel_salted"] = round(time.perf_counter() - t0, 2)

    # fact-fact sort-merge join on the (possibly hot) orderkey;
    # broadcast suppressed so the probe exercises the shuffle path
    # AQE must rescue, as it would at real fact×fact scale
    def join_once() -> tuple[float, bool]:
        t0 = time.perf_counter()
        # five carried fact columns: skew DETECTION is byte-based on
        # the shuffle files, and a pruned-to-the-join-key hot
        # partition (one constant value) compresses to ~nothing —
        # realistic fact rows are what make the hot partition big
        j = li.hint("merge").join(
            orders, li.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").alias("rev"),
            F.sum("l_discount").alias("disc"),
            F.sum("l_quantity").alias("qty"),
            F.sum("l_partkey").alias("pk"),
            F.sum("l_suppkey").alias("sk"),
        )
        # collect() (tiny: one row per priority) executes THIS
        # DataFrame's own QueryExecution — count() would wrap it in a
        # new one and the AQE-final plan would never be visible here
        j.collect()
        dt = round(time.perf_counter() - t0, 2)
        plan = j._jdf.queryExecution().executedPlan().toString()
        return dt, ("skew=true" in plan) or ("skewed" in plan.lower())

    t["fact_join"], t["fact_join_aqe_skew_split"] = join_once()

    # same join with the AQE skew dials scaled to TOY partition
    # sizes: production defaults trigger at 256 MB — a 50%-hot toy
    # partition is a few MB, so at fixture scale the default dial
    # correctly does nothing. Scaling threshold/advisory down by the
    # same ratio demonstrates the MECHANISM engaging (what a 100 TB
    # hot partition would hit at the default dial).
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1m",
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        (
            t["fact_join_scaled_dial"],
            t["fact_join_scaled_dial_skew_split"],
        ) = join_once()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    return t


def main() -> None:
    mults = [int(x) for x in sys.argv[1:]] or [1, 4]
    spark = get_spark("skew-probe")
    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as td:
        # warm up codegen/worker pool on a throwaway x1 uniform pass
        for variant in ("uniform", "skew"):
            for m in mults:
                key = f"{variant}_x{m}"
                pd_, ed_, ld_ = (
                    os.path.join(td, f"{key}_pts"),
                    os.path.join(td, f"{key}_ev"),
                    os.path.join(td, f"{key}_li"),
                )
                rows = synth_points(spark, pd_, m, variant == "skew")
                synth_events(spark, ed_, m, variant == "skew")
                synth_lineitem(spark, ld_, m, variant == "skew")
                if key == f"uniform_x{mults[0]}":
                    probe(spark, pd_, ed_, ld_)  # warm-up, untimed
                results[key] = {"rows": rows,
                                **probe(spark, pd_, ed_, ld_)}
                print(json.dumps({key: results[key]}))
    ops = [k for k in results[f"uniform_x{mults[0]}"]
           if k not in ("rows",) and not k.endswith("skew_split")]
    for m in mults:
        u, s = results[f"uniform_x{m}"], results[f"skew_x{m}"]
        print(json.dumps({
            "summary": f"skew/uniform at x{m}",
            "ratios": {k: round(s[k] / max(u[k], 1e-9), 2) for k in ops},
            "aqe_skew_split_default_dial":
                s["fact_join_aqe_skew_split"],
            "aqe_skew_split_scaled_dial":
                s["fact_join_scaled_dial_skew_split"],
        }))


if __name__ == "__main__":
    main()
