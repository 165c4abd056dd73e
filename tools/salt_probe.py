"""Targeted-salting probe (VERDICT r6 #2): measure the salted
analytics twins against their unsalted forms across hot-key shares,
at a multiplier big enough that per-key SEQUENTIAL work actually
dominates the fixed scan/shuffle floor (x64 → 6.4M events; at the
x4 the r6 skew probe used, the hot task costs ~0.3 s and vanishes
into host noise — measured both ways this round).

Shapes probed per hot share (uniform / 50% / 90% one-user):
- event_transitions vs event_transitions_salted — the genuinely
  sequential family: the salted form runs the per-user LEAD window
  per (user, time-chunk) with a boundary merge.
- funnel vs funnel_salted with broadcast joins DISABLED — the
  at-scale regime where reach is user-cardinality and the hits⋈reach
  join is sort-merge (with broadcast on, toy-scale funnel has no
  skew exposure at all: AQE broadcasts the tiny reach side).

Expected reading (reference numbers in docs/SCALING.md §SKEW):
uniform ≈ parity (the salted forms early-exit to the unsalted plan
after one detection aggregate); transitions win grows with hot
share (~0.55× at 90%); funnel_salted stays a measured fixed
overhead at toy scale because the unsalted funnel's hot task never
reaches the critical path below ~10^7 rows per hot key — the salted
plan is the shape you deploy when it does.

Usage: python tools/salt_probe.py [mult] [runs]   (default 64 3)
Emits one JSON line per (share, op) with min-of-runs wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
import pyspark.sql.types as T

import ceres_spark.operators.analytics as ana
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark

BASE = "/root/testdata/sf0.1"


def synth(spark, mult: int):
    ev = tbl.load(spark, "events", BASE)
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
    return df


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("salt-probe")

    def bench(d, fn):
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(d).count()
            ts.append(round(time.perf_counter() - t0, 2))
        return min(ts), ts

    df = synth(spark, mult)
    with tempfile.TemporaryDirectory() as td:
        dirs = {}
        # hot share via event_id mod m: share = (m-1)/m on user 1
        for m, name in ((None, "uniform"), (2, "h50"), (10, "h90")):
            out = os.path.join(td, name)
            hot = (
                df
                if m is None
                else df.withColumn(
                    "user_id",
                    F.when(
                        F.col("event_id") % m != 0, F.lit(1)
                    ).otherwise(F.col("user_id")),
                )
            )
            hot.write.mode("overwrite").parquet(out)
            dirs[name] = out
        for name in dirs:
            d = spark.read.parquet(dirs[name])
            for fn, label in (
                (ana.event_transitions, "event_transitions"),
                (ana.event_transitions_salted, "event_transitions_salted"),
            ):
                best, all_ts = bench(d, fn)
                print(json.dumps({"share": name, "op": label,
                                  "min_s": best, "runs": all_ts}))
        # funnel: suppress broadcast so the probe exercises the
        # sort-merge reach join a user-cardinality reach forces
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        for name in dirs:
            d = spark.read.parquet(dirs[name])
            for fn, label in (
                (ana.funnel, "funnel_noBC"),
                (ana.funnel_salted, "funnel_salted_noBC"),
            ):
                best, all_ts = bench(d, fn)
                print(json.dumps({"share": name, "op": label,
                                  "min_s": best, "runs": all_ts}))
    print(json.dumps({"conditions": {"loadavg": os.getloadavg(),
                                     "mult": mult, "runs": runs}}))


if __name__ == "__main__":
    main()
