"""Interleaved A/B: event_transitions targeted-salted vs blanket-chunked.

VERDICT r8 "what's wrong" #1: the r8 single-job detection rework made
`event_transitions_salted` 1.22→2.67 s at toy scale (sf0.1, registry
regime hot_min_rows=60 → ~every user flagged hot → the detection
groupBy + broadcast flag join are pure overhead). This probe measures
the three forms INTERLEAVED (round-robin, so host drift hits all arms
equally) at:

- x1: the sf0.1 events fixture with hot_min_rows=60 — exactly what
  the registry entry runs (the toy-scale regression regime);
- x64 h50/h90: salt_probe's synthetic skew (one user owning 50%/90%
  of 6.4M events) with the production hot_min_rows=1M — the regime
  the salted twin exists for.

Arms: unsalted `event_transitions`, targeted `event_transitions_salted`,
blanket `event_transitions_chunked` (no detection job, bounds from one
min/max scalar scan). Emits one JSON line per (scale, arm) with
min/median over rounds, plus a conditions line.

Usage: python tools/transitions_ab.py [rounds]   (default 5)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ceres_spark.operators.analytics as ana
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark
from tools.salt_probe import synth

BASE = "/root/testdata/sf0.1"


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("transitions-ab")

    import pyspark.sql.functions as F

    scales = {}
    ev_x1 = tbl.load(spark, "events", BASE)
    scales["x1_sf0.1"] = (
        ev_x1,
        {
            "unsalted": lambda d: ana.event_transitions(d),
            "salted_hot60": lambda d: ana.event_transitions_salted(
                d, n_chunks=32, hot_min_rows=60
            ),
            "chunked": lambda d: ana.event_transitions_chunked(
                d, n_chunks=32
            ),
        },
    )

    td = tempfile.mkdtemp()
    df64 = synth(spark, 64)
    # x64_uniform (m=None) completes the table — the regime where the
    # blanket form pays its structural overhead and the targeted
    # form's early-exit caps cost at the detection aggregate
    # (TIMINGS.md §r9 addendum)
    for m, name in ((None, "x64_uniform"), (2, "x64_h50"),
                    (10, "x64_h90")):
        out = os.path.join(td, name)
        d = df64 if m is None else df64.withColumn(
            "user_id",
            F.when(F.col("event_id") % m != 0, F.lit(1)).otherwise(
                F.col("user_id")
            ),
        )
        d.write.mode("overwrite").parquet(out)
        scales[name] = (
            spark.read.parquet(out),
            {
                "unsalted": lambda d: ana.event_transitions(d),
                "salted_1M": lambda d: ana.event_transitions_salted(d),
                "chunked": lambda d: ana.event_transitions_chunked(d),
            },
        )

    results: dict[tuple[str, str], list[float]] = {}
    # warm each arm once (plan compile, file listing), then measure
    for _warm in range(1):
        for sname, (d, arms) in scales.items():
            for aname, fn in arms.items():
                fn(d).count()
    for _ in range(rounds):
        for sname, (d, arms) in scales.items():
            for aname, fn in arms.items():
                t0 = time.perf_counter()
                fn(d).count()
                dt = time.perf_counter() - t0
                results.setdefault((sname, aname), []).append(dt)

    for (sname, aname), ts in results.items():
        print(json.dumps({
            "scale": sname, "arm": aname,
            "min_s": round(min(ts), 3),
            "median_s": round(statistics.median(ts), 3),
            "runs": [round(t, 3) for t in ts],
        }))
    print(json.dumps({"conditions": {
        "loadavg": os.getloadavg(), "rounds": rounds,
    }}))


if __name__ == "__main__":
    main()
