"""Render front-door scale probe (r12): do composed target plans
survive data-volume scale-up?

Synthesizes N× the sf0.1 events table (scale_probe.synthesize — the
time-shifted copies keep METRIC cardinality constant at 5 while
point volume grows N×, exactly the render regime: dashboards rank a
bounded series panel over an unbounded point axis), compacts it to
the minute store the registry's render entries use, and times four
composed shapes at each multiple:

- combine:  alias(sumSeries(scale(...)))      — grouped-agg chain
- panel:    limit(sortByMaxima(summarize()))  — rank + semi-join
- linreg:   linearRegression(*)               — params broadcast join
- hw:       holtWintersConfidenceBands(one)   — per-series recursion
            (sequential per series BY DESIGN — the wall for this one
            should grow ~linearly with points-per-series and that is
            the honest bound; parallelism is across metrics)

Linear wall growth with flat per-row cost = the composed plan holds;
super-linear growth flags a shuffle/skew problem introduced by the
composition layer (the operators underneath are already soak-proven).

Usage: python tools/render_scale_probe.py [multiples ...]  (default 1 4 16)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import ceres_spark.operators.compact as cp
import ceres_spark.sources.tables as tbl
from ceres_spark.plans.render import render
from ceres_spark.session import get_spark
from tools.scale_probe import synthesize

TARGETS = {
    "combine": 'alias(sumSeries(scale(prod.events.{click,view},2)),"x")',
    "panel": 'limit(sortByMaxima(summarize(prod.events.*,"1h","max")),3)',
    "linreg": "linearRegression(prod.events.*)",
    "hw": "holtWintersConfidenceBands(prod.events.click)",
}


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    base = "/root/testdata/sf0.1"
    spark = get_spark("render-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    with tempfile.TemporaryDirectory(prefix="render_scale_") as tmp:
        for m in mults:
            if m == 1:
                sf_dir = base
                rows = tbl.load(spark, "events", base).count()
            else:
                sf_dir = f"{tmp}/x{m}"
                rows = synthesize(spark, base, m, f"{sf_dir}/events.parquet")
            store = cp.compact(tbl.points(spark, sf_dir), 60).select(
                F.concat(F.lit("prod.events."), F.col("metric"))
                .alias("metric"),
                "ts",
                "value",
            )
            entry = {"mult": m, "rows": rows}
            for name, target in TARGETS.items():
                t0 = time.perf_counter()
                n = render(spark, target, series=store).count()
                dt = round(time.perf_counter() - t0, 2)
                entry[name] = dt
                entry[f"{name}_rows"] = n
            results.append(entry)
            print(json.dumps(entry), flush=True)
    base_row = results[0]
    for r in results[1:]:
        ratio = {
            k: round(r[k] / base_row[k], 2)
            for k in TARGETS
            if base_row[k] > 0
        }
        print(
            json.dumps(
                {"mult": r["mult"], "data_x": r["rows"] / base_row["rows"],
                 "wall_ratio": ratio}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
