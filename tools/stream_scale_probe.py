"""Streaming replay overhead at scale (VERDICT r5 #5): TIMINGS
claims the ~4–6 s per replay entry is fixed checkpoint/trigger
overhead, constant in data size — measure it instead of claiming it.

Runs the two marquee replay twins (stream_windowed_rollup — file
source → watermarked tumbling agg → foreachBatch, and
stream_simhash_dedup — cross-batch band state through
applyInPandasWithState) against synthesized x1/x4/x16 copies of the
sf0.1 fixtures, via the REAL registry entries (checkpoint, trigger,
sink collapse included). The expected curve: wall ≈ overhead +
slope·rows with overhead ≫ slope·rows at toy scale — i.e. x16 time
well under 16× x1 time, and the x1→x4→x16 increments tracking the
data, not the trigger count (batch count is fixed by the harness).

Usage: python tools/stream_scale_probe.py [mults ...] (default 1 4 16)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark
from tools.scale_probe import synthesize, synthesize_docs


def main() -> None:
    mults = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("stream-scale-probe")
    import __spark_entry__ as entry

    qs = entry.queries()
    base = "/root/testdata/sf0.1"
    # warm-up: one untimed streaming replay so JVM/state-store/python
    # worker startup isn't billed to the x1 point
    qs["stream_windowed_rollup"](spark, base).count()
    results = {}
    for m in mults:
        with tempfile.TemporaryDirectory() as td:
            ev_rows = synthesize(spark, base, m, f"{td}/events.parquet")
            for name in tbl.TABLES:
                src, dst = f"{base}/{name}.parquet", f"{td}/{name}.parquet"
                if not os.path.exists(dst):
                    os.symlink(src, dst)
            os.unlink(f"{td}/documents.parquet")
            # DUP_RATE env (e.g. 0.02): constant-duplicate-density
            # synthesis — near-dup probe output grows linearly with
            # mult instead of quadratically, so the time ratio
            # measures COMPUTE scaling (VERDICT r6 missing #4)
            dup_rate = os.environ.get("DUP_RATE")
            doc_rows = synthesize_docs(
                spark, base, m, f"{td}/documents.parquet",
                dup_rate=float(dup_rate) if dup_rate else None)
            t = {}
            t0 = time.perf_counter()
            qs["stream_windowed_rollup"](spark, td).count()
            t["stream_windowed_rollup"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            qs["stream_simhash_dedup"](spark, td).count()
            t["stream_simhash_dedup"] = round(time.perf_counter() - t0, 2)
            results[f"x{m}"] = {
                "event_rows": ev_rows, "doc_rows": doc_rows, **t}
            print(json.dumps({f"x{m}": results[f"x{m}"]}))
    b = results[f"x{mults[0]}"]
    for m in mults[1:]:
        r = results[f"x{m}"]
        print(json.dumps({
            "scale": f"x{m} vs x{mults[0]}",
            "data_ratio": m,
            "time_ratios": {
                k: round(r[k] / max(b[k], 1e-9), 2)
                for k in ("stream_windowed_rollup", "stream_simhash_dedup")
            },
        }))


if __name__ == "__main__":
    main()
