"""Fleet-wide physical-plan census (optimization r12, guide §1/§7.2).

For every BATCH registry entry, builds the DataFrame and counts plan
features from ``explain('formatted')``: parquet scans, Exchanges,
Python-boundary nodes, sort-merge vs broadcast joins. Sorting by scan
count surfaces duplicate-subtree disease (Catalyst clones a shared
upstream per consumer) across the whole registry instead of sampling.

Streaming replays are skipped — building their DataFrames executes the
replay itself, which belongs in bench.py, not a planning census.

Usage:
    python tools/plan_census.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from ceres_spark.session import get_spark
from tools.probe import PYTHON_NODES, explain


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_spark("plan-census")
    qs = entrymod.queries()
    names = args.names or [
        n for n in sorted(qs)
        if not n.startswith("stream_")
        # side-effecting builds (fixture writes) excluded like streams
        and n not in {"compact_invariance", "slice_roundtrip",
                      "slice_runs", "expire_catalog"}
    ]
    rows = []
    for name in names:
        try:
            plan = explain(qs[name](spark, args.sf))
        except Exception as e:  # noqa: BLE001 — census, keep walking
            rows.append({"q": name, "err": str(e)[:120]})
            continue
        rows.append({
            "q": name,
            "scans": len(re.findall(r"Scan parquet", plan)),
            "exch": len(re.findall(r"\bExchange\b", plan)),
            "py": sum(plan.count(t) for t in PYTHON_NODES),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        })
    rows.sort(key=lambda r: (-r.get("scans", 0), -r.get("exch", 0)))
    for r in rows:
        print(json.dumps(r))


if __name__ == "__main__":
    main()
