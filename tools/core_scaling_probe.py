"""Core-scaling probe at a synthetic larger SF (optimization r13,
VERDICT r12 #7 / "What's wrong" #5): the sf0.1 inputs are one parquet
row group per table, so the driver's c8-vs-c32 scaling block mostly
measures fixed costs. This probe synthesizes an N× documents table
(doc_id-offset copies — same %-cycle contracts, more volume, multiple
row groups) next to the untouched sf0.1 side tables, then times the
named CPU-heavy registry entries at two core counts in SEPARATE
processes (a local[k] master is fixed per JVM).

Usage:
  python tools/core_scaling_probe.py --mult 10 \
      --queries phash_neardup,audio_neardup,... [--passes 2]
  (run once; it runs tools/probe.py in one child process per core
  count, with SPARK_GRAFT_CPUS set)

Writes one JSON line: per query, min wall at each core count and the
c32/c8 speedup. Builder-side measurement only — nothing here touches
the driver fixtures or the bench contract.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def synthesize(mult: int, base: str, out_dir: str) -> None:
    """N× documents via doc_id-offset copies (offset = a power of 10
    above max id × copy index, so every doc_id % k cycle pattern keeps
    cycling); other tables copied through untouched."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(base):
        if name != "documents.parquet":
            dst = os.path.join(out_dir, name)
            if not os.path.exists(dst):
                shutil.copyfile(os.path.join(base, name), dst)
    con = duckdb.connect()
    max_id = con.execute(
        f"SELECT max(doc_id) FROM read_parquet('{base}/documents.parquet')"
    ).fetchone()[0]
    off = 1
    while off <= max_id:
        off *= 10
    cols = [
        r[0]
        for r in con.execute(
            f"SELECT * FROM read_parquet('{base}/documents.parquet') LIMIT 0"
        ).description
    ]
    parts = " UNION ALL ".join(
        f"SELECT doc_id + {i * off} AS doc_id, "
        + ", ".join(c for c in cols if c != "doc_id")
        + f" FROM read_parquet('{base}/documents.parquet')"
        for i in range(mult)
    )
    con.execute(
        f"COPY ({parts}) TO '{out_dir}/documents.parquet' "
        "(FORMAT PARQUET, ROW_GROUP_SIZE 20000)"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--cpus", default="8,32")
    args = ap.parse_args()
    names = [q.strip() for q in args.queries.split(",") if q.strip()]

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = f"/tmp/ceres_scaleprobe_sf{args.mult}x"
    synthesize(args.mult, base, out_dir)

    results = {}
    for cpus in [c.strip() for c in args.cpus.split(",")]:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "probe.py"),
             args.queries, "--passes", str(args.passes), "--sf-dir", out_dir],
            env=dict(os.environ, SPARK_GRAFT_CPUS=cpus),
            capture_output=True, text=True, cwd=REPO,
        )
        if proc.returncode:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"probe at cpus={cpus} failed")
        entries = json.loads(proc.stdout.splitlines()[-1])["entries"]
        results[cpus] = {n: entries[n]["passes_s"] for n in names}

    cl, ch = [c.strip() for c in args.cpus.split(",")]
    print(
        json.dumps(
            {
                "mult": args.mult,
                "sf_dir": out_dir,
                "per_query": {
                    n: {
                        f"c{cl}_passes": results[cl][n],
                        f"c{ch}_passes": results[ch][n],
                        "speedup_high_over_low": round(
                            min(results[cl][n]) / min(results[ch][n]), 2
                        ),
                    }
                    for n in names
                },
            }
        )
    )


if __name__ == "__main__":
    main()
