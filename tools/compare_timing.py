"""Spark-vs-DuckDB per-query timing table.

Runs every oracle-checked query both ways at the given sf dir (Spark
warm, DuckDB in-process) and prints a markdown table sorted by Spark
time. DuckDB executes the literal oracle SQL — the same work, one
thread, no JVM — so the delta shows (a) fixed Spark overhead on tiny
queries and (b) parallel wins on compute-heavy ones.

Usage: python tools/compare_timing.py [sf_dir] [query ...]
(r7: rows print incrementally as `ROW name spark duck`, so a subset
run — or a killed full run — still yields its measurements; the
sorted markdown table prints at the end.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
import bench
from ceres_spark.session import get_spark
from ceres_spark.sources.tables import TABLES


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("timing-compare")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    subset = sys.argv[2:]
    if subset:
        oracles = {k: oracles[k] for k in subset if k in oracles}
    # warm both engines
    bench.warm_up(spark)
    rows = []
    for name, sql in oracles.items():
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm plan + caches
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        t_spark = time.perf_counter() - t0
        con.execute(sql).fetchall()
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        t_duck = time.perf_counter() - t0
        rows.append((name, t_spark, t_duck))
        print(f"ROW {name} {t_spark:.3f} {t_duck:.3f}", flush=True)
    rows.sort(key=lambda r: -r[1])
    print("| query | spark (warm) | duckdb | ratio |")
    print("|---|---|---|---|")
    ts = td = 0.0
    for name, a, b in rows:
        ts += a
        td += b
        print(f"| {name} | {a:.2f} s | {b:.2f} s | {a / max(b, 1e-9):.1f}× |")
    print(f"| **total ({len(rows)} queries)** | **{ts:.1f} s** | **{td:.1f} s** | |")


if __name__ == "__main__":
    main()
