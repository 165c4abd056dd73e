"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and order-insensitive values. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from ceres_spark.session import get_spark
from ceres_spark.sources.tables import TABLES


def _norm(rows, cols):
    """Canonicalize rows to (typename, repr) pairs per value.

    Type-strict on purpose: the driver hashes canonical value reprs, so
    318 (long) vs 318.0 (double) MUST fail here too — Python `==` would
    hide exactly that dtype drift (the round-1 packed_sequences /
    mixture_sample failure mode). numpy / pandas scalars are folded to
    plain Python first so engine-side container types don't false-fail.
    """
    import datetime

    import numpy as np

    try:
        import pandas as pd
    except ImportError:  # pragma: no cover
        pd = None

    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            # canonicalize container scalars so type tags are engine-neutral
            if isinstance(v, np.floating):
                v = float(v)
            elif isinstance(v, np.integer):
                v = int(v)
            elif isinstance(v, np.bool_):
                v = bool(v)
            elif isinstance(v, np.ndarray):
                v = v.tolist()
            elif pd is not None and isinstance(v, pd.Timestamp):
                v = v.to_pydatetime()
            if isinstance(v, np.datetime64):
                v = v.astype("datetime64[us]").item()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(("null", "None"))
            elif isinstance(v, datetime.datetime):
                vals.append(("datetime", v.isoformat()))
            elif isinstance(v, datetime.date):
                vals.append(("date", v.isoformat()))
            elif isinstance(v, list):
                vals.append(("list", repr(v)))
            else:
                # exact AND dtype-kind-strict — determinism is the contract
                vals.append((type(v).__name__, repr(v)))
        out.append(tuple(vals))
    return sorted(out)


def _complex_columns(sdf, drows, dcols):
    """Columns that are list/map/struct-typed on either engine.

    The driver's hasher cannot hash such cells, so an oracle-paired
    entry containing one WILL error externally even if values match.
    """
    import numpy as np

    from pyspark.sql import types as T

    bad = set()
    for f in sdf.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            bad.add(f.name)
    for row in drows[:5]:
        for c in dcols:
            if isinstance(row.get(c), (list, dict, np.ndarray)):
                bad.add(c)
    return sorted(bad)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [r.asDict() for r in sdf.collect()]
        if sql is None:
            print(f"{name}: rows-only ({len(srows)} rows) — no oracle")
            continue
        ddf = con.execute(sql).fetchdf()
        dcols = list(ddf.columns)
        drows = ddf.to_dict("records")
        status = []
        # Harness parity: the driver's value hasher (pandas hash table)
        # dies on list/dict cells — oracle-paired entries must be
        # scalar-only on BOTH sides. Hard-fail here so the local gate
        # predicts the driver gate (CORRECTNESS_r03 hash_embed lesson).
        complex_cols = _complex_columns(sdf, drows, dcols)
        if complex_cols:
            status.append(
                f"COMPLEX-TYPE cols {complex_cols} — oracle-paired "
                "entries must emit only scalar columns (driver hasher "
                "cannot hash list/map cells)"
            )
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            status.append(f"ROWS spark={len(srows)} duck={len(drows)}")
        if not status:
            cols = sorted(scols)
            a, b = _norm(srows, cols), _norm(drows, cols)
            if a != b:
                diffs = [
                    (x, y) for x, y in zip(a, b) if x != y
                ][:3]
                status.append(f"VALUES first-diffs={diffs}")
        if status:
            failures += 1
            print(f"{name}: FAIL  {' | '.join(status)}")
        else:
            print(f"{name}: OK ({len(srows)} rows)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
