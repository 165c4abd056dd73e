"""Parquet table sources.

The driver provides TPC-H-ish tables plus ``events``/``documents``/
``embeddings`` at ``/root/testdata/sf*/``. ``points`` derives the
canonical tall time-series table (FIXTURES.md §B.1) that plays the
role of a ceres tree's datapoints: ``metric`` replaces the node path,
an explicit quantized ``ts`` replaces the slice-positional implicit
timestamp (ceres.py ≈L750 CeresSlice.read), ``arrival_seq`` gives the
write order that ceres's last-writer-wins compaction relies on
(ceres.py ≈L460 CeresNode.compact).

Scale note: every loader returns a plain DataFrame scan — filters and
projections applied downstream reach the Parquet reader via Catalyst
(PushedFilters / ReadSchema), so reading 2 columns of a 100 TB table
scans 2 columns, not 11.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: ceres DEFAULT_TIMESTEP (ceres.py ≈L45)
DEFAULT_TIMESTEP = 60


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-created SparkSession able to run this
    engine: the driver calls entry()/queries() with ITS OWN session,
    which may lack our session.py configs. Both confs are runtime
    SQL confs, so setting them here is safe and idempotent.

    - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), which the
      vectorized reader otherwise rejects (PARQUET_TYPE_ILLEGAL);
    - UTC session timezone: oracle comparability of any
      timestamp-derived value.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked-down conf: proceed and let the read surface it


#: (session id, path) → DataFrame. The driver fixtures are immutable,
#: so reusing the analyzed scan skips per-query file listing + footer
#: schema reads (measured: several seconds over a 61-query bench run).
#: A DataFrame is an immutable logical plan — sharing is safe.
_SCAN_CACHE: dict[tuple[int, str], DataFrame] = {}


def load(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Scan one source table. Lazy — no I/O until an action."""
    ensure_session_confs(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (id(spark), f"{sf_dir}/{name}.parquet")
    if key not in _SCAN_CACHE:
        _SCAN_CACHE[key] = spark.read.parquet(key[1])
    return _SCAN_CACHE[key]


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load(spark, name, sf_dir) for name in TABLES}


#: past this many rows a literal expression tree costs more in
#: analysis/planning than the Python tasks it saves — fall back
_LOCAL_ROWS_MAX = 1000


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny driver-local table as a PURE-JVM literal plan
    (optimization r13, guide §4.1).

    ``spark.createDataFrame(list, schema)`` builds a Python-RDD-backed
    relation: EVERY evaluation of the frame (each branch of a plan, a
    broadcast build, a count) runs ``defaultParallelism`` pickled-row
    Python tasks — 32 Python worker round-trips to emit a 3-row dims
    table, with cost that grows with core count (the expire_catalog
    32-core-loses-to-8 inversion in PERF_r12's scaling block). A
    ``inline(array(struct...))`` literal evaluates JVM-side with zero
    Python tasks and constant-folds into the plan.

    Same rows, same column names/types as the ``createDataFrame``
    form. Falls back to ``createDataFrame`` for empty/large inputs or
    cell types the literal builder doesn't model (struct/map cells).
    """
    from pyspark.sql import types as T

    target = spark.createDataFrame([], schema)  # parses DDL; no job
    fields = target.schema.fields
    rows = list(rows)
    if not rows:
        return target
    if len(rows) > _LOCAL_ROWS_MAX:
        return spark.createDataFrame(rows, target.schema)

    def lit_cell(v, dt):
        if v is None:
            return F.lit(None).cast(dt)
        if isinstance(dt, T.ArrayType):
            if not isinstance(v, (list, tuple)):
                raise TypeError(f"array cell from {type(v).__name__}")
            if len(v) == 0:
                return F.array().cast(dt)
            return F.array(
                *[lit_cell(x, dt.elementType) for x in v]
            ).cast(dt)
        if isinstance(dt, (T.StructType, T.MapType)):
            raise TypeError(f"unmodeled literal cell type {dt}")
        return F.lit(v).cast(dt)

    try:
        structs = [
            F.struct(
                *[
                    lit_cell(r[i], f.dataType).alias(f.name)
                    for i, f in enumerate(fields)
                ]
            )
            for r in rows
        ]
    except TypeError:
        return spark.createDataFrame(rows, target.schema)
    # numPartitions=1: a bare range(1) still plans defaultParallelism
    # splits — 32 tasks to emit one row
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure a minimum partition count before CPU-heavy per-row work
    (fingerprint/decode/explode passes).

    A parquet scan parallelizes at row-group granularity; the driver
    fixtures are ONE row group per table, so every scan is one task
    and any expensive map inherits that single-core layout (guide
    §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read"). This helper is scale-adaptive, not
    a local[32] constant: the target is the session's
    ``defaultParallelism`` (cores available, whatever the deployment)
    and the repartition is SKIPPED when the plan already has that
    many partitions — on a production table with thousands of
    row-group splits it is a no-op. Pass only scan-side frames
    (projections/filters of a scan): partition count is read off the
    physical plan, which is trivially cheap for a scan but would
    trigger stage execution under AQE for a post-shuffle frame.

    Correctness: callers apply this below per-row deterministic maps
    and above partition-independent aggregates, so row placement
    cannot change any result; Spark's sort-before-repartition (on by
    default) keeps the round-robin assignment retry-deterministic.
    """
    if df.isStreaming:
        # a streaming frame has no static partition count (and .rdd
        # would raise); micro-batch parallelism is the stream's own
        # concern — pass through untouched
        return df
    spark = df.sparkSession
    if min_parts is None:
        min_parts = spark.sparkContext.defaultParallelism
    min_parts = int(min_parts)
    # partition-count probe: df.rdd.getNumPartitions() is exact but
    # costs 75-180 ms of driver-side plan conversion PER CALL
    # (measured) — a real tax on sub-second queries. For file scans,
    # estimate the split count the way Spark's own planner does
    # (Σ ceil(size / maxPartitionBytes)); inputFiles() is ~1 ms. The
    # estimate errs toward MORE splits than a row-group-starved file
    # actually yields, i.e. toward SKIPPING the repartition — which
    # at production scale is the safe direction (never shuffle a
    # payload that is already parallel).
    files = df.inputFiles()
    if files:
        n = _estimate_scan_splits(spark, files)
    else:
        n = df.rdd.getNumPartitions()  # non-file source: exact
    return df if n >= min_parts else df.repartition(min_parts)


def _estimate_scan_splits(spark: SparkSession, files: list[str]) -> int:
    import math
    from urllib.parse import urlparse

    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        mpb = int(str(raw).lower().rstrip("b"))
    except (TypeError, ValueError):
        mpb = 128 * 1024 * 1024
    splits = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("file", ""):
            try:
                size = os.path.getsize(parsed.path)
            except OSError:
                size = 0
            splits += max(1, math.ceil(size / mpb))
        else:
            # remote store: size unknown without an RPC — count the
            # file as one split (again errs toward skipping)
            splits += 1
    return splits


def points(
    spark: SparkSession,
    sf_dir: str | None = None,
    time_step: int = DEFAULT_TIMESTEP,
    from_time: int | None = None,
    until_time: int | None = None,
) -> DataFrame:
    """Canonical tall series table derived from ``events``.

    Schema: ``metric string, ts bigint (epoch s, quantized),
    value double, arrival_seq bigint``.

    Timestamps are kept as epoch-second BIGINT internally: quantization
    is integer math (exactly ceres's ``t - (t % timeStep)``,
    ceres.py ≈L520), and bigint round-trips bit-exactly through every
    engine the oracle uses.

    ``from_time``/``until_time`` (epoch s, MUST be multiples of
    ``time_step``) are applied to the RAW source column, where the
    parquet reader can evaluate them against row-group min/max stats —
    a range predicate on the derived quantized column cannot be pushed
    (Catalyst pushes column comparisons, not expressions). For
    step-aligned bounds the two filters are equivalent:
    ``floor(t/step)*step >= F ⟺ t >= F`` when ``F % step == 0``.
    """
    ev = load(spark, "events", sf_dir)
    step = int(time_step)
    dtype = ev.schema["ts"].dataType
    import pyspark.sql.types as T

    is_nanos = isinstance(dtype, T.LongType)
    if from_time is not None:
        assert from_time % step == 0, "bounds must be step-aligned"
        bound = from_time * 1_000_000_000 if is_nanos else from_time
        ev = ev.filter(
            F.col("ts") >= (F.lit(bound) if is_nanos
                            else F.timestamp_seconds(F.lit(bound)))
        )
    if until_time is not None:
        assert until_time % step == 0, "bounds must be step-aligned"
        bound = until_time * 1_000_000_000 if is_nanos else until_time
        ev = ev.filter(
            F.col("ts") < (F.lit(bound) if is_nanos
                           else F.timestamp_seconds(F.lit(bound)))
        )
    epoch = epoch_seconds(dtype)
    return ev.select(
        F.col("event_type").alias("metric"),
        (epoch - epoch % step).cast("long").alias("ts"),
        F.col("value"),
        F.col("event_id").alias("arrival_seq"),
    )


def epoch_seconds(dtype, col: str = "ts") -> F.Column:
    """Epoch-seconds Column for a timestamp that may arrive either as
    a real TimestampType or as epoch-nanos LongType (the
    ``nanosAsLong`` read path for TIMESTAMP(NANOS) parquet). Both
    floor the sub-second part, matching DuckDB ``floor(epoch(ts))``."""
    import pyspark.sql.types as T

    if isinstance(dtype, T.LongType):
        # integer division — epoch-nanos (~1.7e18) would lose precision
        # through a double; DIV floors for non-negative epochs
        return F.expr(f"{col} DIV 1000000000")
    return F.unix_timestamp(col)

