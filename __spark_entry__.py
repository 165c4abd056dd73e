"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship dense-fetch at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent SQL.

Determinism contract with the oracle: timestamps flow as epoch-second
BIGINTs (integer quantization only), and every double aggregate is
accumulated in DECIMAL(30,10) then cast to double (order-independent,
so Spark's partial aggregation and DuckDB's single-threaded scan
produce bit-identical doubles).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import ceres_spark.catalog as cat
import ceres_spark.operators.aggregate as agg
import ceres_spark.operators.analytics as ana
import ceres_spark.operators.asof as asof
import ceres_spark.operators.range_join as rjoin
import ceres_spark.operators.compact as cp
import ceres_spark.operators.chunking as chk
import ceres_spark.operators.corpus as corp
import ceres_spark.operators.dedup as dd
import ceres_spark.operators.bpe as bpe
import ceres_spark.operators.graph as gr
import ceres_spark.operators.ivf as ivf
import ceres_spark.operators.ivfpq as ivfpq
import ceres_spark.operators.pq as pqmod
import ceres_spark.operators.jpeg_arith as jar
import ceres_spark.operators.mp3 as mp3
import ceres_spark.operators.mp4 as mp4
import ceres_spark.operators.multimodal as mm
import ceres_spark.operators.relational as rel
import ceres_spark.operators.semdedup as sdd
import ceres_spark.operators.resolution as res
import ceres_spark.operators.retention as ret
import ceres_spark.operators.series as ser
import ceres_spark.operators.sketches as sk
import ceres_spark.operators.similarity as sim
import ceres_spark.operators.text as text
import ceres_spark.operators.windows as win
import ceres_spark.sources.slice_format as sfmt
import ceres_spark.sources.tables as tbl

# Module-level twins of the aliases some entries import locally
# (inside their function bodies, to keep heavy modules off the cold
# import path). tools/prefix_state.py maps entry sources to modules
# through MODULE-LEVEL aliases only, so without these the streaming
# and layout modules were invisible to the rotation guard's
# changed-module rule (found in r9 when stateful.py changed with no
# coverable prefix entry).
import ceres_spark.operators.join_strategies as js  # noqa: F401
import ceres_spark.operators.layout as lay  # noqa: F401
import ceres_spark.streaming.ann_ingest as sai  # noqa: F401
import ceres_spark.streaming.corpus_ingest as sci  # noqa: F401
import ceres_spark.streaming.ingest as sing  # noqa: F401
import ceres_spark.streaming.neardup as snd  # noqa: F401
import ceres_spark.streaming.stateful as st  # noqa: F401

# events span 2024-01-01 → 2024-01-30 (UTC)
T0 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400

# every oracle shares this derivation of the canonical points table
# (mirrors ceres_spark.sources.tables.points, FIXTURES.md §B.1)
POINTS_CTE = """
points AS (
  SELECT event_type AS metric,
         x - (x % 60) AS ts,
         value,
         event_id AS arrival_seq
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS x FROM events)
)
"""

DEC_AVG = (
    "CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"
    " / COUNT(value)"
)
DEC_SUM = "CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"

# DuckDB cosine matching operators/similarity.py's zip_with+aggregate
# evaluation: double-cast before multiply, left-to-right accumulation
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]),"
    " (x, y) -> x + y)"
)


#: the topk_lsh_portable oracle inlines the SAME ±1 hyperplane
#: matrices the production operator derives (similarity.hyperplane
#: splitmix signs) as SQL VALUES literals — 8 tables × 8 planes × 64
#: dims of ±1
def _lsh_planes_sql(n_tables: int = 8, n_planes: int = 8,
                    dim: int = 64) -> str:
    from ceres_spark.operators.similarity import hyperplane

    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            comps = ",".join(
                str(int(c)) for c in hyperplane(t * n_planes + p, dim)
            )
            rows.append(f"({t}, {p}, [{comps}])")
    return ", ".join(rows)


_LSH_PLANES_SQL = _lsh_planes_sql()


def _cos(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


# Holt (non-seasonal) double smoothing as a recursive CTE — shared by
# the batch entry (holt_winters_bands) and its streaming replay twin
# (stream_holt_winters): the recursion
#   f = level + trend ; dev_out = d (one-step-behind band)
#   d' = a·|v − f| + (1−a)·d ; nl = a·v + (1−a)·(level + trend)
#   trend' = b·(nl − level) + (1−b)·trend ; level' = nl
# with string-cast double constants so both engines run the identical
# IEEE op sequence. v is MATERIALIZED: without it the planner inlines
# the fact-table scan into every iteration.
_HOLT_ORACLE = f"""
WITH RECURSIVE {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
h AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
v AS MATERIALIZED (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY metric ORDER BY ts) AS i
  FROM h
),
rec AS (
  SELECT metric, CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS ts,
         CAST(NULL AS DOUBLE) AS value,
         CAST(NULL AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend,
         CAST(0.0 AS DOUBLE) AS d,
         CAST(NULL AS DOUBLE) AS forecast,
         CAST(NULL AS DOUBLE) AS dev_out
  FROM (SELECT DISTINCT metric FROM v)
  UNION ALL
  SELECT metric, i, ts, value,
         CASE WHEN level IS NULL THEN value
              WHEN value IS NULL THEN level
              ELSE nl END,
         CASE WHEN level IS NULL OR value IS NULL THEN trend
              ELSE CAST('{0.0035!r}' AS DOUBLE) * (nl - level)
                   + CAST('{1 - 0.0035!r}' AS DOUBLE) * trend END,
         CASE WHEN level IS NULL OR value IS NULL THEN d ELSE nd END,
         CASE WHEN level IS NULL THEN value ELSE f END,
         CASE WHEN level IS NULL THEN CAST(0.0 AS DOUBLE) ELSE d END
  FROM (
    SELECT *,
           CAST('0.1' AS DOUBLE) * value
             + CAST('0.9' AS DOUBLE) * (level + trend) AS nl,
           CAST('0.1' AS DOUBLE) * abs(value - f)
             + CAST('0.9' AS DOUBLE) * d AS nd
    FROM (
      SELECT v.metric, v.i, v.ts, v.value,
             rec.level, rec.trend, rec.d,
             rec.level + rec.trend AS f
      FROM rec JOIN v ON v.metric = rec.metric AND v.i = rec.i + 1
    )
  )
)
SELECT metric, ts, value, forecast,
       forecast + 3.0 * dev_out AS upper,
       forecast - 3.0 * dev_out AS lower,
       CASE WHEN value > forecast + 3.0 * dev_out
              THEN value - (forecast + 3.0 * dev_out)
            WHEN value < forecast - 3.0 * dev_out
              THEN value - (forecast - 3.0 * dev_out)
            ELSE CAST(0.0 AS DOUBLE) END AS aberration
FROM rec WHERE i >= 1
"""


# ADDITIVE-seasonal Holt-Winters (graphite holtWintersForecast's
# actual shape) as a recursive CTE: the O(L) seasonal vector rides
# through the recursion as a DOUBLE[12] list column, updated in place
# via slice-splice (seas[1:j] || [new] || seas[j+2:]). Phase j is
# timestamp-anchored ((ts//300) % 12) exactly like the operator, so
# the oracle needs no row-index bookkeeping beyond the step join.
# All constants string-cast; every float op mirrors the numpy pass'
# association, so the 8k-step recursion is bit-identical.
_HOLT_SEASONAL_ORACLE = f"""
WITH RECURSIVE {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
h AS (
  SELECT metric, ts - (ts % 300) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
v AS MATERIALIZED (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY metric ORDER BY ts) AS i,
         CAST((ts // 300) % 12 AS BIGINT) AS j
  FROM h
),
rec AS (
  SELECT metric, CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS ts,
         CAST(NULL AS DOUBLE) AS value,
         CAST(NULL AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend,
         CAST(0.0 AS DOUBLE) AS d,
         list_transform(generate_series(1, 12),
                        x -> CAST(0.0 AS DOUBLE)) AS seas,
         CAST(NULL AS DOUBLE) AS forecast,
         CAST(NULL AS DOUBLE) AS dev_out
  FROM (SELECT DISTINCT metric FROM v)
  UNION ALL
  SELECT metric, i, ts, value,
         CASE WHEN level IS NULL THEN value
              WHEN value IS NULL THEN level
              ELSE nl END,
         CASE WHEN level IS NULL OR value IS NULL THEN trend
              ELSE CAST('{0.0035!r}' AS DOUBLE) * (nl - level)
                   + CAST('{1 - 0.0035!r}' AS DOUBLE) * trend END,
         CASE WHEN level IS NULL OR value IS NULL THEN d ELSE nd END,
         CASE WHEN level IS NULL OR value IS NULL THEN seas
              ELSE seas[1:CAST(j AS INTEGER)]
                   || [CAST('0.1' AS DOUBLE) * (value - nl)
                       + CAST('0.9' AS DOUBLE) * sj]
                   || seas[CAST(j AS INTEGER) + 2:12] END,
         CASE WHEN level IS NULL THEN value ELSE f END,
         CASE WHEN level IS NULL THEN CAST(0.0 AS DOUBLE) ELSE d END
  FROM (
    SELECT *,
           CAST('0.1' AS DOUBLE) * (value - sj)
             + CAST('0.9' AS DOUBLE) * (level + trend) AS nl,
           CAST('0.1' AS DOUBLE) * abs(value - f)
             + CAST('0.9' AS DOUBLE) * d AS nd
    FROM (
      SELECT v.metric, v.i, v.ts, v.value, v.j,
             rec.level, rec.trend, rec.d, rec.seas,
             rec.seas[CAST(v.j AS INTEGER) + 1] AS sj,
             rec.level + rec.trend
               + rec.seas[CAST(v.j AS INTEGER) + 1] AS f
      FROM rec JOIN v ON v.metric = rec.metric AND v.i = rec.i + 1
    )
  )
)
SELECT metric, ts, value, forecast,
       forecast + 3.0 * dev_out AS upper,
       forecast - 3.0 * dev_out AS lower,
       CASE WHEN value > forecast + 3.0 * dev_out
              THEN value - (forecast + 3.0 * dev_out)
            WHEN value < forecast - 3.0 * dev_out
              THEN value - (forecast - 3.0 * dev_out)
            ELSE CAST(0.0 AS DOUBLE) END AS aberration
FROM rec WHERE i >= 1
"""


# EWMA recursion as a recursive CTE — shared by the batch entry
# (ewma_series) and its streaming replay twin (stream_ewma): the
# stream twin's state carry must reproduce the batch recursion
# bit-for-bit, so both verify against the SAME SQL.
_EWMA_ORACLE = f"""
WITH RECURSIVE {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
h AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
v AS MATERIALIZED (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY metric ORDER BY ts) AS i
  FROM h
),
rec AS (
  SELECT metric, CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS ts,
         CAST(NULL AS DOUBLE) AS value, CAST(NULL AS DOUBLE) AS ewma
  FROM (SELECT DISTINCT metric FROM v)
  UNION ALL
  SELECT v.metric, v.i, v.ts, v.value,
         CASE WHEN v.value IS NULL THEN rec.ewma
              WHEN rec.ewma IS NULL THEN v.value
              ELSE CAST('0.3' AS DOUBLE) * v.value
                   + CAST('0.7' AS DOUBLE) * rec.ewma END
  FROM rec JOIN v ON v.metric = rec.metric AND v.i = rec.i + 1
)
SELECT metric, ts, value, ewma FROM rec WHERE i >= 1
"""


# ---------------------------------------------------------------- queries

def _q_fetch_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #10+#14: ceres fetch — dense 1-day read at 1h step, avg.
    The time bounds are applied to the raw source column inside
    points() so they reach the parquet row-group stats (the derived
    quantized column can't be pushed)."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    return ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")


def _q_quantize_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #16 (cross-batch flavor): quantize to 600 s + last-ARRIVAL-
    wins dedup, the read-path semantics for data written across
    batches (arrival_seq = write order). Within-batch compact — where
    the reference's largest-raw-ts rule applies — is covered by
    compact() property tests."""
    pts = tbl.points(spark, sf_dir)
    return cp.lww_dedup(
        cp.quantize(pts.filter(F.col("value").isNotNull()), 600)
    )


def _q_agg_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #19: all five aggregation methods per metric over the
    LWW-deduped series."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return deduped.groupBy("metric").agg(
        agg.agg_expr("average").alias("avg_value"),
        agg.agg_expr("sum").alias("sum_value"),
        agg.agg_expr("last").alias("last_value"),
        agg.agg_expr("max").alias("max_value"),
        agg.agg_expr("min").alias("min_value"),
        F.count("value").alias("n_points"),
    )


def _q_aggregate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #20: aggregateSeries — downsample deduped 60 s series to
    300 s tumbling buckets, method=average."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return agg.aggregate_series(deduped, "average", 300)


def _q_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #24: TimeSeriesData.merge — 'click' dense day-1 series,
    holes filled from 'view' (self wins, out-of-range dropped)."""
    pts = tbl.points(spark, sf_dir)
    a = ser.read_series(
        pts, pts.select("metric").filter(F.col("metric") == "click").distinct(),
        T0, T0 + DAY, 1800, "average",
    ).drop("metric")
    b = agg.aggregate_series(
        cp.quantize(pts.filter(F.col("metric") == "view"), 1800),
        "average", 1800, keys=[],
    )
    merged = a.join(b.withColumnRenamed("value", "_fill"), ["ts"], "left")
    return merged.select(
        "ts", F.coalesce("value", "_fill").alias("value")
    )


def _q_has_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #25: hasDataForInterval per metric for day 2."""
    pts = tbl.points(spark, sf_dir)
    return ser.has_data_for_interval(pts, T0 + DAY, T0 + 2 * DAY)


def _q_find_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #12: glob find '[cps]*' over the catalog (fnmatch class +
    star), returning matching metric names."""
    pts = tbl.points(spark, sf_dir)
    catalog = cat.catalog_from_points(pts)
    return cat.find(catalog, "[cps]*").select("metric")


def _q_delete_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #8: retention front-truncate at day 15 (cutoff quantized UP
    to the step grid like CeresSlice.deleteBefore ≈L835), then count
    survivors per metric."""
    cutoff = T0 + 15 * DAY + 17  # deliberately off-grid
    step = 60
    cutoff_q = cutoff + (-cutoff) % step  # quantize UP
    pts = tbl.points(spark, sf_dir).filter(F.col("ts") >= cutoff_q)
    return pts.groupBy("metric").agg(
        F.count("value").alias("n_points"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def _q_rollup_xff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #21: maintenance rollup 60 s → 3600 s with xFilesFactor=0.05
    (bucket kept only when ≥5% of its 60 expected points are known —
    ≥3 points; events are sparse, ~3 points/bucket on average)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ret.rollup(deduped, "average", 60, 3600, x_files_factor=0.05)


def _q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance via MERGEABLE PARTIALS: the
    fine buckets split into two interleaved halves (alternating 60 s
    buckets — the ADVERSARIAL split: every coarse bucket straddles
    both sides, so nothing finalizes from one partial alone); each
    half becomes partial state ONCE (decimal-exact
    sum/cnt/min/max/last per coarse bucket), the partials merge, and
    finalize('average', xff=0.05) must hash-equal the FULL recompute
    the oracle runs — the no-rescan maintenance path a 100 TB archive
    actually needs (roll up each ingest batch once, merge state,
    never rescan the archive)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    even = F.col("ts") % 120 == 0
    old = ret.rollup_partials(deduped.filter(even), 3600)
    new = ret.rollup_partials(deduped.filter(~even), 3600)
    return ret.rollup_finalize(
        ret.rollup_merge(old, new), "average", 60, 3600,
        x_files_factor=0.05,
    )


#: FIXTURES-style per-node retention steps (paired with
#: METHOD_BY_METRIC): each metric rolls up to its own archive step.
STEP_BY_METRIC = {
    "click": 300,
    "error": 600,
    "purchase": 300,
    "signup": 3600,
    "view": 600,
}


def _q_rollup_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #21+#23: the whole maintenance walk as ONE plan — every
    metric downsampled to its own retention step with its own
    aggregation method (CASE-driven; one shuffle for all nodes)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ret.rollup_per_node(deduped, STEP_BY_METRIC, METHOD_BY_METRIC)


def _q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA/whitening — the standard embedding pre-pass before
    clustering/ANN: bounded-sample deterministic SVD training
    (sign-pinned components), Arrow-batched matmul projection.
    Rows-only (float SVD has no SQL oracle); numpy-reference
    equality, whitening variance, and retrain-determinism are
    pytest-pinned (test_llm_ops)."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    mu, W, sc = sim.train_pca(emb, k=8)
    out = sim.apply_pca(emb, mu, W, sc, whiten=True)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at("embedding", i + 1), 6).alias(f"pc{i + 1}")
            for i in range(3)
        ],
    )


def _q_stream_store_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CERES WRITE PATH (op #17) externally verified through
    streaming: the points table is replayed as 4 arrival batches
    (ordered by arrival_seq quartile) into streaming/ingest.
    stream_store — the carbon-daemon shape: foreachBatch in-batch
    compact (quantize 600 s + largest-raw-ts-wins, the reference's
    CeresNode.compact rule) with batchId stamped as the write-order
    arrival_seq — then the warehouse is read back through the
    read-path LWW. The stored winner per (metric, bucket) is the
    lexicographic max of (batch, raw_ts, arrival_seq), which the
    oracle reproduces in SQL — so write routing, batch stamping, and
    read-side LWW are all hash-checked through real streaming
    execution."""
    import ceres_spark.streaming.ingest as sing

    base = _replay_scratch("store", sf_dir)
    src, pts_dir, ck = f"{base}/src", f"{base}/pts", f"{base}/ck"
    pts = tbl.points(spark, sf_dir).filter(F.col("value").isNotNull())
    _write_arrival_files_ranged(pts, "arrival_seq", src, 4)
    stream = (
        spark.readStream.schema(
            "metric string, ts long, value double, arrival_seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _replay_shuffle(spark):
        q = sing.stream_store(
            stream, pts_dir, time_step=600, checkpoint=ck
        )
        _await_replay(q, "stream_store_replay")
    return cp.lww_dedup(spark.read.parquet(pts_dir))


def _q_split_leak_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage QA: near-dup (hamming ≤ 3) pairs crossing the
    content-hash train/val/test boundary, counted per split pair —
    the residual-leakage disclosure a release report carries. Both
    stages are independently oracle-paired; the composition is
    hash-checked end-to-end here."""
    return corp.split_leak_check(
        tbl.load(spark, "documents", sf_dir), max_hamming=3
    )


def _q_rollup_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #21+#23, the r4 catalog-JOIN dispatch externally checked:
    same per-node steps/methods as rollup_per_node, but routed through
    a broadcast catalog join (no CASE chains — the shape that survives
    a 10^8-node catalog) and emitting each node's effective ``step``
    so mixed-resolution archive routing is verified too."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    catalog = cat.make_catalog(
        spark,
        [
            {
                "metric": m,
                "timeStep": 60,
                "aggregationMethod": meth,
                "retentions": [[60, 86400], [STEP_BY_METRIC[m], 604800]],
            }
            for m, meth in METHOD_BY_METRIC.items()
        ],
    )
    return ret.rollup_catalog(
        deduped, catalog, default_step=3600, default_method="average",
        with_step=True,
    )


#: expire_catalog fixture — per-node retention horizons exercising
#: every dispatch path: multi-entry retentions (longest wins), a
#: single entry, EMPTY retentions (→ default horizon), a node with a
#: coarse 300 s timeStep (cutoff up-quantizes to ITS grid), and a
#: metric absent from the catalog entirely ('signup' → defaults).
EXPIRE_CATALOG_ROWS = [
    {"metric": "click", "timeStep": 60,
     "retentions": [[60, 5 * DAY], [300, 10 * DAY]]},
    {"metric": "error", "timeStep": 60,
     "retentions": [[60, DAY], [600, 20 * DAY]]},
    {"metric": "purchase", "timeStep": 60, "retentions": [[60, 3 * DAY]]},
    {"metric": "view", "timeStep": 300, "retentions": []},
]
EXPIRE_NOW = T0 + 29 * DAY + 17  # off-grid: exercises quantize-UP
EXPIRE_DEFAULT_HORIZON = 7 * DAY


def _expire_cutoffs() -> dict[str, int]:
    """Python mirror of expire_catalog's per-node cutoff rule, used to
    build the oracle SQL: cut = quantize_up(now - horizon, step)."""
    import ceres_spark.operators.retention as _ret

    horizons = {
        "click": 10 * DAY, "error": 20 * DAY, "purchase": 3 * DAY,
        "view": EXPIRE_DEFAULT_HORIZON,  # empty retentions → default
        "signup": EXPIRE_DEFAULT_HORIZON,  # absent from catalog
    }
    steps = {"click": 60, "error": 60, "purchase": 60, "view": 300,
             "signup": 60}
    return {
        m: _ret.quantize_up(EXPIRE_NOW - h, steps[m])
        for m, h in horizons.items()
    }


def _q_expire_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #8+#23, catalog-driven: the deleteBefore twin of
    rollup_catalog (operators/retention.py expire_catalog) — every
    node keeps only data newer than its OWN retention horizon, one
    broadcast join + one filter for the whole tree. Externally checks
    per-node horizons, the empty-retentions default fallback, the
    catalog-miss default, and up-quantized cutoffs on each node's own
    step grid (CeresSlice.deleteBefore's rule, ceres.py ≈L835)."""
    pts = tbl.points(spark, sf_dir)
    catalog = cat.make_catalog(spark, EXPIRE_CATALOG_ROWS)
    out = ret.expire_catalog(
        pts, catalog, now=EXPIRE_NOW,
        default_horizon=EXPIRE_DEFAULT_HORIZON,
    )
    return out.groupBy("metric").agg(
        F.count("value").alias("n_points"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def _q_multi_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #13: cross-resolution read. Data older than day 20 lives only
    in a 300 s rollup archive; newer data in the 60 s table. A fetch of
    days 18-22 reconciles at the coarsest step touched (300 s),
    finest data winning where both cover a bucket."""
    horizon = T0 + 20 * DAY
    # deduped fans out into three consumers (fine, coarse, metric
    # list). NOT persisted: a persist() barrier wins ~0.5 s on warm
    # re-runs but pays ~1.5 s materialization on a cold single run
    # (the driver's bench shape); at warehouse scale the staged
    # rollup TABLE (operators/retention.py) plays that role instead.
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    fine = deduped.filter(F.col("ts") >= horizon)
    coarse = ret.rollup(
        deduped.filter(F.col("ts") < horizon), "average", 60, 300
    )
    metrics = deduped.select("metric").distinct()
    return res.read_multi_resolution(
        {60: fine, 300: coarse},
        metrics,
        T0 + 18 * DAY,
        T0 + 22 * DAY,
        "average",
        result_step=300,
    )


#: FIXTURES.md §B.2 — per-metric aggregationMethod cycling through
#: all 5 (alphabetical metric order). Drives the metadata-driven read.
METHOD_BY_METRIC = {
    "click": "average",
    "error": "sum",
    "purchase": "last",
    "signup": "max",
    "view": "min",
}


def _q_fetch_per_node_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #3+#10: metadata-driven fetch — each metric's hourly
    buckets aggregated with ITS OWN catalog aggregationMethod (the
    read path consults node metadata, CeresNode.read ≈L510). One scan,
    one shuffle: all five methods computed per group, the catalog
    method selected per-metric with a CASE."""
    deduped = cp.compact(
        tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + 7 * DAY), 60
    )
    per_bucket = deduped.groupBy(
        "metric", (F.col("ts") - F.col("ts") % 3600).cast("long").alias("ts")
    ).agg(
        agg.agg_expr("average").alias("_avg"),
        agg.agg_expr("sum").alias("_sum"),
        agg.agg_expr("last").alias("_last"),
        agg.agg_expr("max").alias("_max"),
        agg.agg_expr("min").alias("_min"),
    )
    expr = None
    col_of = {
        "average": "_avg", "sum": "_sum", "last": "_last",
        "max": "_max", "min": "_min",
    }
    for metric, method in sorted(METHOD_BY_METRIC.items()):
        branch = F.when(F.col("metric") == metric, F.col(col_of[method]))
        expr = branch if expr is None else expr.when(
            F.col("metric") == metric, F.col(col_of[method])
        )
    return per_bucket.select("metric", "ts", expr.alias("value"))


# ------------------------------------------------- LLM-pipeline ops

def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(tbl.load(spark, "documents", sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(tbl.load(spark, "documents", sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(tbl.load(spark, "documents", sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(tbl.load(spark, "documents", sf_dir))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(tbl.load(spark, "documents", sf_dir))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction. The fixture corpus is PII-free word soup, so the
    query plants one email/IP/phone per document (deterministically
    derived from doc_id, mirrored exactly in the oracle SQL) — the
    scrub is then verified against non-trivial matches, not vacuous
    zero counts."""
    docs = tbl.load(spark, "documents", sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 tel 555-123-4567"),
        ),
    )
    return text.pii_scrub(docs)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document."""
    return text.repetition_stats(tbl.load(spark, "documents", sf_dir))


def _q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs through the regime DISPATCHER
    (exact integer Levenshtein — tolerance-free oracle).

    p=32/d=4 is the tight regime (4d <= p), so the dispatcher routes
    to the lossless PassJoin banded plan — no Σ block² self-join
    anywhere (plan-asserted). Different dials than
    :func:`_q_fuzzy_pairs_banded` (p=24/d=6) so the two entries
    exercise different segment layouts. The quadratic body remains as
    :func:`dd.fuzzy_pairs_quadratic`, the documented loose-regime
    fallback where segment pigeonholes degenerate and no sound filter
    prunes."""
    return dd.fuzzy_pairs(
        tbl.load(spark, "documents", sf_dir), prefix_len=32, max_dist=4
    )


def _q_fuzzy_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassJoin-style segment-banded edit-distance pairs (d=6): the
    lossless sub-quadratic candidate generator — segment pigeonhole
    keys, not a Σ block² self-join — verified with exact Levenshtein.
    Output is bit-identical to the quadratic path at the same dials
    (pytest-asserted), so the same quadratic SQL is the oracle."""
    return dd.fuzzy_pairs_banded(
        tbl.load(spark, "documents", sf_dir), max_dist=6
    )


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: jaccard pairs → connected
    components → every document labelled with its cluster (min doc_id
    reachable; singletons label themselves) + cluster size. The
    keep/drop decision is then `doc_id == component` (keep one per
    cluster) — checked against a recursive-CTE closure in the oracle."""
    docs = tbl.load(spark, "documents", sf_dir)
    pairs = dd.jaccard_pairs_vectorized(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    comp = gr.connected_components(pairs, "doc_a", "doc_b")
    base = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("component")
    return base.select(
        "doc_id", "component", F.count("*").over(w).alias("cluster_size")
    )


def _q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts on the jaccard-0.8 near-dup graph —
    local cluster density (clustering-coefficient numerator): wedge
    join + edge-probe closure, each a<b<c triangle generated once;
    oracle = the same two-join closure over the SQL pair set."""
    pairs = dd.jaccard_pairs_vectorized(
        tbl.load(spark, "documents", sf_dir), threshold=0.8
    ).select("doc_a", "doc_b")
    return gr.triangle_counts(pairs)


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-set Jaccard near-dup pairs blocked by source — the
    incidence-matrix numpy path (bit-identical to the declarative
    dd.jaccard_pairs; see its docstring for why the matmul is exact)."""
    return dd.jaccard_pairs_vectorized(
        tbl.load(spark, "documents", sf_dir), threshold=0.8
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs verified at shingle-Jaccard ≥ 0.5.
    Rows-only check (hashing not portable to SQL); ground truth is
    pytest brute-force comparison."""
    return dd.minhash_lsh_pairs(
        tbl.load(spark, "documents", sf_dir), threshold=0.5
    ).select("doc_a", "doc_b")


def _q_minhash_pairs_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash+LSH pairs in the engine-portable md5/affine
    formulation — the banded candidate mechanism itself is
    hash-checked against a full from-text SQL oracle (the role
    simhash_pairs_global plays for the Hamming family; the
    performance path minhash_lsh_pairs stays rows-only by design)."""
    return dd.minhash_pairs_portable(
        tbl.load(spark, "documents", sf_dir), threshold=0.5
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤12 pairs blocked by source. UPGRADED r5 from
    rows-only to hash-checked: the md5-lower64 fingerprint was always
    engine-portable (simhash_pairs_global proved it in r3) and the
    13-band pigeonhole candidate generation is LOSSLESS, so the
    blocked variant pairs with a brute-force same-source SQL oracle
    too — the banding must reproduce the exact pair set."""
    return dd.simhash_pairs(
        tbl.load(spark, "documents", sf_dir), max_hamming=12
    )


def _q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return sim.topk_brute(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    ).select("query_id", "neighbor_id", "label", "cosine_sim", "rank")


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.30 ≈ p99 of within-label
    similarity; the fixture has no true near-dups) blocked by label —
    one Arrow-batched numpy pass per block, bit-exact with the
    declarative join (see similarity.neardup_pairs_blocked for the
    pinned-accumulation-order trick). The unblocked LSH path is
    _q_topk_cosine_lsh (rows-only)."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return sim.neardup_pairs_blocked(emb, threshold=0.30)


def _q_topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path (rows-only): deterministic Lloyd's coarse
    quantizer, nprobe-list probe, exact re-rank. Full-probe == brute
    is asserted in pytest."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    # training is driver-side numpy over a bounded sample (one small
    # collect), memoized per sf_dir — an index artifact, not a
    # per-query cost; convergence-quality invariants (determinism,
    # full-probe == brute) are pytest's job
    centroids = ivf.train_centroids_cached(emb, sf_dir, k=8, iters=1)
    idx = ivf.build_index(emb, centroids)
    return ivf.search(
        idx, emb.filter(F.col("vec_id") < 5), centroids, k=10, nprobe=4
    )


def _q_simhash_pairs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-GLOBAL simhash pairing (no source blocking): the bit-band
    buckets ARE the blocking, so cross-source near-dups surface too —
    the unblocked discovery mode blocking-key pairing cannot do.
    Tight threshold (hamming <= 3); rows-only, losslessness pinned by
    the property suite."""
    return dd.simhash_pairs(
        tbl.load(spark, "documents", sf_dir), max_hamming=3,
        block_col=None,
    )


def _q_topk_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (rows-only): 8-byte codes (32x
    compression at d=64 float32), ADC table-lookup scan, exact
    cosine re-rank of the top-50. refine >= corpus == brute is
    pytest-pinned; training is a cached bounded-sample artifact."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return pqmod.topk_cosine_pq(emb, k=10, refine=50, cache_key=sf_dir)


def _q_topk_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed ANN (rows-only): the production billion-scale
    index shape — IVF coarse lists of 8-byte residual PQ codes, so a
    probe touches nprobe/k_lists of the partitions AND each touched
    row is m byte-lookups. Full-probe + refine >= corpus == brute and
    partition pruning of the probe are pytest-pinned (test_ivf.py)."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return ivfpq.topk_cosine_ivfpq(
        emb, k=10, k_lists=8, nprobe=4, refine=50, cache_key=sf_dir
    )


def _q_topk_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path; rows-only —
    recall vs brute force is asserted in pytest)."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return sim.topk_lsh(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=4, n_tables=8
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _q_topk_cosine_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized brute-force top-k: exact BIGINT dot products
    (associative — no accumulation-order caveats), one double
    division at the end. The 4×-smaller-vectors serving path."""
    return sim.topk_cosine_quantized(tbl.load(spark, "embeddings", sf_dir))


def _q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix over the embeddings table:
    posexplode → exact per-dim median → ordered reassembly → pairwise
    cosine on the (tiny) label set."""
    return sim.label_centroid_similarity(tbl.load(spark, "embeddings", sf_dir))


def _q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2: 1h windows sliding by 30min per event_type."""
    return win.sliding_window_agg(tbl.load(spark, "events", sf_dir))


def _q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2: 30min-gap session windows per user."""
    return win.session_window_agg(tbl.load(spark, "events", sf_dir))


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows, stride 48 (16-token
    overlap). Map-only; the chunk array is the explode input, built
    once per document."""
    return chk.chunk_documents(tbl.load(spark, "documents", sf_dir))


def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: running-token-count bins of 256
    per source, deterministic contiguous fill."""
    chunks = chk.chunk_documents(tbl.load(spark, "documents", sf_dir))
    return chk.pack_sequences(chunks, ctx=256)


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase with first-touch
    attribution: each stage joins user-cardinality reach times, never
    the raw stream against itself."""
    return ana.funnel(tbl.load(spark, "events", sf_dir))


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (cohort = week of first event;
    integer grid math throughout)."""
    return ana.cohort_retention(tbl.load(spark, "events", sf_dir))


def _q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over the points table: portable
    md5-bucketed metric dimension × day dimension interleaved into a
    Morton code — pure shift/mask integer math, hash-checked; the
    write path is repartitionByRange(zkey) + sorted write (see
    operators/layout.py docstring and the locality pytest)."""
    import ceres_spark.operators.layout as lay

    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return lay.zorder_points(deduped)


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream transition matrix (Markov/Sankey): per-user
    consecutive event-type pairs, counts + per-from_type shares —
    (ts, event_id)-pinned total order, engine-exact."""
    return ana.event_transitions(tbl.load(spark, "events", sf_dir))


def _q_event_transitions_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED hot-key-salted twin of event_transitions (r7, VERDICT
    #2): users above the hot threshold run the per-user LEAD window
    per (user, time-chunk) with a tiny boundary merge (~32-way
    parallel for a 50%-hot user); everyone else takes the unchanged
    window. SAME oracle as the unsalted entry — the salted plan must
    be bit-identical. hot_min_rows=60 here so BOTH paths (chunked hot
    users AND cold users, ~66 events/user in the fixtures) are inside
    the external hash check; the skew win and the ≈1.0× uniform
    overhead are measured in tools/skew_probe.py (SCALING.md §SKEW)."""
    return ana.event_transitions_salted(
        tbl.load(spark, "events", sf_dir), n_chunks=32, hot_min_rows=60
    )


def _q_event_transitions_chunked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLANKET time-chunked twin of event_transitions (r9, the
    VERDICT r8 #3 A/B winner): no hot-key detection job at all —
    bounds from one min/max scalar scan, EVERY user's LEAD window
    runs per (user, global-time-chunk) with the shared boundary
    merge. Interleaved A/B vs the targeted salted form
    (tools/transitions_ab.py, TIMINGS.md §r9): same x64 skew win
    within noise (h90 1.87-2.50 s vs 2.05-2.40 s), ~1.7× cheaper at
    toy scale (0.67-0.76 s vs 1.12-1.22 s at sf0.1). SAME oracle as
    the unsalted entry — the chunk machinery must be invisible."""
    return ana.event_transitions_chunked(
        tbl.load(spark, "events", sf_dir), n_chunks=32
    )


def _q_funnel_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED salted-reach-join twin of funnel (r7, VERDICT #2):
    hot users' reach rows exploded ×16 salts and joined on
    (user_id, hash(event_id) mod 16); cold users join unchanged; the
    groupBy-min merge is already skew-neutral. SAME oracle as the
    unsalted entry — output must not change. hot_min_rows=60 puts
    both the salted and the cold join inside the hash check."""
    return ana.funnel_salted(
        tbl.load(spark, "events", sf_dir), n_salts=16, hot_min_rows=60
    )


def _q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution per weekly cohort: first view
    → first purchase at-or-after it, exact discrete p50/p90 deltas
    (percentile_disc — engine-portable integers)."""
    return ana.time_to_convert(
        tbl.load(spark, "events", sf_dir), "view", "purchase"
    )


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture downsampling audit: hash-threshold
    keep decision per (source, doc_id), per-source achieved
    fractions."""
    weights = {f"src{i}": 1.0 for i in range(5)}
    weights.update({f"src{i}": 0.5 for i in range(5, 10)})
    return corp.mixture_sample(
        tbl.load(spark, "documents", sf_dir), weights, default_weight=0.25
    )


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct users per event_type, computed the way
    a warehouse would: per-day sketches unioned per type (rows-only:
    DuckDB's approx sketch differs by construction; accuracy vs exact
    and merge-exactness are pytest's job — tests/test_sketches.py —
    and the register MECHANISM is externally hash-checked since r7
    via approx_distinct_portable's portable-hash twin)."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    return sk.approx_distinct_reagg(
        ev, "event_type", "user_id",
        F.to_date(F.timestamp_seconds(sec)),
    )


def _q_approx_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct users per event_type with externally auditable
    registers (r7 — the LAST mechanism without driver lineage): the
    portable-hash HLL (sketches.hll_portable) runs the PRODUCTION
    two-level shape — per-day sketches unioned per type, exactly
    approx_distinct_reagg's plan — while bucket index, ρ and every
    register stay integer-exact functions of the md5-low31 hash. The
    oracle recomputes the registers DIRECTLY (no day level): register
    union is max, so two-level == direct is part of what the hash
    check proves (the mergeability claim itself, externally checked).
    Emits V, the scaled register sum, a position-sensitive register
    checksum, and the bias-corrected estimate (linear counting below
    2.5 m — rounded at 4 decimals to absorb ln() ulp skew)."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    return sk.hll_portable(
        ev, "event_type", "user_id", p=8,
        bucket_expr=F.to_date(F.timestamp_seconds(sec)),
    )


def _q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch per event_type — the engine-portable
    twin of approx_distinct_users: tracked set, k-th minimum, and the
    (k-1)·2³¹/h_k estimate are all exact functions of the input, so
    the sketch path is externally hash-checked (DataSketches HLL
    registers are implementation-defined; since r7 the HLL MECHANISM
    has its own register-level twin, approx_distinct_portable)."""
    return sk.kmv_distinct(
        tbl.load(spark, "events", sf_dir), "event_type", "user_id", k=64
    )


def _q_kmv_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types from KMV sketches:
    est_union / jaccard / est_intersection per type pair, all exact
    functions of the portable md5-low31 hash set — hash-checked like
    kmv_distinct_users (the pairwise primitive HLL cannot oracle)."""
    return sk.kmv_overlap(
        tbl.load(spark, "events", sf_dir), "event_type", "user_id", k=64
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: corpus docs sharing any 3-gram
    with the (deterministically chosen) eval slice. Eval gram set is
    broadcast; the corpus side never shuffles its grams."""
    docs = tbl.load(spark, "documents", sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return dd.contamination(rest, ev, shingle_k=3)


def _q_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value/ntile in one windowed pass (see
    relational.order_value_analytics for the scale caveat on the
    global ntile sort)."""
    return rel.order_value_analytics(spark, sf_dir)


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting (north-star text
    analysis). The regex is lookahead-free so Java and RE2 engines
    count identical matches — oracle-exact by construction."""
    return text.token_counts(tbl.load(spark, "documents", sf_dir))


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: documents → actual
    PPM/PNG/JPEG/WAV/Y4M payloads (deterministic content-derived
    pixels/samples/frames; PNG and baseline JPEG are genuinely
    COMPRESSED, decoded with stdlib zlib / huffman+IDCT) → content
    features (channel means / luma / gradient for images, RMS / ZCR /
    peak for audio, motion / detail for video). No stub anywhere.
    Rows-only: the float features have no SQL oracle; codec
    round-trips and numpy-reference feature values are pytest-pinned
    (test_llm_ops, test_png, test_jpeg)."""
    assets = mm.real_assets_from_documents(
        tbl.load(spark, "documents", sf_dir)
    )
    return mm.extract_features(assets, real=True).select(
        "asset_id",
        "modality",
        "n_bytes",
        F.round(F.element_at("features", 3), 6).alias("feat3"),
        F.round(F.element_at("features", 6), 6).alias("feat6"),
    )


def _q_multimodal_decode_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded JPEG decode end-to-end (r8, closes SURVEY
    §2.8 known-gap #2): documents → REAL SOF9/SOF10 payloads cycling
    the full T.81 Annex D/F/G matrix by doc_id (sequential 4:4:4 /
    4:2:0 / restart intervals, progressive, 12-bit, non-default DAC
    conditioning, grayscale) → QM entropy decode + IDCT → content
    features through the same mapInPandas pass every other container
    uses. Rows-only like multimodal_decode: the float features have
    no SQL oracle; the codec itself is pinned three independent ways
    in tests/test_jpeg_arith.py (hand-executed Annex D flowchart
    trace with exact bytes, QM property roundtrips, pixel-equality
    against the Huffman twin across the parameter matrix). Feeds
    every 4th doc with the dialect cycle preserved (stride=4): the
    per-bit Python QM decode is lineage machinery, not a throughput
    claim — bulk arithmetic JPEG is plug-in-codec territory exactly
    like phash_neardup's bulk decode."""
    docs = tbl.load(spark, "documents", sf_dir).filter(
        F.col("doc_id") % 4 == 0
    )
    assets = jar.arith_assets_from_documents(docs, stride=4)
    return mm.extract_features(assets, real=True).select(
        "asset_id",
        "modality",
        "n_bytes",
        F.round(F.element_at("features", 3), 6).alias("feat3"),
        F.round(F.element_at("features", 6), 6).alias("feat6"),
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked end to end: documents →
    binary asset table (payload + typed metadata) → mapInPandas
    decode/feature pass → per-asset metadata. The float feature
    vector is exercised in pytest; the oracle checks the Arrow
    round-trip via byte count + sha256 content hash."""
    assets = mm.assets_from_documents(tbl.load(spark, "documents", sf_dir))
    return mm.extract_features(assets).select(
        "asset_id",
        "modality",
        "n_bytes",
        F.col("content_sha256").alias("content_hash"),
    )


def _q_video_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 container manifests over deterministic fixture files
    (VERDICT r5 #7): video documents are muxed into real ISO-BMFF
    payloads (ftyp + mdat + trailing moov, two chunks, avcC config,
    stss sync samples), then ONE mapInPandas pass walks the box tree
    and the stsc×stco×stsz tables to derive codec identity, geometry,
    timing, and keyframe byte offsets — the planning table a
    frame-sampling job joins against before handing bounded seek+
    decode work to a plugged-in codec. Every fixture parameter is an
    arithmetic function of (doc_id, n_chars), so the oracle recomputes
    the ENTIRE manifest (including the cumulative-sum offset walk)
    from documents alone — the parser output must match a value it
    never saw as input. Frame decode stays behind the plug-in hook
    (decode_real raises loudly on ftyp payloads)."""
    assets = mp4.mp4_assets_from_documents(
        tbl.load(spark, "documents", sf_dir)
    )
    return mp4.video_manifest(assets)


def _q_topk_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF PROBE MECHANISM externally hash-checked (mid-r6 —
    minhash_pairs_portable's role for the ANN family, extending the
    stream_ann_ingest lattice trick from assignment to the whole
    query path): vectors quantized to the floor(x·1000) BIGINT
    lattice, frozen centroids = the 8 smallest vec_ids' lattice
    vectors, then the REAL ivf.build_index + ivf.search run the
    production plan — stable-argsort probe-list ranking, broadcast
    query explode, list-join candidate restriction, cosine re-rank,
    top-k window. Every distance/dot addend is integer-exact in
    float64 and sqrt/division are IEEE-deterministic, so the oracle
    reproduces the probe SET and the ranked result bit-for-bit: a
    probe that scanned one wrong list would hash-mismatch. The
    production entry (topk_cosine_ivf, float k-means centroids)
    stays rows-only by design; THIS twin is why its mechanism can be
    trusted."""
    emb = tbl.load(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)),
        ).alias("qvec"),
    )
    cent_rows = quant.orderBy("vec_id").limit(8).collect()  # bounded
    centroids = [[int(v) for v in r["qvec"]] for r in cent_rows]
    index = ivf.build_index(quant, centroids, vec_col="qvec")
    queries = quant.filter(F.col("vec_id") % 50 == 0)
    return ivf.search(
        index, queries, centroids, k=5, nprobe=3, vec_col="qvec"
    )


def _q_semantic_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup MECHANISM externally hash-checked (mid-r6, the
    last big rows-only mechanism): lattice vectors + the frozen
    8-centroid quantizer run the PRODUCTION semantic_dedup plan
    (coarse assignment → per-cluster applyInPandas components →
    min-id representative), with the new ``exact_tau`` kernel dial:
    the edge test cos ≥ 9/10 is evaluated as
    ``dot > 0 AND 100·dot² ≥ 81·|a|²·|b|²`` in pure int64, so every
    pair verdict — and therefore every component and keeper — is
    engine-portable. The oracle replays assignment, the integer
    threshold, and the transitive closure as a recursive CTE. The
    float-k-means production entry stays rows-only by design (its
    kernel equality to numpy is pytest-pinned); THIS twin is why the
    cluster-bounded component mechanism can be trusted."""
    emb = tbl.load(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)),
        ).alias("qvec"),
    )
    cent_rows = quant.orderBy("vec_id").limit(8).collect()  # bounded
    centroids = [[float(v) for v in r["qvec"]] for r in cent_rows]
    return sdd.semantic_dedup(
        quant,
        k=8,
        vec_col="qvec",
        centroids=centroids,
        exact_tau=(9, 10),
    )


def _q_topk_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The random-hyperplane LSH mechanism externally hash-checked
    (mid-r6, completing the ANN set): the hyperplanes were ALWAYS
    integer (±1 splitmix signs), so lattice vectors make the bucket
    bits ([v·plane > 0]) integer-exact — the PRODUCTION topk_lsh
    plan (8 tables × 8 planes, posexplode + bucket join + distinct +
    fold-cosine re-rank) runs unchanged over qvec, and the oracle
    recomputes every bucket id from the SAME ±1 matrices (inlined as
    SQL literals by the shared hyperplane() derivation), the same
    OR-amplified candidate set, and the same ranked result. One
    flipped bucket bit anywhere changes the candidate set and
    hash-mismatches."""
    emb = tbl.load(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)),
        ).alias("qvec"),
    )
    queries = quant.filter(F.col("vec_id") % 50 == 0)
    return sim.topk_lsh(
        quant, queries, k=5, dim=64, n_planes=8, n_tables=8,
        vec_col="qvec",
    )


def _q_pq_codes_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ ENCODE mechanism externally hash-checked (mid-r6 —
    completing the portable-twin set: banded LSH r5, IVF probe and
    now subspace quantization): vectors on the floor(x·1000) BIGINT
    lattice, frozen integer codebooks = the 16 smallest vec_ids'
    lattice subvectors (m=8 subspaces × 8 dims), run through the
    PRODUCTION ``encode_pq`` Arrow pass with ``normalize=False`` so
    every squared-L2 addend is integer-exact in float64. The output
    is the 8-byte code itself as hex — one wrong nearest-codeword
    pick in any subspace changes the string. ADC scan + refine stay
    pinned by the refine≥corpus == brute pytest; the float-trained
    production entries remain rows-only by design."""
    emb = tbl.load(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)),
        ).alias("qvec"),
    )
    cw = quant.orderBy("vec_id").limit(16).collect()  # bounded: 16
    codebooks = [
        [[float(v) for v in r["qvec"][j * 8:(j + 1) * 8]] for r in cw]
        for j in range(8)
    ]
    codes = pqmod.encode_pq(
        quant, codebooks, vec_col="qvec", normalize=False
    )
    return codes.select(
        "vec_id", F.hex(F.col("codes")).alias("code_hex")
    )


def _q_audio_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header census over deterministic fixture streams —
    the audio analog of video_manifest (mid-r6): audio documents are
    muxed into structurally valid VBR Layer III streams (ID3v2 tag +
    per-frame bitrate/padding from the public 32-bit header grammar),
    then ONE mapInPandas pass walks the headers and derives frame
    count, sample rate, total samples, VBR flag, bitrate min/max/sum
    and byte extents — the duration/bitrate manifest a pipeline runs
    over 100 TB of audio WITHOUT any decoder. Fixture parameters are
    arithmetic in (doc_id, n_chars), so the oracle recomputes the
    whole manifest (including the per-frame 144000·br//sr + padding
    size walk) from documents alone."""
    assets = mp3.mp3_assets_from_documents(
        tbl.load(spark, "documents", sf_dir)
    )
    return mp3.audio_manifest(assets)


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: sample timestamps exploded from
    metadata only — no byte decode in the plan (decode happens late,
    after the frame list is pruned)."""
    assets = mm.assets_from_documents(tbl.load(spark, "documents", sf_dir))
    return mm.frame_sample(assets, every_ms=1000).select(
        "asset_id", F.col("sample_ms").cast("long").alias("sample_ms")
    )


def _q_multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling made REAL: Y4M video payloads decoded in the
    task, every 2nd frame kept, per-frame luma/motion emitted — the
    actual "sample frames from 100 TB of video" kernel (map-only;
    payload bytes never leave the task). Rows-only; decode and stats
    are pytest-pinned (test_llm_ops)."""
    # manual filter pushdown through the opaque encode (guide §4.2):
    # frame sampling uses only modality == "video" = doc_id % 3 == 2
    # under the fixture-encode contract — encode 1/3 of the corpus
    # (see phash_neardup)
    assets = mm.real_assets_from_documents(
        tbl.load(spark, "documents", sf_dir).filter(
            F.col("doc_id") % 3 == 2
        )
    )
    return mm.frame_sample_real(assets, every_n=2).select(
        "asset_id",
        "frame_idx",
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("motion", 6).alias("motion"),
    )


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize geometry over image assets: fit-inside aspect math from
    metadata only (decode deferred, like frame sampling)."""
    assets = mm.assets_from_documents(tbl.load(spark, "documents", sf_dir))
    return mm.resize(assets, 32, 32).drop("payload")


def _q_props_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read flatten of the JSON props column: every key
    becomes a typed props_<key> column with a single JVM-side
    from_json pass (inference on a bounded driver sample)."""
    flat = win.props_flatten(tbl.load(spark, "events", sf_dir))
    return flat.select("event_id", "user_id", "event_type", "props_k")


def _q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap (domain balancing) —
    md5-ordered exact top-k per source."""
    return corp.cap_per_source(tbl.load(spark, "documents", sf_dir), k=10)


def _q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2: JSON props extraction + aggregation per event_type."""
    return win.props_extract_agg(tbl.load(spark, "events", sf_dir))


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 composite: the LLM training-data pipeline as ONE
    declarative plan — quality gate → exact dedup (fingerprint,
    keep lowest doc_id) → per-language corpus stats. Catalyst fuses
    the whole thing; the only shuffles are the dedup groupBy and the
    final stats groupBy."""
    docs = tbl.load(spark, "documents", sf_dir)
    enriched = text.enrich(docs)  # one scan, zero joins
    gated = enriched.filter(
        (F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20)
    )
    kept = gated.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),  # deterministic pick among dups
        F.min("quality").alias("quality"),  # same text → same quality
        F.min("n_tokens").alias("n_tokens"),
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.sum(F.col("quality").cast("decimal(30,10)")).cast("string")
            .cast("double") / F.count("quality")
        ).alias("avg_quality"),
    )


# ------------------------------------------------- relational pack

def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q1_pricing_summary(spark, sf_dir)


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q3_shipping_priority(spark, sf_dir)


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q5_local_supplier_volume(spark, sf_dir)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom operator (§2.2): as-of join — each click event gets the
    most recent error value for the same user (point-in-time join).
    Spark has no built-in; composed as union + running last-non-null
    window. Oracle: DuckDB's native ASOF LEFT JOIN."""
    ev = tbl.load(spark, "events", sf_dir)
    epoch = tbl.epoch_seconds(ev.schema["ts"].dataType)
    base = ev.select(
        "user_id", epoch.alias("ts"), "value", "event_id", "event_type"
    )
    left = base.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    right = (
        base.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("err_value"))
    )
    out = asof.asof_join(
        left, right, by="user_id", value_cols=("err_value",)
    )
    return out.withColumnRenamed("err_value_asof", "error_value_asof")


def _q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom operator (§2.2): range/interval join — events banded by
    value tier via binned containment join, then aggregated."""
    ev = tbl.load(spark, "events", sf_dir).select("event_id", "value")
    bands = tbl.local_rows(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 250.0)],
        "band string, lo double, hi double",
    )
    joined = rjoin.range_join(ev, bands, "value", bin_width=50.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("string").cast("decimal(30,10)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
    )


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per return flag (Spark
    `percentile` ≡ DuckDB `quantile_cont`, verified bit-exact)."""
    li = tbl.load(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        F.count("*").alias("n"),
    )


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over orders status × priority (full sub-total lattice)."""
    orders = tbl.load(spark, "orders", sf_dir)
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
        .cast("string")
        .cast("double")
        .alias("total_price"),
    )


def _q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers ordering in both 1997 and 1998."""
    orders = tbl.load(spark, "orders", sf_dir)
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    y98 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y97.intersect(y98)


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q6_forecast_revenue(spark, sf_dir)


def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q10_returned_items(spark, sf_dir)


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.pivot_status_by_priority(spark, sf_dir)


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.customers_without_orders(spark, sf_dir)


def _q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.running_order_totals(spark, sf_dir)


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.grouping_sets_orders(spark, sf_dir)


def _q_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.rank_orders_per_customer(spark, sf_dir)


def _q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.top_parts_by_size(spark, sf_dir)


def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q4_order_priority(spark, sf_dir)


def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q12_shipmode_priority(spark, sf_dir)


def _q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q21_waiting_supplier(spark, sf_dir)


def _q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q2_min_cost_supplier(spark, sf_dir)


def _q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q9_product_profit(spark, sf_dir)


def _q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q11_important_stock(spark, sf_dir)


def _q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q16_supplier_part_counts(spark, sf_dir)


def _q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q20_excess_stock_suppliers(spark, sf_dir)


def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q14_promo_revenue(spark, sf_dir)


def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q18_large_volume_customers(spark, sf_dir)


def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q19_disjunctive_revenue(spark, sf_dir)


def _q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q22_idle_rich_customers(spark, sf_dir)


def _q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.except_custkeys(spark, sf_dir)


def _q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q7_volume_shipping(spark, sf_dir)


def _q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q8_market_share(spark, sf_dir)


def _q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q13_customer_distribution(spark, sf_dir)


def _q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q15_top_supplier(spark, sf_dir)


def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.q17_small_quantity_revenue(spark, sf_dir)


def _q_series_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite-function-library transforms (derivative / moving
    average / integral) over the hourly-averaged deduped series —
    one window shuffle computes all three."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.series_functions(hourly, ma_points=5)


def _q_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (vs the ROWS frames elsewhere): 3-hour
    trailing sum/count per metric over the hourly series — correct
    even when buckets are missing (a ROWS frame would silently span
    gaps; the RANGE frame is bounded by the ts VALUE)."""
    from pyspark.sql.window import Window

    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    w = (
        Window.partitionBy("metric")
        .orderBy("ts")
        .rangeBetween(-10800, 0)
    )
    return hourly.select(
        "metric",
        "ts",
        "value",
        F.sum(F.col("value").cast("string").cast("decimal(30,10)"))
        .over(w)
        .cast("string")
        .cast("double")
        .alias("trailing_3h_sum"),
        F.count("value").over(w).alias("trailing_3h_n"),
    )


def _q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flags (|z| ≥ 2) on the hourly series —
    decimal-accumulated mean/variance, broadcast stats join."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.anomaly_zscore(hourly, z=2.0)


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM mean-shift detector on the hourly series: exact
    windowed-decimal running sums minus t·mean — the sustained-drift
    alarm z-scores can't raise."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.cusum_changepoints(hourly, threshold=50.0)


def _q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keepLastValue over a dense day-1 fetch: gaps inherit the most
    recent value; leading gaps stay NULL."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    return ser.forward_fill(dense)


def _q_per_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perSecond counter rate over the hourly series — gap-correct
    (divides by actual elapsed seconds) and reset-safe (negative
    delta → NULL)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.per_second(hourly)


def _q_derivative_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite derivative + integral over a dense day-1 hourly fetch
    (r9 function-layer widening): the delta is None when current OR
    previous point is None (a gap poisons two outputs, exactly
    functions.py's prev walk); the running total skips None but emits
    None at None slots, accumulating DECIMAL-exact."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    return ser.derivative_integral(dense)


def _q_null_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite transformNull(0) + keepLastValue(limit=2) with the
    FINITE-limit semantics (r9): a consecutive-None run fills ONLY if
    the whole run is <= limit — longer runs stay entirely None, and
    leading Nones always stay None (no anchor). forward_fill remains
    the limit=INF twin; this entry hash-checks the bounded form's
    run-length logic externally."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    return ser.null_gap_fill(dense, default=0.0, limit=2)


def _q_name_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite grep / exclude / aliasByNode(2) / aliasSub in one
    series-cardinality projection (r9): fixture metrics are prefixed
    in-plan into dotted paths (prod.events.<metric>) so the node
    logic is exercised; both gates emit 0/1 columns so BOTH arms are
    inside the hash check; regexes stay in the POSIX subset both
    engines parse identically."""
    return ser.name_functions(cp.compact(tbl.points(spark, sf_dir), 60))


def _q_divide_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite divideSeries(click, view) per minute slot (r9): None
    when the divisor is missing OR ZERO (functions.py's
    `value / divisor if divisor else None` — never an infinity) or
    the dividend is missing; a single IEEE divide, engine-portable
    without a decimal detour."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.divide_series(deduped, dividend="click", divisor="view")


def _q_series_orderings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite sortByName + sortByTotal ranks (r9), completing the
    panel-ordering family (sort_by_extrema covers maxima/minima,
    filter_series the current ranks). The total is the decimal-exact
    sum — a ulp there could swap adjacent ranks; ties break by
    metric for a total, oracle-stable order."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.series_orderings(deduped)


def _q_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite interpolate(series, limit=3) over the dense day-1
    hourly fetch (r9): interior None runs <= limit are LINEARLY
    filled by slot position (prev + (next-prev)*pos/(len+1) — the
    identical IEEE expression tree on both engines); longer runs,
    leading and trailing gaps stay None. The straight-line
    counterpart of null_gap_fill's step fill."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    return ser.interpolate_gaps(dense, limit=3)


def _q_remove_between_percentile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """graphite removeBetweenPercentile(seriesList, 80) (r9): the
    CROSS-SERIES percentile band per time slot (rank window
    partitioned by ts — the transpose of the usual per-metric
    window; graphite's integer _getPercentile rank rule), keeping
    only series that escape the OPEN band (p20, p80) somewhere —
    band-edge equality escapes, graphite's ``not (low < v < high)``
    (ADVICE r9) — with their escape counts. Runs on the HOURLY
    averages so every slot carries all 5 metrics (minute slots are
    1-3 metrics sparse and the 5-series band at ranks 2/5 needs the
    full transpose to discriminate)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.remove_between_percentile(hourly, n=80)


def _q_scalar_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite offset(10) + scale(1.5) + aggregateLine(avg/min/max)
    in one per-metric window pass (r9 wave 5): offset/scale dials are
    binary-exact so each output is a single correctly-rounded IEEE
    op; the lines are decimal-exact per-series scalars drawn beside
    every point without a join-back."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.scalar_line_transforms(deduped, offset=10.0, factor=1.5)


def _q_average_outside_percentile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """graphite averageOutsidePercentile(65) (r9 wave 5): decimal-
    exact per-series averages, the integer _getPercentile band ACROSS
    the averages, keep series whose average escapes the OPEN band —
    graphite's ``not (lo < avg < hi)``, so band-edge averages are
    KEPT (ADVICE r9; with 5 distinct averages all five series
    survive). The emitted band_lo/band_hi columns pin the band
    computation in the hash check even though the keeper filter no
    longer discriminates on this fixture."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.average_outside_percentile(deduped, n=65)


def _q_smart_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite smartSummarize(series, '7h', 'avg', alignTo='days')
    (r10 wave 6): buckets anchored at the CALENDAR day boundary. The
    input is scoped to start 5 h into day 1 so all three summarize
    anchors differ (epoch grid = 18000-offset 25200s grid; alignTo-
    From = first ts = T0+18000; calendar = T0): the emitted anchor
    column pins the truncation derivation in the hash."""
    scoped = tbl.points(
        spark, sf_dir, from_time=T0 + 18000, until_time=T0 + 3 * DAY
    )
    deduped = cp.compact(scoped, 60)
    return ser.smart_summarize(
        deduped, interval=25200, method="average", align_seconds=86400
    )


def _dc_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared wave-6 fixture: the per-DC replica panel — events keyed
    by a synthetic dc node (user_id parity), hourly decimal-exact
    averages, emitted with the dotted path dc<p>.<type>.requests that
    the wildcard/list functions do their name surgery on."""
    ev_raw = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
    ev = ev_raw.select(
        F.col("event_type").alias("name"),
        (F.col("user_id") % 2).cast("int").alias("dc"),
        (sec - sec % 3600).cast("long").alias("ts"),
        "value",
    )
    dec = F.col("value").cast("string").cast("decimal(30,10)")
    return (
        ev.groupBy("dc", "name", "ts")
        .agg(
            (
                F.sum(dec).cast("string").cast("double")
                / F.count("value")
            ).alias("value")
        )
        .select(
            F.concat(
                F.lit("dc"), F.col("dc"), F.lit("."),
                F.col("name"), F.lit(".requests"),
            ).alias("path"),
            "ts",
            "value",
        )
    )


def _q_series_with_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite sumSeriesWithWildcards / averageSeriesWithWildcards
    (position 0) over the per-DC replica panel (r10 wave 6): strip
    the dc node in-plan (split → drop index → rejoin — real name
    machinery) and aggregate the collapsing series per slot. Most
    slots merge both DC replicas (n_series=2), sparse hours carry
    one — both arms in the hash."""
    return ser.series_with_wildcards(_dc_series(spark, sf_dir), position=0)


def _q_divide_series_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite divideSeriesLists(dc0.*, dc1.*) (r10 wave 6): the
    wildcard-paired division — dc0 replica over dc1 replica matched
    on the stripped name per slot, NULL on missing-or-zero divisor
    (divide_series' functions.py rule), one grouped pivot, no
    self-join."""
    return ser.divide_series_lists(_dc_series(spark, sf_dir))


def _q_remove_empty_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite removeEmptySeries(seriesList, xFilesFactor) (r10 wave
    6) over the day-1 dense hourly fetch WITH a planted all-None
    series: the metric list is the catalog plus 'nodata' (zero
    points — read_series returns its dense all-NULL frame, the ceres
    empty-range contract), so the keep_any arm actually drops a
    series. keep_xff at 950000 ppm splits the real metrics at
    sf0.01 (22-23 of 24 hours covered) — coverage ppm is exact
    integer arithmetic, no float ratio near the gate."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = (
        tbl.points(spark, sf_dir)
        .select("metric")
        .distinct()
        .unionByName(
            tbl.local_rows(spark, [("nodata",)], "metric string")
        )
    )
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    return ser.remove_empty_series(dense, xff_ppm=950000)


def _q_name_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite name-function family II (r10 wave 6): substr(1,3) —
    the NODE slice — plus aliasByMetric and alias over the same
    in-plan dotted paths as name_functions."""
    return ser.name_functions_2(cp.compact(tbl.points(spark, sf_dir), 60))


def _q_group_by_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite groupByNodes(dc.srv.type, 'sum', 0, 2) (r11 wave 7):
    events keyed 3 levels deep — dc<user_id%2>.srv<user_id%4>.<type> —
    hourly-averaged per full path, then the dc and leaf nodes KEPT
    (argument order) and the host aggregated away. The multi-node
    complement of group_by_node's single-component keep."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    pts = ev.select(
        F.concat(
            F.lit("dc"), (F.col("user_id") % 2).cast("string"),
            F.lit(".srv"), (F.col("user_id") % 4).cast("string"),
            F.lit("."), F.col("event_type"),
        ).alias("metric"),
        sec.cast("long").alias("ts"),
        "value",
        F.col("event_id").alias("arrival_seq"),
    )
    deduped = cp.compact(pts, 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.group_by_nodes(hourly, [0, 2], "sum")


def _q_apply_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite applyByNode(srv.*.ev.*, 0, 'divideSeries(%.ev.click,
    %.ev.view)') (r11 wave 7): the per-host click/view ratio — series
    grouped on their first path component, the divide template
    pivoted per (prefix, ts) in one grouped pass. Paths are
    srv<user_id%4>.ev.<type> hourly decimal-exact averages."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    dec = F.col("value").cast("string").cast("decimal(30,10)")
    panel = (
        ev.select(
            F.concat(
                F.lit("srv"), (F.col("user_id") % 4).cast("string"),
                F.lit(".ev."), F.col("event_type"),
            ).alias("path"),
            (sec - sec % 3600).cast("long").alias("ts"),
            "value",
        )
        .groupBy("path", "ts")
        .agg(
            (
                F.sum(dec).cast("string").cast("double")
                / F.count("value")
            ).alias("value")
        )
    )
    return ser.apply_by_node(panel, 0, "ev.click", "ev.view")


def _q_use_series_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite useSeriesAbove(cap.*, 480, 'cap.', 'act.') (r11 wave
    7): the on/off fetch-indirection idiom — cap.<type> carries the
    raw 60s-compacted points (whose MAX gates), act.<type> the hourly
    decimal-avg panel the rewrite fetches instead. The 480 threshold
    splits the gate at BOTH SFs (sf0.01: click's 490 max passes, the
    other four stay below; sf0.1: click+error pass, three fail) and
    sits far above every act.* hourly average, so only rewritten
    names survive."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    cap = deduped.select(
        F.concat(F.lit("cap."), F.col("metric")).alias("metric"),
        "ts", "value",
    )
    act = agg.aggregate_series(deduped, "average", 3600).select(
        F.concat(F.lit("act."), F.col("metric")).alias("metric"),
        "ts", "value",
    )
    return ser.use_series_above(
        cap.unionByName(act), 480.0, r"^cap\.", "act."
    )


def _q_ema_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite exponentialMovingAverage(series, 4) — the
    WINDOW-POINTS dial (r11 wave 7; ewma_series covers the α dial):
    c = 2/5, seed = decimal-exact average of each series' first 4
    hourly slots, recursion emitted one slot late per graphite's
    append loop (the transcribed-rule caveat lives in the operator
    docstring). Hash-checked against a recursive-CTE oracle replaying
    the identical IEEE recursion with the identical decimal seed."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.ema_window(hourly, window_points=4)


def _q_offset_to_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite offsetToZero + delay(1) (r11 wave 7b) over the hourly
    decimal-avg panel: rebase each series on its own exact min (one
    IEEE subtraction) and emit the 1-step-lagged value beside it —
    both exactly representable, no decimal detour."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.offset_to_zero(hourly, delay_steps=1)


def _q_fallback_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite fallbackSeries + isNonNull + limit(3) (r11 wave 7c —
    the LAST SQL-expressible render functions): the primary is a
    'zzz*' fetch that matches nothing, so the list-level gate renders
    the dense day-1 fetch instead (src column pins which arm fired);
    the dense frame's empty hours populate isNonNull's zero arm; the
    name-ordered limit(3) splits the 5-metric catalog."""
    scoped = tbl.points(spark, sf_dir, from_time=T0, until_time=T0 + DAY)
    metrics = tbl.points(spark, sf_dir).select("metric").distinct()
    dense = ser.read_series(scoped, metrics, T0, T0 + DAY, 3600, "average")
    primary = dense.filter(F.col("metric").startswith("zzz"))
    return ser.fallback_series(primary, dense, limit_n=3)


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize hourly values into each metric's exact [p5, p95]
    band (broadcast band join, projection clamp)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.winsorize(hourly)


def _q_group_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByNode over dotted paths: events keyed as
    ``srv<user_id%4>.<event_type>`` (the tree data model's hierarchy),
    hourly-averaged per full path, then fanned-in on path component 1
    with method=sum — graphite's groupByNode(…, 1, 'sum')."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    pts = ev.select(
        F.concat(
            F.lit("srv"),
            (F.col("user_id") % 4).cast("string"),
            F.lit("."),
            F.col("event_type"),
        ).alias("metric"),
        sec.cast("long").alias("ts"),
        "value",
        F.col("event_id").alias("arrival_seq"),
    )
    deduped = cp.compact(pts, 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.group_by_node(hourly, 1, "sum")


def _q_moving_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stdev: 5-bucket trailing population stddev per metric."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.moving_stddev(hourly, points=5)


def _q_series_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumSeries/diffSeries: per-ts total over all metrics and
    click − view, one conditional aggregation."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.series_arithmetic(hourly, "click", "view")


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join as a first-class query: events (hot keys
    — 5 event types over 100k rows) ⋈ a per-type weight dim with the
    hot side salted 8 ways. The ORACLE is the plain unsalted join —
    proving the salt+explode machinery is result-invariant."""
    import ceres_spark.operators.join_strategies as js

    ev = tbl.load(spark, "events", sf_dir).select("event_type", "value")
    dim = tbl.local_rows(
        spark,
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    j = js.salted_join(ev, dim, "event_type", salt=8)
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("value") * F.col("weight")).cast("decimal(30,10)"))
        .cast("string")
        .cast("double")
        .alias("weighted_sum"),
    )


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join as a first-class query: customer and
    orders both written bucketed by custkey (the one-time shuffle a
    warehouse amortizes), then joined with ZERO exchange on either
    side (plan-asserted in tests/test_plans.py). The ORACLE is the
    plain unbucketed join — proving bucketing is result-invariant,
    the same trick as salted_join."""
    import ceres_spark.operators.join_strategies as js

    cust = tbl.load(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    orders = tbl.load(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    js.write_bucketed(cust, "bj_customer", "custkey", buckets=8)
    js.write_bucketed(orders, "bj_orders", "custkey", buckets=8)
    j = js.bucketed_join(spark, "bj_customer", "bj_orders", "custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
        .cast("string")
        .cast("double")
        .alias("total_price"),
    )


def _q_order_quartiles_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path beside order_analytics' exact global ntile:
    exact interpolated quartile boundaries via one distributed
    `percentile` aggregate, broadcast 1-row bucket assignment — no
    single-partition sort anywhere (plan-asserted)."""
    return rel.order_quartiles_scaled(spark, sf_dir)


def _q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as neardup_clusters but via large-star/small-star
    contraction (O(log² n) rounds — the high-diameter-safe CC variant)
    instead of min-label propagation. Oracle is the identical
    recursive-CTE closure: both algorithms must produce the same
    min-id component labelling."""
    docs = tbl.load(spark, "documents", sf_dir)
    pairs = dd.jaccard_pairs_vectorized(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    comp = gr.connected_components_star(pairs, "doc_a", "doc_b")
    base = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("component")
    return base.select(
        "doc_id", "component", F.count("*").over(w).alias("cluster_size")
    )


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table in ONE aggregate
    pass: row/null/distinct counts and value/time extents — the
    expectation-check a pipeline runs before trusting an input drop."""
    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    return ev.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("value")).alias("value_nulls"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min(sec).alias("min_ts"),
        F.max(sec).alias("max_ts"),
    )


def _q_melt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→tall unpivot (melt): the per-metric aggregate row unpivots
    into (metric, stat, value) — Spark's native unpivot node, checked
    against a UNION-ALL oracle."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    wide = deduped.groupBy("metric").agg(
        agg.agg_expr("average").alias("avg"),
        agg.agg_expr("sum").alias("sum"),
        agg.agg_expr("max").alias("max"),
        agg.agg_expr("min").alias("min"),
    )
    return wide.unpivot(
        ids=["metric"],
        values=["avg", "sum", "max", "min"],
        variableColumnName="stat",
        valueColumnName="value",
    )


def _q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingMedian: 5-bucket trailing exact median per metric."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.moving_median(hourly, points=5)


def _q_bucketed_series_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series_functions over a metric-bucketed warehouse table: the
    per-series Window runs with ZERO Exchange (plan-asserted); the
    oracle is the identical unbucketed computation — bucketing must
    be result-invariant."""
    import ceres_spark.operators.join_strategies as js
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return js.bucketed_series_windows(spark, hourly, table="bp_points_q")


def _q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-Saving heavy hitters. At capacity >= distinct items the
    sketch is provably exact (count_min == count_max == true count),
    which is what the oracle checks; under-capacity bound containment
    is pytest's job (test_sketches)."""
    import ceres_spark.operators.sketches as sk
    return sk.frequent_items(
        tbl.load(spark, "events", sf_dir), "event_type",
        k=10, capacity=1024,
    )


def _q_series_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale/offset/transformNull + countSeries/rangeOfSeries/
    averageSeries — the per-ts combinator surface, one aggregation."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.series_transform(hourly)


def _q_series_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linearRegression: per-series least-squares slope (per hour) and
    fitted end value, from exact narrow-decimal sums."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.series_linreg(hourly)


def _q_ewma_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA (graphite exponentialMovingAverage). Recursive
    state → applyInPandas; hash-checked since r5 against a recursive-
    CTE oracle running the identical IEEE recursion (string-cast
    double constants, MATERIALIZED step table); also pinned in pytest
    against the hand-rolled recurrence (tests/test_series_ops.py)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.ewma(hourly, alpha=0.3)


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt forecast + confidence bands + aberration (graphite
    holtWinters* family, non-seasonal). Hash-checked since r5 via the
    shared recursive-CTE oracle (_HOLT_ORACLE); exact replay of the
    recurrence is also pytest-asserted."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.holt_winters(hourly)


def _q_stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED online Holt smoothing (streaming/stateful.
    holt_winters_stream): the hourly decimal-avg series replays as 4
    time-ordered arrival batches; (level, trend, deviation) survive
    across micro-batches in the state store, and every observation's
    forecast/band/aberration is emitted as it arrives. Shares
    _HOLT_ORACLE with the batch twin — the external check proves the
    cross-batch state carry reproduces the batch recursion bit-for-
    bit (previously pytest-only). Step count is bounded by the time
    range (hourly buckets), the sequential-oracle scaling rule from
    stream_cusum."""
    import ceres_spark.streaming.stateful as st

    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return _replay_stateful(
        spark, sf_dir, "hw", "stream_holt_winters", hourly,
        "metric string, ts long, value double",
        lambda s: st.holt_winters_stream(
            s, alpha=0.1, beta=0.0035, dev_scale=3.0
        ),
    ).select(
        "metric", "ts", "value", "forecast", "upper", "lower",
        "aberration"
    )


def _q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED online EWMA (streaming/stateful.
    ewma_stream): the hourly decimal-avg series replays as 4
    time-ordered arrival batches; the single-float-per-series EWMA
    state survives across micro-batches in the state store and every
    observation's average is emitted as it arrives. Shares
    _EWMA_ORACLE with the batch twin (ewma_series) — the external
    check proves the cross-batch state carry reproduces the batch
    recursion bit-for-bit."""
    import ceres_spark.streaming.stateful as st

    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return _replay_stateful(
        spark, sf_dir, "ewma", "stream_ewma", hourly,
        "metric string, ts long, value double",
        lambda s: st.ewma_stream(s, alpha=0.3),
    ).select("metric", "ts", "value", "ewma")


def _q_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite's actual holtWintersForecast shape: ADDITIVE seasonal
    (triple) smoothing. 5-min buckets with a 12-step (1-hour) season
    over the day-long fixture = 24 observed cycles; the seasonal
    phase is timestamp-anchored so gaps advance it correctly.
    UPGRADED r5 from rows-only to hash-checked: the O(L) seasonal
    vector rides a recursive-CTE oracle as a DOUBLE[12] list column
    (_HOLT_SEASONAL_ORACLE) — the triple recursion is replayed
    bit-for-bit, season learning included. Exact recurrence replay
    and the streaming twin's cross-batch bit-equality remain
    pytest-asserted."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    five_min = agg.aggregate_series(deduped, "average", 300)
    return ser.holt_winters(
        five_min, season_length=12, gamma=0.1, step=300
    )


def _q_stream_hw_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED online SEASONAL Holt-Winters (streaming/
    stateful.holt_winters_seasonal_stream): the 5-min decimal-avg
    series replays as 4 time-ordered arrival batches; level/trend/
    deviation PLUS the 12-slot seasonal vector survive across
    micro-batches as ARRAY-valued state — the only array-state
    operator in the fleet, so this replay externally checks that the
    state store round-trips composite state bit-for-bit. Shares
    _HOLT_SEASONAL_ORACLE with the batch twin; the timestamp-anchored
    phase means the 4-way batch split cannot desync the season."""
    import ceres_spark.streaming.stateful as st

    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    five_min = agg.aggregate_series(deduped, "average", 300)
    return _replay_stateful(
        spark, sf_dir, "hws", "stream_hw_seasonal", five_min,
        "metric string, ts long, value double",
        lambda s: st.holt_winters_seasonal_stream(
            s, season_length=12, step=300, alpha=0.1, beta=0.0035,
            gamma=0.1, dev_scale=3.0,
        ),
    ).select(
        "metric", "ts", "value", "forecast", "upper", "lower",
        "aberration"
    )


def _q_slice_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #16/#17 run-splitting as an audit query: the contiguous
    runs (gap > MAX_SLICE_GAP=80 steps starts a new one) the reference
    would store as separate slice files — the defrag job's small-file
    inventory."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return cp.slice_runs(deduped, 60)


def _q_slice_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration BOTH directions in one query: canonical points →
    reference-format slice tree (distributed applyInPandas export,
    one task per node dir; big-endian float64 '!d' packing, NaN gap
    padding, MAX_SLICE_GAP run splits — ceres.py ≈L41-45/L640) →
    binaryFile read-back. float64 survives the byte round-trip
    bit-exactly, so the result must equal the quantized LWW input —
    which is exactly what the oracle computes from events directly,
    making the full export/import cycle oracle-checked."""
    import tempfile

    pts = cp.lww_dedup(
        cp.quantize(
            tbl.points(spark, sf_dir).filter(F.col("value").isNotNull()), 60
        )
    )
    root = tempfile.mkdtemp(prefix="ceres_slice_export_")
    sfmt.export_slice_tree(spark, pts, root, 60)
    return sfmt.read_slice_tree(spark, root).select("metric", "ts", "value")


def _q_as_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asPercent: per-metric share of each hour's total (the per-ts
    totals join is UNHINTED as of r10 — ts is the unbounded axis;
    AQE broadcasts at render-window sizes on its own)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.as_percent(hourly)


def _q_top_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """highestCurrent: top-3 metrics by latest hourly value (max_by
    current + TakeOrderedAndProject top-k)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    return ser.top_series(hourly, k=3)


def _q_time_shift_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeShift + self-join alignment: each hourly bucket against the
    same metric one hour earlier (hour-over-hour delta). The shift is
    a projection; the join realigns on (metric, ts)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    hourly = agg.aggregate_series(deduped, "average", 3600)
    shifted = ser.time_shift(hourly, 3600).withColumnRenamed(
        "value", "value_prev"
    )
    return (
        hourly.join(shifted, ["metric", "ts"])
        .select(
            "metric",
            "ts",
            "value",
            "value_prev",
            (F.col("value") - F.col("value_prev")).alias("delta"),
        )
    )


def _q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch quantiles per event_type (error ≤
    bin width; merge-exact by construction, unlike t-digest). The
    scale path for percentiles when the exact sort-based
    `percentiles` query is too expensive."""
    ev = tbl.load(spark, "events", sf_dir).select(
        F.col("event_type").alias("metric"), "value"
    )
    return sk.histogram_quantiles(
        ev, "metric", "value", qs=(0.5, 0.95), bin_width=1.0
    )


def _q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 training-pipeline: deterministic content-hash
    train/val/test split (75/12.5/12.5). Content-keyed so exact dups
    never straddle the eval boundary."""
    return corp.stratified_split(tbl.load(spark, "documents", sf_dir))


def _q_vocab_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 training-pipeline: top-100 vocabulary with occurrence +
    document frequencies (tokenizer-training input)."""
    return corp.vocab_top_n(tbl.load(spark, "documents", sf_dir), n=100)


def _q_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION materialized: near-dup clusters (jaccard →
    connected components) joined with quality scores; one keeper per
    cluster — highest quality, doc_id tie-break. The full pipeline a
    production dedup job ships: doc_id, component, quality, is_kept."""
    from pyspark.sql.window import Window

    docs = tbl.load(spark, "documents", sf_dir)
    pairs = dd.jaccard_pairs_vectorized(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    comp = gr.connected_components(pairs, "doc_a", "doc_b")
    q = text.quality_score(docs).select("doc_id", "quality")
    base = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
        .join(q, "doc_id")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), "doc_id"
    )
    return base.select(
        "doc_id", "component", "quality",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality-weighted sampling: md5-derived uniform vs
    lexical-diversity weight — deterministic, churn-free, scan-speed."""
    return corp.weighted_sample(tbl.load(spark, "documents", sf_dir))


def _q_corpus_filter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4-style quality gate: length/repetition/substring
    flags + keep verdict, one oracle-checkable pass."""
    return corp.corpus_filter_gate(tbl.load(spark, "documents", sf_dir))


def _q_span_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span duplication: fraction of each document's
    distinct 8-token spans that occur in ≥2 documents. Linear plan —
    span-count aggregate + join-back, no pairwise join anywhere."""
    return dd.span_dup_ratio(tbl.load(spark, "documents", sf_dir), k=8)


def _q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy: exact-integer document-frequency ppm
    stats (min / sum / hapax count / mean) per document."""
    return corp.token_rarity(tbl.load(spark, "documents", sf_dir))


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference as one shuffle-free
    projection: exact BIGINT micro-unit margin over integer-ppm
    features, keep = margin > 0 — bit-identical on any engine."""
    return corp.quality_classifier(tbl.load(spark, "documents", sf_dir))


def _q_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG data path, oracle-checked WHOLE: overlapping
    chunks → exact signed-hash embeddings → fold-cosine top-5 per
    query chunk (queries = chunks of doc_id < 2, broadcast)."""
    return chk.chunk_retrieval(
        tbl.load(spark, "documents", sf_dir), query_docs_below=2, k=5
    )


def _q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (Weinberger 2009): text → exact BIGINT
    32-dim vectors via portable md5 arithmetic — bridges the document
    corpus onto the embedding stack with no model and no floats.

    The registry surface serializes the vector to a ``vec_str`` CSV
    column: the driver's value hasher dies on list-typed cells
    (pandas hash table, CORRECTNESS_r03), so oracle-paired entries
    must emit only scalar columns. The dense ``vec`` array stays the
    operator's own output (semantic_dedup_docs consumes it)."""
    vecs = corp.hash_embed(tbl.load(spark, "documents", sf_dir), dim=32)
    return vecs.select(
        "doc_id",
        F.concat_ws(
            ",", F.expr("transform(vec, x -> cast(x as string))")
        ).alias("vec_str"),
    )


def _q_semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TEXT semantic dedup: hash-embed the documents, then
    SemDeDup over the derived vectors (k-means clusters → in-task
    cosine components). Rows-only (k-means + float cosine); both
    stages are individually pinned (hash_embed oracle-paired,
    semantic_dedup numpy-reference pytest)."""
    vecs = corp.hash_embed(
        tbl.load(spark, "documents", sf_dir), dim=32
    ).select(
        F.col("doc_id").alias("vec_id"),
        F.expr("transform(vec, x -> cast(x as double))").alias("embedding"),
    )
    return sdd.semantic_dedup(
        vecs, tau=0.95, k=8, cache_key=f"{sf_dir}/hash_embed"
    )


def _q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval decontamination: flag training vectors with
    cosine ≥ 0.30 to any of the 25 broadcast eval vectors — the
    embedding twin of the n-gram contamination gate; fold cosine is
    bit-equal to the oracle's list_reduce."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return sim.embedding_decontamination(
        emb.filter(F.col("vec_id") >= 25),
        emb.filter(F.col("vec_id") < 25),
        tau=0.30,
    )


def _q_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank authority over the nation-level trade graph (domain-
    level, the granularity a corpus pipeline ranks) — supplier-nation
    → customer-nation edges from lineitem⋈orders, proper dangling
    redistribution. UPGRADED r5 from rows-only to hash-checked: ranks
    live on a BIGINT unit lattice (graph.pagerank_units — integer
    multiply/floor-div/sum only, so every engine and every
    partitioning produces the same bits), which lets a recursive-CTE
    oracle replay the 6-iteration fixpoint exactly. ≤1e-6 agreement
    with the float power iteration is pytest-pinned
    (tests/test_graph.py)."""
    li = tbl.load(spark, "lineitem", sf_dir)
    o = tbl.load(spark, "orders", sf_dir)
    s = tbl.load(spark, "supplier", sf_dir)
    c = tbl.load(spark, "customer", sf_dir)
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return gr.pagerank_units(edges, n_iter=6).orderBy("node")


def _q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release dataset card: per-(source, lang) / per-source /
    overall ROLLUP of docs, tokens, keep-rate and mean classifier
    margin — one scan, one Expand-fed aggregate, exact integers."""
    return corp.corpus_card(tbl.load(spark, "documents", sf_dir))


def _q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift monitor: top-50 tokens by absolute document-
    frequency-rate change between two corpus halves (doc_id parity as
    the deterministic snapshot split) — exact BIGINT ppm rates, full
    outer vocabulary join, TakeOrdered top-n."""
    docs = tbl.load(spark, "documents", sf_dir)
    return corp.vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_n=50,
    )


def _q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered per-source token-budget fill: exact-integer
    margin order + BIGINT running token sum decide the training mix —
    one source-keyed window shuffle."""
    return corp.token_budget_fill(
        tbl.load(spark, "documents", sf_dir), budget_per_source=150
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) embedding-space near-dup removal:
    k-means clusters bound the pairwise cosine to Σ|cluster|² in-task
    GEMMs; one representative (min vec_id) per ≥tau component.
    Rows-only by design (float cosine threshold graph has no SQL
    oracle); spec-equality vs a pure-numpy reference and partitioning
    invariance are pytest-pinned (tests/test_semdedup.py)."""
    return sdd.semantic_dedup(
        tbl.load(spark, "embeddings", sf_dir),
        tau=0.9,
        k=16,
        cache_key=f"{sf_dir}/embeddings",
    )


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich 2016): corpus is
    scanned ONCE into a weighted word vocabulary; each merge round is
    a vocabulary-sized pair-count aggregate + JVM fold merge.
    Iterative/argmax-dependent — rows-only by design; the merge table
    is pytest-pinned bit-equal to a pure-Python reference
    implementation (tests/test_bpe.py)."""
    return bpe.bpe_train(
        tbl.load(spark, "documents", sf_dir), n_merges=10
    )


def _q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer: learn 10 BPE merges on the corpus, then
    apply them corpus-wide as M chained JVM fold passes (map-only —
    no join, no shuffle until nothing). Rows-only (train is
    iterative); segmentation exactness is pytest-pinned against the
    reference implementation (tests/test_bpe.py)."""
    docs = tbl.load(spark, "documents", sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in bpe.bpe_train(docs, n_merges=10).collect()
    ]
    return bpe.bpe_segment(docs, merges)


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality filter: corpus-trained bigram model in
    exact BIGINT ppm, per-doc transition-probability stats (min / sum
    / rare-transition count / mean) — no float log anywhere."""
    return corp.bigram_lm_score(tbl.load(spark, "documents", sf_dir))


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 training-pipeline: per-doc characteristic terms via
    exact-BIGINT tf-idf (tf*1e6*N div df) — no float log, so the
    score is engine- and partitioning-independent."""
    return corp.tfidf_top_terms(tbl.load(spark, "documents", sf_dir), k=3)


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-novelty scoring: per doc, the ppm fraction of its 8-token
    spans first seen in THIS doc (smallest-id owner) — linear
    gram-MIN + join-back plan, exact integers, oracle-paired."""
    return dd.ngram_novelty(tbl.load(spark, "documents", sf_dir), k=8)


def _q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs: real WAV decode → envelope fingerprint →
    shared band-LSH + exact Hamming kernel. Rows-only: Python-side
    decode; gain-invariance and planted-pair recall pytest-pinned."""
    # manual filter pushdown through the opaque encode (guide §4.2):
    # audio_pairs uses only modality == "audio" = doc_id % 3 == 1
    # under the fixture-encode contract — encode 1/3 of the corpus
    # instead of all of it (see phash_neardup)
    assets = mm.real_assets_from_documents(
        tbl.load(spark, "documents", sf_dir).filter(
            F.col("doc_id") % 3 == 1
        )
    )
    # toy-scale dial; see phash_neardup
    return mm.audio_pairs(assets, max_hamming=16, allow_weak_blocking=True)


def _q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap (near-mirror detection for
    source-level curation): vocabulary-sized self-join, exact-integer
    Jaccard ppm — oracle-paired."""
    return corp.source_similarity(tbl.load(spark, "documents", sf_dir))


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage decontamination: broadcast Bloom word-table prefilter
    (≤128 KiB regardless of eval size) + exact verify join — EXACT
    result, so it oracle-pairs with plain containment SQL even though
    the middle stage is probabilistic. Same eval split as
    `contamination`; the two entries must (and do) agree."""
    docs = tbl.load(spark, "documents", sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return dd.bloom_decontaminate(rest, ev, shingle_k=3)


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stripping normalization (tags, entities, case,
    punctuation, whitespace) — one shuffle-free codegen projection;
    regex subset chosen to evaluate identically under Java regex and
    RE2, so the normalized text itself hash-checks."""
    return text.text_normalize(tbl.load(spark, "documents", sf_dir))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (XLM-R-style α=0.5) with
    largest-remainder integer apportionment — Σ alloc == target
    exactly; sqrt+floor+BIGINT arithmetic is engine-portable."""
    return corp.temperature_mix(
        tbl.load(spark, "documents", sf_dir), target_total_tokens=100_000
    )


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query vector, top-8
    corpus vectors with cosine in the [0.05, 0.60) hard band
    (broadcast queries with prenormed vectors; fold cosine ==
    oracle's list_reduce bit-for-bit)."""
    emb = tbl.load(spark, "embeddings", sf_dir)
    return sim.hard_negatives(
        emb.filter(F.col("vec_id") >= 25),
        emb.filter(F.col("vec_id") < 25),
        k=8,
    )


def _q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: real PPM/PNG/JPEG decode → aHash
    perceptual fingerprint → lossless bit-band LSH pairing + exact
    Hamming verify (the image twin of simhash_pairs). Every 24th
    fixture image gets a PLANTED cross-container twin — its pixels
    re-encoded as baseline JPEG (the same-photo-saved-twice
    scenario) — so the entry runs at the PRODUCTION dial
    (max_hamming=6, strong blocking, no weak-blocking opt-in) and
    deterministically surfaces pairs. Rows-only: the decode is
    Python-side; hash values and planted-pair recall are
    pytest-pinned (test_llm_ops, test_jpeg)."""
    docs = tbl.load(spark, "documents", sf_dir)
    # manual filter pushdown through the opaque encode pass (guide
    # §4.2: Catalyst can't see through mapInPandas): phash_pairs uses
    # only modality == "image", and the fixture-encode contract maps
    # doc_id % 3 == 0 → image deterministically (multimodal.py
    # real_assets_from_documents), so filtering the INPUT is
    # equivalent and cuts the encode to 1/3 of the corpus. Likewise
    # the twins branch needs only every-24th asset (all images, since
    # 3 | 24): filtering docs there cuts its re-encode from a full
    # second encode pass to 1/24.
    assets = mm.real_assets_from_documents(
        docs.filter(F.col("doc_id") % 3 == 0)
    )
    twins = mm.reencode_images(
        mm.real_assets_from_documents(
            docs.filter(F.col("doc_id") % 24 == 0)
        ),
        quality=95,
    )
    return mm.phash_pairs(assets.unionByName(twins), max_hamming=6)


def _replay_scratch(name: str, sf_dir: str) -> str:
    """Stable scratch dir per (streaming entry, sf, PROCESS): wiped and
    recreated on every call, so repeated bench/oracle invocations
    reuse ONE disk footprint instead of leaking a fixture copy +
    checkpoint per run (mkdtemp did exactly that). The PID in the key
    isolates concurrent processes (e.g. bench and check_oracle on the
    same sf) — without it they would rmtree each other's live streaming
    source/checkpoint mid-query (ADVICE r4). The returned DataFrame of
    a parquet-sink entry reads from this dir — callers collect before
    invoking the same entry again (the driver, bench and check_oracle
    all do)."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # prefer tmpfs for the replay scratch (r7, VERDICT #4): the
    # checkpoint's offset/commit/state files are many tiny writes per
    # micro-batch, and /tmp is disk-backed here — /dev/shm removes
    # that I/O from the fixed replay floor (measured ~0.3-0.5 s per
    # entry; the toy scratch is a few MB, far under any shm limit)
    shm = "/dev/shm"
    tmp = (
        shm
        if os.path.isdir(shm) and os.access(shm, os.W_OK)
        else tempfile.gettempdir()
    )
    # sweep siblings left by DEAD processes: the per-PID key prevents
    # live runs from deleting each other's streaming source mid-query,
    # but without this sweep every finished process would leak its
    # fixture+checkpoint footprint (the leak the stable key fixed).
    # Both roots are swept so pre-r7 /tmp leftovers don't linger after
    # the scratch moved to tmpfs.
    for stale in (
        p
        for root in {tmp, tempfile.gettempdir()}
        for p in glob.glob(os.path.join(root, f"ceres_replay_{name}_{key}_*"))
    ):
        try:
            pid = int(stale.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if the owner is gone
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — leave it
    base = os.path.join(tmp, f"ceres_replay_{name}_{key}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    return base


def _replay_stateful(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    entry_name: str,
    feed: DataFrame,
    schema: str,
    op,
    n_batches: int = 4,
    t_col: str = "ts",
) -> DataFrame:
    """Shared scaffold for the stateful replay twins (EWMA / Holt /
    seasonal HW / CUSUM / KMV all differ ONLY in their feed,
    stream schema, and stateful operator): write ``feed`` as
    ``n_batches`` time-ordered arrival files, run ``op(stream)``
    through a checkpointed availableNow memory-sink query scoped to
    the replay shuffle config, and return the materialized table
    (callers project/filter their own output columns). One copy of
    the harness wiring — queryName hashing, checkpoint, trigger —
    instead of one per entry."""
    base = _replay_scratch(name, sf_dir)
    src, ck = f"{base}/src", f"{base}/ck"
    _write_arrival_files_ranged(feed, t_col, src, n_batches)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = op(stream)
    with _replay_shuffle(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(f"rp{name}_{abs(hash(base)) % 10**9}")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, entry_name)
    return spark.table(q.name)


def _arrow_collect(df: DataFrame, src: str):
    """Collect an arrival feed driver-side as one Arrow table (feeds
    are toy-scale by the replay contract). ``DataFrame.toArrow`` is
    public since Spark 4.0 (SPARK-47365; tests/test_arrow_seam.py pins
    it): timestamps stay tz-aware microseconds and float lists stay
    float32, so the file source's explicit read schema sees exactly
    the types a Spark parquet write would have produced. An empty
    feed raises :class:`_BadArrivalSplit` — every arrival batch needs
    at least one row."""
    tbl = df.toArrow()
    if tbl.num_rows == 0:
        raise _BadArrivalSplit(f"empty arrival feed ({src})")
    return tbl


def _write_arrival_arrow(tbl, part, src: str, n: int) -> None:
    """Write an Arrow table as ``n`` single-file parquet arrival
    batches selected by the numpy int vector ``part`` (values 0..n-1,
    not a table column), mtimes pinned to distinct synthetic epochs —
    the file streaming source triggers by modification time and two
    fast appends can share a tick, which would scramble arrival
    order. Any write failure raises."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    for i in range(n):
        sub = tbl.filter(pa.array(part == i))
        if sub.num_rows == 0:
            # a real exception, not assert: under python -O an
            # assert vanishes and an empty arrival file would
            # silently change the micro-batch count (ADVICE r7)
            raise _BadArrivalSplit(f"empty arrival batch {i} ({src})")
        dst = os.path.join(src, f"arrival-{i:02d}.parquet")
        pq.write_table(sub, dst)
        os.utime(dst, (1000 + i, 1000 + i))


def _write_arrival_files(
    df: DataFrame, src: str, n: int, part_col: str = "_part"
) -> None:
    """Write ``df`` as ``n`` single-file parquet batches in arrival
    order (``part_col`` values 0..n-1, dropped before write).

    This is FIXTURE PREP, not an operator: the frame is collected once
    as Arrow (see :func:`_arrow_collect`) and the n files are written
    driver-side with pyarrow — zero Spark jobs. n files == n
    micro-batches."""
    tbl = _arrow_collect(df, src)
    part = tbl.column(part_col).to_numpy(zero_copy_only=False)
    _write_arrival_arrow(tbl.drop([part_col]), part, src, n)


def _write_arrival_files_ranged(
    df: DataFrame, t_col: str, src: str, n: int, drop: tuple[str, ...] = ()
) -> None:
    """Arrival write with a contiguous time-range split computed
    driver-side from the one Arrow collect the fixture write already
    pays: ``part = (n * (t - lo)) div span``, so arrival is strictly
    time-ordered and watermarks never drop replayed data. ``drop``
    columns (e.g. a helper epoch column) are removed before write,
    AFTER the split is computed from them."""
    import numpy as np

    tbl = _arrow_collect(df, src)
    t = tbl.column(t_col).to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = int(t.min()), int(t.max())
    part = (n * (t - lo)) // (hi - lo + 1)
    _write_arrival_arrow(tbl.drop(list(drop)), part, src, n)


def _write_arrival_files_half(df: DataFrame, id_col: str, src: str) -> None:
    """Arrival write for the two-batch id-ordered replays
    (corpus/simhash/ann ingest): batch 1 = rows with
    ``id > max(id) // 2``, computed from the Arrow collect the write
    already pays."""
    import numpy as np

    tbl = _arrow_collect(df, src)
    ids = tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    part = (ids > int(ids.max()) // 2).astype(np.int64)
    _write_arrival_arrow(tbl, part, src, 2)


def _write_arrival_files_backfill(ev: DataFrame, src: str) -> None:
    """Arrival write for stream_backfill_rollup: a deterministic LATE
    set (rows in the first 6 h with ``event_id % 3 == 0``) is batch 3;
    the on-time rest is split into batches 0-2 by contiguous ``x``
    range (the :func:`_write_arrival_files_ranged` rule). The cut is
    300-aligned, so no window straddles the late/on-time boundary by
    ts alone — mixing happens per ROW, giving merged windows.
    ``event_id`` is dropped before write."""
    import numpy as np

    tbl = _arrow_collect(ev, src)
    x = tbl.column("x").to_numpy(zero_copy_only=False).astype(np.int64)
    eid = tbl.column("event_id").to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    x0 = int(x.min())
    cut = x0 - x0 % 300 + 6 * 3600
    late = (x < cut) & (eid % 3 == 0)
    if late.all():
        raise _BadArrivalSplit(f"no on-time arrivals ({src})")
    lo = int(x[~late].min())
    span = int(x[~late].max()) - lo + 1
    part = np.where(late, 3, (3 * (x - lo)) // span)
    _write_arrival_arrow(tbl.drop(["event_id"]), part, src, 4)


class _BadArrivalSplit(RuntimeError):
    """An arrival feed or one of its batches came out empty — the
    replay would run with the wrong micro-batch count. Always raised
    (never assert) so ``python -O`` cannot strip the invariant."""


def _await_replay(q, name: str) -> None:
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"{name} replay timed out")


#: The replay state store: RocksDB with changelog checkpointing, which
#: replaces the per-batch full-snapshot upload with a delta WAL. r8
#: measured it fastest of the three providers on the replay family
#: (docs/TIMINGS.md: HDFS 47.1 s, RocksDB 44.0 s, RocksDB+changelog
#: 41.8 s, results bit-equal). At production state sizes the gap
#: widens further (the HDFS provider keeps the whole store on-heap;
#: RocksDB spills).
_REPLAY_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
}


class _replay_shuffle:
    """Scope a streaming replay to 4 shuffle partitions and the
    RocksDB changelog state store. Stateful operators disable AQE, so
    every micro-batch pays a fixed task per shuffle partition per
    stateful stage — at 32 partitions × 4 batches that overhead
    dwarfed the toy data (measured 20 s on the stream-stream join;
    ~4 s at 8; another ~0.6 s off at 4). 4 is still multi-partition,
    so the oracles keep re-proving partitioning independence. Both
    the partition count and the provider are burned into the
    checkpoint at first start; the scratch dir is wiped per call, so
    scoping the confs around start() is safe.

    ``no_data_batch=False`` drops the NO-DATA micro-batch availableNow
    appends after the last data batch to advance the watermark. For
    update-mode aggregates (emission happens in the data batch that
    changed the group) and watermarked INNER joins (emission happens
    when the match arrives; the watermark only EVICTS state) that
    batch provably emits zero rows while paying a full plan/offset/
    state-commit cycle per state partition. Callers whose OUTPUT
    depends on watermark closure (append-mode sessions) keep it."""

    def __init__(self, spark: SparkSession, no_data_batch: bool = True):
        self.spark = spark
        self.confs = {
            "spark.sql.shuffle.partitions": "4",
            **_REPLAY_STATE_STORE,
        }
        if not no_data_batch:
            self.confs[
                "spark.sql.streaming.noDataMicroBatches.enabled"
            ] = "false"

    def __enter__(self):
        conf = self.spark.conf
        # rocksdb.* keys are provider confs without registered SQLConf
        # defaults — get(key) raises on them, get(key, None) does not
        self.saved = {k: conf.get(k, None) for k in self.confs}
        for k, v in self.confs.items():
            conf.set(k, v)

    def __exit__(self, *exc):
        conf = self.spark.conf
        for k, v in self.saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def _q_stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED streaming entry (VERDICT r3 #4): the events
    fixture is split into 4 parquet files and fed through a REAL
    Structured Streaming query (file source, maxFilesPerTrigger=1 →
    4 micro-batches) running streaming/ingest.windowed_rollup_stream
    (watermarked tumbling-window aggregate). foreachBatch appends each
    update-mode emission stamped with its batch id; the returned frame
    keeps the LAST update per (metric, window) — which, with unlimited
    lateness, equals the batch aggregate, so the whole streaming path
    is oracle-checkable against plain SQL over events. batch==stream
    bit-equality is additionally pytest-pinned (tests/test_streaming).
    """
    import ceres_spark.streaming.ingest as sing

    base = _replay_scratch("rollup", sf_dir)
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    ev_raw = tbl.load(spark, "events", sf_dir)
    # second-truncated real timestamp (both engines floor sub-seconds;
    # truncation never crosses a 300s window boundary)
    ev = ev_raw.select(
        F.col("event_type").alias("metric"),
        F.timestamp_seconds(
            tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
        ).alias("ts"),
        "value",
        (F.col("event_id") % 4).alias("_part"),
    )
    _write_arrival_files(ev, src, 4)
    stream = (
        spark.readStream.schema("metric string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = sing.windowed_rollup_stream(stream, 300, lateness="3650 days")

    def _sink(bdf: DataFrame, bid: int) -> None:
        bdf.withColumn("_bid", F.lit(int(bid))).write.mode("append").parquet(
            out
        )

    # update-mode aggregate: every emission happens in the data batch
    # that changed the group — the trailing no-data batch is a no-op
    with _replay_shuffle(spark, no_data_batch=False):
        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, "stream_windowed_rollup")
    from pyspark.sql.window import Window

    res = spark.read.parquet(out)
    w = Window.partitionBy("metric", "ts").orderBy(F.desc("_bid"))
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("metric", "ts", "n_points", "sum_value")
    )


def _q_stream_backfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BACKFILL PATH END-TO-END (VERDICT r9 #7 — the one §2.1
    semantics branch that had no dedicated registry entry): ceres
    accepts unlimited lateness; the Spark dashboard rollup bounds
    state with a watermark and drops late rows, so the documented
    story is storage-never-drops + a batch backfill job that repairs
    the dashboard. This entry proves the WHOLE loop through real
    streaming execution:

    - a deterministic LATE set (first-6h events with event_id%3==0)
      arrives in the FINAL batch, after three ts-ordered on-time
      batches, so at its arrival the watermark (max on-time ts − 1 h,
      ~30 days ahead) has long passed — every late row is dropped by
      the dashboard aggregation but none by the storage leg;
    - TWO streaming queries replay the same 4 arrival files:
      windowed_rollup_stream (300 s windows, 1 h lateness, update
      mode, last-update-per-window) and stream_append_log (the
      batch-stamped fact store);
    - retention.backfill_rollup_windows recomputes exactly the
      windows batch-3 arrivals touched from the store and folds them
      into the dashboard table.

    Output per (metric, window): the CONVERGED n_points/sum_value
    (must equal the all-batch aggregate — the ceres guarantee), the
    patched flag (window contained late rows), and the dashboard's
    PRE-backfill stream_n/stream_sum (NULL where the window was
    purely late rows and never emitted) — so the oracle hash-checks
    the watermark's drop set, the repair's scope, AND the
    convergence in one entry."""
    import ceres_spark.streaming.ingest as sing

    base = _replay_scratch("backfill", sf_dir)
    src, store, ck1, ck2 = (
        f"{base}/src", f"{base}/store", f"{base}/ck1", f"{base}/ck2",
    )
    out = f"{base}/out"
    ev_raw = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
    ev = ev_raw.select(
        F.col("event_type").alias("metric"),
        F.timestamp_seconds(sec).alias("ts"),
        "value",
        sec.alias("x"),
        "event_id",
    )
    _write_arrival_files_backfill(ev, src)
    schema = "metric string, ts timestamp, value double, x long"
    # both legs emit only in data batches (update-mode aggregate /
    # stateless foreachBatch) — the trailing no-data batch is a no-op
    with _replay_shuffle(spark, no_data_batch=False):
        # leg 1: the watermarked dashboard (drops the late batch)
        agg1 = sing.windowed_rollup_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("metric", "ts", "value"),
            300,
            lateness="1 hour",
        )

        def _sink(bdf: DataFrame, bid: int) -> None:
            bdf.withColumn("_bid", F.lit(int(bid))).write.mode(
                "append"
            ).parquet(out)

        q1 = (
            agg1.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ck1)
            .trigger(availableNow=True)
            .start()
        )
        # leg 2: the unlimited-lateness store (drops nothing).
        # Started CONCURRENTLY with leg 1 (VERDICT r10 #6): the two
        # queries are independent (separate checkpoints, sinks, and
        # state — the store leg is stateless foreachBatch) and both
        # replay the same static 4-file arrival set, so overlapping
        # them costs nothing in proof — each still executes all 4
        # micro-batches through its own checkpoint — and cuts the
        # entry's wall ~30% (sequential 4.7 s → 3.3-3.8 s at sf0.1,
        # TIMINGS §r11 A/B; the alternative of batch-writing the
        # store was REJECTED: stream_append_log's only registry
        # lineage is this leg).
        q2 = sing.stream_append_log(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("metric", "ts", "x", "value"),
            store,
            checkpoint=ck2,
        )
        _await_replay(q1, "stream_backfill_rollup[dashboard]")
        _await_replay(q2, "stream_backfill_rollup[store]")
    from pyspark.sql.window import Window

    wl = Window.partitionBy("metric", "ts").orderBy(F.desc("_bid"))
    dashboard = (
        spark.read.parquet(out)
        .withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") == 1)
        .select("metric", "ts", "n_points", "sum_value")
    )
    converged = ret.backfill_rollup_windows(
        spark.read.parquet(store), dashboard, 300, since_batch=3
    )
    pre = dashboard.select(
        "metric", "ts",
        # double, not bigint: a nullable int column turns float in
        # the driver's pandas hasher — match types on both sides
        F.col("n_points").cast("double").alias("stream_n"),
        F.col("sum_value").alias("stream_sum"),
    )
    return converged.join(pre, ["metric", "ts"], "left").select(
        "metric", "ts", "n_points", "sum_value", "patched",
        "stream_n", "stream_sum",
    )


def _q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED session windows: events split into 4
    ts-quartile files (arrival strictly time-ordered, so the
    watermark never drops data) and fed through
    streaming/ingest.session_stream in APPEND mode — only sessions
    the final watermark has CLOSED are emitted, which is exactly what
    the oracle's gaps-and-islands SQL reproduces with the
    ``last_event + gap <= max_ts - lateness`` filter. The externally
    checked semantics here are the watermark/append contract itself,
    not just the aggregate."""
    import ceres_spark.streaming.ingest as sing

    base = _replay_scratch("sessions", sf_dir)
    src, ck = f"{base}/src", f"{base}/ck"
    ev_raw = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
    ev = ev_raw.select(
        "user_id",
        F.timestamp_seconds(sec).alias("ts"),
        "value",
        sec.alias("_t"),
    )
    _write_arrival_files_ranged(ev, "_t", src, 4, drop=("_t",))
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = sing.session_stream(
        stream, gap="30 minutes", lateness="1 minute"
    )
    with _replay_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(f"ssn_{abs(hash(base)) % 10**9}")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, "stream_sessions")
    return spark.table(q.name).select(
        "user_id", "session_start", "n_events", "sum_value"
    )


def _q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED stream-stream join (the attribution shape:
    each purchase paired with the same user's clicks in the trailing
    hour): two streams over the same ts-quartile-ordered files, both
    watermarked, joined with the time-range conjunct that lets
    Structured Streaming bound its join state. Inner-join emission is
    watermark-independent (the watermark only EVICTS state), and
    time-ordered arrival means no candidate is evicted early — so the
    materialized result equals the plain batch interval join the
    oracle runs."""
    import ceres_spark.streaming.ingest as sing

    base = _replay_scratch("ijoin", sf_dir)
    src, ck = f"{base}/src", f"{base}/ck"
    ev_raw = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev_raw.schema["ts"].dataType)
    # only the two joined event types flow into the replay — the
    # other 60% of the stream would be filtered inside the query
    # anyway, and at sf0.1 streaming them through the join state
    # machinery tripled the entry's wall time
    ev = ev_raw.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "user_id",
        F.timestamp_seconds(sec).alias("ts"),
        "value",
        "event_type",
        sec.alias("_t"),
    )
    _write_arrival_files_ranged(ev, "_t", src, 4, drop=("_t",))

    def read(kind: str) -> DataFrame:
        return (
            spark.readStream.schema(
                "user_id long, ts timestamp, value double, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == kind)
        )

    joined = sing.stream_stream_join(
        read("purchase"), read("click"), within="1 hour",
        lateness="1 minute",
    )
    # inner join: rows emit when the match ARRIVES; the watermark only
    # evicts state — the trailing no-data batch is a no-op
    with _replay_shuffle(spark, no_data_batch=False):
        q = (
            joined.writeStream.format("memory")
            .queryName(f"sij_{abs(hash(base)) % 10**9}")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, "stream_interval_join")
    return spark.table(q.name).select(
        "user_id",
        F.unix_timestamp("l_ts").alias("buy_ts"),
        F.unix_timestamp("r_ts").alias("click_ts"),
        F.col("l_value").alias("buy_value"),
        F.col("r_value").alias("click_value"),
    )


def _q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff for dataset versioning: release A (doc_id % 11
    != 0, with doc_id % 7 == 0 texts 'edited') vs release B (the
    fixture) — added/removed/changed/unchanged by content hash, one
    co-located full outer join."""
    docs = tbl.load(spark, "documents", sf_dir)
    a = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return corp.dataset_diff(a, docs)


def _q_length_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative length filter: exact discrete [p5, p95]
    token-length cutoffs (percentile_disc — observed values, engine-
    portable), broadcast bounds, scan-speed verdict."""
    return corp.length_percentile_gate(
        tbl.load(spark, "documents", sf_dir)
    )


def _q_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED streaming corpus front-door (VERDICT r3
    #4): documents split into two arrival batches BY doc_id (file
    mtimes forced monotone so the file source triggers them in order),
    run through streaming/corpus_ingest.corpus_ingest_stream — the
    quality gate + applyInPandasWithState simhash band store — into a
    parquet sink; the sink-side collapse (materialize_ingest_batch)
    is the returned frame. Because arrival order == doc_id order,
    ``dup_of`` equals "smallest doc within hamming ≤ 3 among the
    quality-kept set", which plain SQL over documents expresses — so
    the driver externally checks a query whose execution REALLY went
    through the streaming state store."""
    import ceres_spark.streaming.corpus_ingest as sci

    base = _replay_scratch("cingest", sf_dir)
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    _write_arrival_files_half(docs, "doc_id", src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bands = sci.corpus_ingest_stream(stream, max_hamming=3)
    with _replay_shuffle(spark):
        q = (
            bands.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, "stream_corpus_ingest")
    res = sci.materialize_ingest_batch(spark.read.parquet(out))
    # NULL dup_of → -1 sentinel: a nullable BIGINT column decays to
    # float64 through the driver's pandas bridge (dtype mismatch)
    return res.withColumn("dup_of", F.coalesce("dup_of", F.lit(-1)))


def _q_stream_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED streaming near-dup service (the
    Manku-Jain-Sarma simhash dedup shape, streaming/neardup.py):
    documents arrive as two doc_id-ordered batches; each batch is
    fingerprinted, exploded into the 4 lossless pigeonhole bit-bands,
    and verified against the band stores accumulated in the
    applyInPandasWithState state store across micro-batches. The
    sink-side collapse (combine_band_verdicts) yields per-doc
    ``dup_of`` = smallest earlier doc within hamming ≤ 3 — which,
    because arrival order == doc_id order, plain SQL over documents
    reproduces from the same md5-lower64 fingerprints. Externally
    verifies the cross-batch band-store state machine itself, not a
    batch twin."""
    import ceres_spark.streaming.neardup as snd

    base = _replay_scratch("simdedup", sf_dir)
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    _write_arrival_files_half(docs, "doc_id", src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bands = snd.simhash_dedup_stream(stream, max_hamming=3)
    with _replay_shuffle(spark):
        q = (
            bands.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        _await_replay(q, "stream_simhash_dedup")
    res = snd.combine_band_verdicts(spark.read.parquet(out))
    # NULL dup_of → -1 sentinel (nullable BIGINT decays to float64
    # through the driver's pandas bridge)
    return res.withColumn("dup_of", F.coalesce("dup_of", F.lit(-1)))


def _q_compact_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defrag (op #22) externally checked: the points table is written
    DELIBERATELY fragmented (64 tiny files), compacted in place by
    operators/retention.compact_files (the slice-merge defrag plugin's
    Spark shape — rewrite at healthy file sizes), and read back; the
    returned per-metric aggregate must equal the same aggregate over
    the untouched source, i.e. compaction is RESULT-INVARIANT. The
    physical half (file count actually drops to target_partitions) is
    pinned in pytest (test_maintenance.test_compact_files)."""
    base = _replay_scratch("compactinv", sf_dir)
    pts_dir = f"{base}/pts"
    pts = tbl.points(spark, sf_dir).filter(F.col("value").isNotNull())
    pts.repartition(64).write.mode("overwrite").parquet(pts_dir)
    ret.compact_files(spark, pts_dir, target_partitions=4)
    out = spark.read.parquet(pts_dir)
    return out.groupBy("metric").agg(
        F.count("*").alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        agg.agg_expr("sum").alias("sum_value"),
    )


def _q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED streaming KMV distinct-user sketch
    (streaming/stateful.kmv_stream): events replay as 4 time-ordered
    arrival batches; the ≤64-hash sketch + row counter live in the
    state store as ARRAY-valued state and each micro-batch emits the
    running (rows_seen, n_tracked, est_distinct). The entry keeps
    each group's LAST emission (max rows_seen), which must hash-match
    the BATCH KMV oracle exactly — set-union-then-truncate is
    commutative, so the final sketch is independent of batching, and
    that mergeability claim is precisely what this external check
    proves through the state store."""
    import ceres_spark.streaming.stateful as st

    ev = tbl.load(spark, "events", sf_dir)
    sec = tbl.epoch_seconds(ev.schema["ts"].dataType)
    feed = ev.filter(F.col("user_id").isNotNull()).select(
        "event_type", "user_id", sec.alias("ts")
    )
    t = _replay_stateful(
        spark, sf_dir, "kmv", "stream_kmv", feed,
        "event_type string, user_id long, ts long",
        lambda s: st.kmv_stream(s, k=64),
    )
    # last emission per group == the full-data sketch; rows_seen is
    # strictly increasing per group so max-row_number picks exactly
    # one row (the sink table is groups×batches ≈ tens of rows)
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("rows_seen"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "rows_seen", "n_tracked", "est_distinct")
    )


def _q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED streaming ANN index maintenance
    (streaming/ann_ingest.py — the last streaming op without external
    lineage, VERDICT r5 #4): embeddings arrive as two vec_id-ordered
    batches, are coarse-assigned against FROZEN centroids by the
    production ``assign_stream`` pandas-UDF GEMM, and land through the
    production ``index_sink`` into the ``partitionBy(_list)`` layout.
    The returned (vec_id, list_id) table is read back FROM that
    partitioned sink, so the external check covers the whole ingest
    path: stream → stateless assignment → partitioned index.

    SQL-expressibility comes from the integer-lattice trick that
    upgraded nation_pagerank in r5: vectors are quantized to
    ``floor(x·1000)`` BIGINT lattices (one IEEE multiply + exact
    floor — portable), and the frozen centroids are the lattice
    vectors of the 8 smallest vec_ids (an index artifact; the
    8-row collect is the bounded-sample contract train_centroids
    already documents). All squared-L2 magnitudes stay ≤ 64·10⁶ —
    integer-exact in float64 — so the GEMM's argmin (first-min
    tie-break) must equal the oracle's (d2, cid)-ordered pick
    bit-for-bit."""
    import ceres_spark.streaming.ann_ingest as sai

    base = _replay_scratch("annidx", sf_dir)
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    emb = tbl.load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)),
        ).alias("qvec"),
    )
    # frozen coarse quantizer: 8 rows, bounded collect (index artifact)
    cent_rows = quant.orderBy("vec_id").limit(8).collect()
    centroids = [[int(v) for v in r["qvec"]] for r in cent_rows]
    _write_arrival_files_half(quant, "vec_id", src)
    stream = (
        spark.readStream.schema("vec_id long, qvec array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    assigned = sai.assign_stream(
        stream, centroids, id_col="vec_id", vec_col="qvec"
    )
    with _replay_shuffle(spark):
        q = sai.index_sink(assigned, out, ck)
        _await_replay(q, "stream_ann_ingest")
    idx = spark.read.parquet(out)
    return idx.select(
        "vec_id", F.col("_list").cast("int").alias("list_id")
    )


def _q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLAY-MATERIALIZED online CUSUM (streaming/stateful.py —
    Page's sequential test, O(1) state per metric): the LWW-deduped
    points replay as 4 time-ordered arrival batches through
    applyInPandasWithState; S⁺/S⁻ survive across micro-batches in the
    state store, alarms reset the tripped side. The oracle replays
    the SAME recursion as a DuckDB recursive CTE stepping every
    metric in parallel — identical IEEE double ops in identical
    order, so the whole alarm trace is hash-checked bit-for-bit
    through real streaming execution (previously pytest-only).

    The monitored series is the 30-minute decimal-avg rollup, NOT
    raw points: sequential-recursion oracles cost one CTE iteration
    per step, so the step count must be bounded by the TIME RANGE
    (≤1440 buckets/metric over the 30-day fixture at any SF), never
    by data volume — the same dial a production CUSUM monitor uses
    (alert on the 1-/30-min aggregate, not per-event)."""
    import ceres_spark.streaming.stateful as st

    deduped = cp.lww_dedup(
        tbl.points(spark, sf_dir).filter(F.col("value").isNotNull())
    )
    pts = deduped.groupBy(
        "metric",
        (F.col("ts") - F.col("ts") % 1800).cast("long").alias("ts"),
    ).agg(agg.agg_expr("average").alias("value"))
    return _replay_stateful(
        spark, sf_dir, "cusum", "stream_cusum", pts,
        "metric string, ts long, value double",
        lambda s: st.cusum_stream(s, mu0=10.0, slack=0.5, h=25.0),
    ).select(
        "metric", "ts", "value", "s_hi", "s_lo", "alarm"
    )


def _q_n_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite nPercentile(seriesList, 90): per-series 90th
    percentile via graphite-web's non-interpolated rank rule
    (functions.py _getPercentile) — exact integer rank selection,
    oracle-portable with no float percentile definitions."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.n_percentile(deduped, n=90)


def _q_percentile_of_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite percentileOfSeries(seriesList, 75): cross-series
    combine — at each timestamp the 75th percentile across metrics
    (same rank rule as nPercentile, per ts bucket)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.percentile_of_series(deduped, n=75)


def _q_sort_by_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite sortByMaxima + sortByMinima in one pass: per-series
    max/min with both rank orderings (ties by metric — total order,
    oracle-stable)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.sort_by_extrema(deduped)


def _q_summarize_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite summarize(series, '1hour', 'sum', alignToFrom=True):
    user-facing re-bucketing anchored at each series' own first
    timestamp instead of the epoch grid — the alignment mode plain
    rollup cannot express."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.summarize(deduped, 3600, "sum", align_to_from=True)


def _q_consolidate_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite consolidateBy(series, 'average') under
    maxDataPoints=40 (r8 — completes the read-API story): the render
    layer derives valuesPerPoint = ceil(dense_slots / 40) PER SERIES
    from the data, anchors buckets at each series' own first
    timestamp, and consolidates with the user-chosen method; the
    computed step rides along as c_step so the derived dial itself is
    hash-checked."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.consolidate_by(deduped, max_points=40, method="average")


def _q_counter_wrap_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite nonNegativeDerivative(series, maxValue) + perSecond
    (r8 function-layer widening): counter-wrap RECOVERY — a negative
    delta whose new value fits the counter bound reconstructs the
    true increment maxValue − prev + value + 1 instead of the NULL
    per_second emits; the bound here (100) sits INSIDE the fixture's
    0–490 value range so all THREE branches — plain delta, wrap
    recovery, and unexplainable-reset NULL — land in the external
    hash check."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.counter_wrap_rate(deduped, max_value=100.0)


def _q_time_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite timeStack(series, '1day', 0, 3) (r8): three
    period-over-period replicas per series from ONE scan (explode
    over a literal shift array — not 3 unioned scans), copy k
    relabeled k·86400 s forward with the copy index carried."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.time_stack(deduped, period=86400, copies=3)


def _q_changed_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite changed() + delay(3) + isNonNull() in one window
    projection (r8): NULL-safe change flag (None→value transitions
    count, exactly graphite), a 3-step delayed copy, and the 0/1
    presence indicator — one per-metric sort serves all three."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.changed_points(deduped, delay_steps=3)


def _q_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite weightedAverage(avgList, weightList) (r8): the
    LWW-deduped slot value weighted by the RAW arrival count per
    slot — Σ(aᵢwᵢ)/Σwᵢ per ts across series, decimal-exact products,
    NOT reducible to a plain mean because dedup collapses each slot
    to its last write while the weight counts every arrival."""
    raw = tbl.points(spark, sf_dir)
    deduped = cp.compact(raw, 60)
    return ser.weighted_average(raw, deduped)


def _q_hitcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite hitcount(series, '1hour'): Σ value·step per hour
    bucket — rate back to absolute hits; DECIMAL accumulation."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.hitcount(deduped, interval=3600, step=60)


def _q_integral_by_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite integralByInterval(series, '1hour'): running integral
    resetting each hour — the reset is a window PARTITION key, not
    per-row state."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.integral_by_interval(deduped, interval=3600)


def _q_remove_above_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite removeAbovePercentile(series, 90): slots beyond each
    series' own rank-rule 90th percentile become NULL (series stays
    time-aligned — a projection, not a filter)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.remove_percentile(deduped, n=90, above=True)


def _q_most_deviant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite mostDeviant(series, 3): top-3 series by population
    stddev — DECIMAL Σx/Σx², double variance clamped at 0, one sqrt;
    (deviation DESC, metric) total order."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.most_deviant(deduped, k=3)


def _q_average_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite averageAbove(series, 49.5): full point set of the
    series whose DECIMAL-exact average clears the gate (the
    averageBelow / currentAbove / maximumBelow family is this plan
    with a different aggregate)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.average_above(deduped, threshold=49.5).select(
        "metric", "ts", "value"
    )


def _q_filter_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite filterSeries + the named selection gates
    currentAbove/Below, maximumAbove/Below, minimumAbove/Below and
    the highestCurrent/lowestCurrent orderings (late r8): one
    series-cardinality aggregate emits the exact stat panel, six 0/1
    gates and both rank columns. Gates (40 / 360 / 0.02) sit inside
    the fixture's stat ranges so every gate has BOTH arms populated
    at sf0.01 (current splits 3/2, max 2/3, min 2/2 with one
    boundary-equality row) — a wrong comparison direction or a wrong
    current (e.g. max-by-arrival instead of max-by-ts)
    hash-mismatches. Strictness follows graphite-web (ADVICE r8+r9):
    current gates inclusive (>=/<=), Above gates strict (>), Below
    gates inclusive (<=) — the boundary-equality row on the max gate
    lands in maximum_below but not maximum_above."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.filter_series(
        deduped, current_gate=40.0, max_gate=360.0, min_gate=0.02
    )


def _q_series_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite diffSeries(click, *rest) + stddevSeries +
    multiplySeries(click, view) per slot (late r8): the cross-series
    combinators series_arithmetic (sumSeries + pairwise diff) and
    series_transform (count/range/avg) left out. The variadic
    diffSeries is ONE signed decimal sum (±v by metric — no decimal
    rescaling multiply); stddev mirrors most_deviant's double recipe
    per slot; multiply is a single IEEE op gated NULL when either
    named series misses the slot."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.series_combinators(deduped, anchor="click", other="view")


def _q_point_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite minMax + removeAboveValue(400) + removeBelowValue(1)
    + scaleToSeconds(90) + timeSlice (late r8): the per-point
    gate/rescale family in one window+projection pass. The
    scaleToSeconds factor 90/60 = 1.5 is binary-exact; minMax is two
    IEEE subtracts and one divide in the same order on both engines;
    the slice window [2024-01-10, 2024-01-17] (CLOSED on both ends —
    both engines keep ts <= 1705449600, so a point landing exactly on
    2024-01-17T00:00Z survives; ADVICE r8 doc fix) sits strictly
    inside the fixture's time range so both arms land in the hash
    check."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.point_gates(deduped)


def _q_moving_window_functions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """graphite offsetToZero + movingMin/movingMax/movingSum(5): four
    trailing/unbounded frames off ONE per-metric window sort — no
    join-back for the series floor."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.moving_window_functions(deduped, points=5)


def _q_value_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite absolute/invert/squareRoot/pow/limit in ONE codegen
    projection — every column one correctly-rounded IEEE op, so the
    whole family hash-checks bit-for-bit."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return ser.value_transforms(deduped, clamp_lo=10.0, clamp_hi=90.0)


def _render_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The render entries' store: compacted minute buckets with the
    dotted ``prod.events.<type>`` namespace (the fixture's metric
    names are flat; graphite targets address node paths)."""
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    return deduped.select(
        F.concat(F.lit("prod.events."), F.col("metric")).alias("metric"),
        "ts",
        "value",
    )


def _q_render_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 render-target FRONT DOOR end-to-end (VERDICT r11
    missing #1): parse the nested graphite target string
    ``alias(sumSeries(scale(prod.events.{click,view},2)),…)`` →
    compose glob-brace fetch + per-point scale (graphite %g name
    rewrite) + decimal-exact sumSeries + alias into ONE DataFrame
    plan (plans/target.py grammar, plans/render.py composer). The
    whole tree is declarative, so Catalyst pushes the brace-expanded
    metric rlike and prunes columns across every function boundary —
    the scan reads exactly (metric, ts, value) under a pushed
    predicate."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        'alias(sumSeries(scale(prod.events.{click,view},2)),'
        '"weighted_engagement")',
        series=_render_points(spark, sf_dir),
    )


def _q_render_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render front door, panel-ordering shape: ``limit(sortByMaxima(
    summarize(prod.events.*,"1h","max")),3)`` — glob fetch →
    re-bucket (hourly max, graphite name rewrite with quoted args) →
    sortByMaxima's guarded series-cardinality rank → limit's
    broadcast semi-join. Exercises the order-frame contract between
    sort functions and limit(), quoted string args, and the
    MAX_RANKED_SERIES loud-guard path in a composed plan."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        'limit(sortByMaxima(summarize(prod.events.*,"1h","max")),3)',
        series=_render_points(spark, sf_dir),
    )


def _q_render_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render front door, windowed + name-recovery shape:
    ``aliasByNode(movingAverage(prod.events.*,5),2)`` — glob fetch →
    trailing 5-point decimal moving average (series_functions, one
    per-metric window pass) with the graphite name rewrite →
    aliasByNode's first-path regex extraction pulling the original
    path back OUT of the rewritten ``movingAverage(…,5)`` wrapper and
    selecting node 2. Pins the adapter naming contract end-to-end:
    rewrite → extract → node select must compose losslessly."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        "aliasByNode(movingAverage(prod.events.*,5),2)",
        series=_render_points(spark, sf_dir),
    )


def _q_render_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render front door, wave-8 composition glue end-to-end:
    ``aggregate(group(grep(...,"click"),grep(...,"view")),"sum")`` —
    two unanchored-regex name selections (graphite grep = re.search ≡
    an rlike filter directly over the scan; regexes don't push INTO
    parquet — IsNotNull does), union'd by group (each series keeping
    its name), reduced by the aggregate() umbrella's sum arm (the
    decimal-exact sumSeries combinator). The output series name is
    the delegated combinator's canonical expression — the naming
    contract the adapter docs promise. Plan shape (read from the
    executed plan, not assumed): Spark does NOT merge the two grep
    branches' scan subtrees — each is its own column-pruned scan +
    rlike + LWW compact, unioned BEFORE the single ts-grouped sum,
    so the union adds no exchange; a 100 TB caller wanting one
    physical scan writes the disjunctive grep("click|view") form
    (same result, one branch)."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        'aggregate(group(grep(prod.events.*,"click"),'
        'grep(prod.events.*,"view")),"sum")',
        series=_render_points(spark, sf_dir),
    )


def _q_render_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render front door, weightedAverage pairing shape:
    ``weightedAverage(prod.events.*,prod.events.*,2)`` pairs every
    series with its weight series on path node 2 (the event type —
    here the self-pairing degenerate, so the output is the
    Σv²/Σv slot profile, a real dashboard idiom for spotting
    heavy-hitter slots). Products ride the string-routed DECIMAL sum
    (order-independent), the final division is one IEEE op — the
    wave-8 adapter's determinism contract hash-checked through the
    front door."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        "weightedAverage(prod.events.*,prod.events.*,2)",
        series=_render_points(spark, sf_dir),
    )


def _q_render_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render front door, model-fit shape:
    ``linearRegression(prod.events.*)`` — series_linreg's exact-
    decimal closed form (constant-rebased DECIMAL(9,0) timestamps so
    t·t stays int64-backed, SURVEY §2.12) re-expanded to a fitted
    value per slot: ŷ(ts) = fit_end + (slope_per_hour/3600)·(ts −
    t_end). The oracle mirrors the IEEE expression tree step for
    step (divide-then-multiply-then-add), so the whole line
    hash-checks; the per-series params broadcast back onto the
    points (series-cardinality join side, the unbounded axis never
    re-shuffles)."""
    from ceres_spark.plans.render import render

    return render(
        spark,
        "linearRegression(prod.events.*)",
        series=_render_points(spark, sf_dir),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dense ceres fetch on sf0.001; driver checks rows>0."""
    return _q_fetch_dense(spark, "/root/testdata/sf0.001")


#: The driver-checked prefix: the first 50 ``queries()`` keys, in
#: order (see the queries() docstring). (a) entries changed in r13 →
#: (b) entries new in r13 → (c)/(d) the oldest-checked parked entries.
#: semdedup.py and streaming/stateful.py changed after r13, and the
#: baseline's r14 regen already accepted their new hashes, so the guard
#: no longer pins their entries: keep semantic_dedup,
#: semantic_dedup_docs and every stream_* entry here until the r14
#: correctness check has run.
_R13_PREFIX = [
    # (0) changed after r13: graph.py's two CC loops now run one Spark
    # action per round (convergence sums observed on the checkpoint);
    # labels oracle-proven identical at all three SFs
    "neardup_clusters",
    "neardup_clusters_star",
    # (a) changed in r13 — the optimization round's touched entries
    # (executed plans / in-task kernels changed; outputs oracle-proven
    # identical at both SFs locally, promoted so the driver re-hashes
    # them). All 13 streaming replays (driver-side arrival splits;
    # no-data micro-batch removed on rollup/interval-join/backfill):
    "stream_store_replay",
    "stream_windowed_rollup",
    "stream_backfill_rollup",
    "stream_sessions",
    "stream_interval_join",
    "stream_corpus_ingest",
    "stream_simhash_dedup",
    "stream_ann_ingest",
    "stream_cusum",
    "stream_ewma",
    "stream_holt_winters",
    "stream_hw_seasonal",
    "stream_kmv",
    # ...the pure-JVM literal local-relation conversions (plans
    # changed: Scan ExistingRDD -> inline literal):
    "expire_catalog",
    "rollup_catalog",
    "range_band_join",
    "salted_join",
    "remove_empty_series",
    "bpe_train",
    "bpe_segment",
    # ...and the codec-kernel entries (bit readers / Huffman LUT /
    # fused Rice + QM locals — outputs bit-identical, kernels new):
    "phash_neardup",
    "audio_neardup",
    "multimodal_decode",
    "multimodal_decode_arith",
    # (b) new in r13: none (optimization round)
    # (c) the five r7-stale leftovers (CORRECTNESS_r07 key order)
    "rank_window",
    "running_totals",
    "top_series",
    "moving_median",
    "winsorize",
    # (d) the r8-stale block oldest-first, CORRECTNESS_r08 key order
    # (the remaining 9 r8-stale rows — quantize_lww … length_-
    # percentile_gate — roll to r14; series_linreg and frequent_items,
    # checked in r13, made room for block (0))
    "multimodal_frames",
    "event_transitions_salted",
    "funnel_salted",
    "approx_distinct_portable",
    "consolidate_by",
    "counter_wrap_rate",
    "time_stack",
    "changed_points",
    "weighted_average",
    "series_combinators",
    "token_budget_fill",
    "vocab_drift",
    "corpus_card",
    "embedding_decontamination",
    "cusum_changepoints",
    "semantic_dedup_docs",
    "semantic_dedup",
    "fuzzy_pairs",
    "series_transform",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry. The driver's correctness gate checks only the
    FIRST 50 keys, so their order is the contract: ``_R13_PREFIX``
    lists them, and every other entry follows in ``base`` order.
    Entries changed since their last driver check, entries never
    checked, and entries whose latest driver row is red belong in
    the prefix; the remaining slots go to the oldest-checked parked
    entries (``tests/test_rotation_guard.py`` enforces this).
    After rotating the prefix, run
    ``python tools/prefix_state.py regen``.
    """
    base = {
        # entries NEW in r5 (prefix placement comes from _R13_PREFIX)
        "expire_catalog": _q_expire_catalog,
        "stream_simhash_dedup": _q_stream_simhash_dedup,
        "compact_invariance": _q_compact_invariance,
        "stream_cusum": _q_stream_cusum,
        "stream_holt_winters": _q_stream_holt_winters,
        "stream_ewma": _q_stream_ewma,
        "stream_hw_seasonal": _q_stream_hw_seasonal,
        "n_percentile": _q_n_percentile,
        "percentile_of_series": _q_percentile_of_series,
        "sort_by_extrema": _q_sort_by_extrema,
        "summarize_align": _q_summarize_align,
        "consolidate_by": _q_consolidate_by,
        "counter_wrap_rate": _q_counter_wrap_rate,
        "time_stack": _q_time_stack,
        "changed_points": _q_changed_points,
        "weighted_average": _q_weighted_average,
        "hitcount": _q_hitcount,
        "integral_by_interval": _q_integral_by_interval,
        "remove_above_percentile": _q_remove_above_percentile,
        "most_deviant": _q_most_deviant,
        "average_above": _q_average_above,
        "filter_series": _q_filter_series,
        "series_combinators": _q_series_combinators,
        "point_gates": _q_point_gates,
        # new in r9: third function-layer widening
        "derivative_integral": _q_derivative_integral,
        "null_gap_fill": _q_null_gap_fill,
        "name_functions": _q_name_functions,
        "divide_series": _q_divide_series,
        "series_orderings": _q_series_orderings,
        "interpolate_gaps": _q_interpolate_gaps,
        "remove_between_percentile": _q_remove_between_percentile,
        "scalar_transforms": _q_scalar_transforms,
        "average_outside_percentile": _q_average_outside_percentile,
        "smart_summarize": _q_smart_summarize,
        "series_with_wildcards": _q_series_with_wildcards,
        "divide_series_lists": _q_divide_series_lists,
        "remove_empty_series": _q_remove_empty_series,
        "name_functions_2": _q_name_functions_2,
        # function-layer wave 7 (r11)
        "group_by_nodes": _q_group_by_nodes,
        "apply_by_node": _q_apply_by_node,
        "use_series_above": _q_use_series_above,
        "ema_window": _q_ema_window,
        "offset_to_zero": _q_offset_to_zero,
        "fallback_series": _q_fallback_series,
        # new in r12: the render-target front door (VERDICT r11
        # missing #1) — parse → compose → execute, both oracle-paired
        "render_target": _q_render_target,
        "render_panel": _q_render_panel,
        "render_window": _q_render_window,
        "render_compose": _q_render_compose,
        "render_weighted": _q_render_weighted,
        "render_linreg": _q_render_linreg,
        "minhash_pairs_portable": _q_minhash_pairs_portable,
        "kmv_distinct_users": _q_kmv_distinct_users,
        "approx_distinct_portable": _q_approx_distinct_portable,
        "kmv_overlap_users": _q_kmv_overlap_users,
        "neardup_triangles": _q_neardup_triangles,
        "value_transforms": _q_value_transforms,
        "event_transitions": _q_event_transitions,
        "event_transitions_salted": _q_event_transitions_salted,
        # new in r9: the detection-free blanket twin (A/B winner)
        "event_transitions_chunked": _q_event_transitions_chunked,
        "funnel_salted": _q_funnel_salted,
        "time_to_convert": _q_time_to_convert,
        "moving_window_functions": _q_moving_window_functions,
        "stream_kmv": _q_stream_kmv,
        # (b) new in r6: 12th streaming replay twin — the ANN ingest
        # path gains external lineage via integer-lattice frozen
        # centroids (VERDICT r5 #4)
        "stream_ann_ingest": _q_stream_ann_ingest,
        # (b) new in r6: MP4/ISO-BMFF container manifest — the video
        # half of the codec story at the right boundary (VERDICT r5
        # #7: parse the container, plug in the frame decoder)
        "video_manifest": _q_video_manifest,
        # (b) new in r6: MP3 frame-header census — the audio analog
        # of video_manifest (duration/bitrate manifest with NO
        # decoder; frame decode stays plug-in)
        "audio_manifest": _q_audio_manifest,
        # (b) new in r6: the IVF probe mechanism hash-checked via the
        # integer-lattice formulation (assignment + probe ranking +
        # candidate restriction + cosine re-rank, all oracle-exact)
        "topk_ivf_portable": _q_topk_ivf_portable,
        # (b) new in r6: the PQ encode mechanism hash-checked — the
        # 8-byte subspace codes themselves as hex
        "pq_codes_portable": _q_pq_codes_portable,
        # (b) new in r6: the SemDeDup component mechanism
        # hash-checked — exact int64 threshold, closure vs a
        # recursive-CTE oracle
        "semantic_dedup_portable": _q_semantic_dedup_portable,
        # (b) new in r6: the hyperplane-LSH bucket mechanism
        # hash-checked — ±1 planes over the lattice, bucket ids and
        # OR-amplified candidates oracle-exact
        "topk_lsh_portable": _q_topk_lsh_portable,
        # ===== r4 entries (the prefix order comes from _R13_PREFIX)
        # (a) changed in r4: hash_embed output reshaped to vec_str
        # (driver-hashable, VERDICT r3 #1); chunk_retrieval gained the
        # in-plan ckey range guard; frame_sample_real now routes
        # through decode_real + the codec-hook snapshot
        "hash_embed": _q_hash_embed,
        "chunk_retrieval": _q_chunk_retrieval,
        "multimodal_frames_real": _q_multimodal_frames_real,
        # (b) new r4: streaming replay twins (REAL Structured
        # Streaming execution, oracle-paired) + the five new pipeline
        # operators (phash_neardup rows-only: Python-side decode)
        "stream_windowed_rollup": _q_stream_windowed_rollup,
        "stream_backfill_rollup": _q_stream_backfill_rollup,
        "stream_corpus_ingest": _q_stream_corpus_ingest,
        "stream_sessions": _q_stream_sessions,
        "source_similarity": _q_source_similarity,
        "ngram_novelty": _q_ngram_novelty,
        "audio_neardup": _q_audio_neardup,
        "stream_interval_join": _q_stream_interval_join,
        "dataset_diff": _q_dataset_diff,
        "length_percentile_gate": _q_length_percentile_gate,
        "rollup_catalog": _q_rollup_catalog,
        # rows-only: float SVD — numpy-reference pytest-pinned
        "embedding_pca": _q_embedding_pca,
        "split_leak_check": _q_split_leak_check,
        "stream_store_replay": _q_stream_store_replay,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "text_normalize": _q_text_normalize,
        "temperature_mix": _q_temperature_mix,
        "hard_negatives": _q_hard_negatives,
        "phash_neardup": _q_phash_neardup,
        # (c) r2 greens with the OLDEST driver rows (CORRECTNESS_r02),
        # filling the prefix to 50
        "range_band_join": _q_range_band_join,
        "tpch_q6": _q_tpch_q6,
        "tpch_q10": _q_tpch_q10,
        "tpch_q4": _q_tpch_q4,
        "tpch_q14": _q_tpch_q14,
        "tpch_q18": _q_tpch_q18,
        "tpch_q19": _q_tpch_q19,
        "tpch_q22": _q_tpch_q22,
        "tpch_q7": _q_tpch_q7,
        "tpch_q8": _q_tpch_q8,
        "tpch_q13": _q_tpch_q13,
        "tpch_q15": _q_tpch_q15,
        "tpch_q17": _q_tpch_q17,
        "series_functions": _q_series_functions,
        "per_second_rate": _q_per_second,
        "slice_runs": _q_slice_runs,
        "moving_stddev": _q_moving_stddev,
        "series_arithmetic": _q_series_arithmetic,
        "group_by_node": _q_group_by_node,
        "salted_join": _q_salted_join,
        "table_profile": _q_table_profile,
        "melt_stats": _q_melt_stats,
        "histogram_quantiles": _q_histogram_quantiles,
        "stratified_split": _q_stratified_split,
        "vocab_top_n": _q_vocab_top_n,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "packed_sequences": _q_packed_sequences,
        "mixture_sample": _q_mixture_sample,
        "fuzzy_pairs_banded": _q_fuzzy_pairs_banded,
        # ===== entries 51+: parked (driver-green in a prior round,
        # still covered by tools/check_oracle.py locally) ===========
        # r2 greens that did not fit the r4 prefix — first in line
        # for the r5 rotation
        "bucketed_join": _q_bucketed_join,
        "order_quartiles_scaled": _q_order_quartiles_scaled,
        "neardup_clusters_star": _q_neardup_clusters_star,
        "tpch_q12": _q_tpch_q12,
        "tpch_q21": _q_tpch_q21,
        "span_dup_ratio": _q_span_dup_ratio,
        "token_rarity": _q_token_rarity,
        "props_flatten": _q_props_flatten,
        "cap_per_source": _q_cap_per_source,
        "bucketed_series_windows": _q_bucketed_series_windows,
        "corpus_filter_gate": _q_corpus_filter_gate,
        "weighted_sample": _q_weighted_sample,
        "dedup_materialize": _q_dedup_materialize,
        "tpch_q2": _q_tpch_q2,
        "tpch_q9": _q_tpch_q9,
        "tpch_q11": _q_tpch_q11,
        "tpch_q16": _q_tpch_q16,
        "tpch_q20": _q_tpch_q20,
        # r3/r1 greens (newest external rows), original order
        "intersect_custkeys": _q_intersect,
        "anti_join": _q_anti_join,
        "pivot_status": _q_pivot,
        "except_custkeys": _q_except,
        "cube_orders": _q_cube,
        "top_parts": _q_top_parts,
        "running_totals": _q_running_totals,
        "rank_window": _q_rank_window,
        "grouping_sets": _q_grouping_sets,
        "range_frame_sum": _q_range_frame_sum,
        "as_percent": _q_as_percent,
        "percentiles": _q_percentiles,
        "time_shift_join": _q_time_shift_join,
        "forward_fill": _q_forward_fill,
        "anomaly_zscore": _q_anomaly_zscore,
        "top_series": _q_top_series,
        "moving_median": _q_moving_median,
        "winsorize": _q_winsorize,
        "simhash_pairs_global": _q_simhash_pairs_global,
        "ewma_series": _q_ewma_series,
        "holt_winters_bands": _q_holt_winters,
        "holt_winters_seasonal": _q_holt_winters_seasonal,
        "topk_cosine_pq": _q_topk_cosine_pq,
        "topk_cosine_ivfpq": _q_topk_cosine_ivfpq,
        "slice_roundtrip": _q_slice_roundtrip,
        "bigram_lm": _q_bigram_lm,
        "quality_classifier": _q_quality_classifier,
        "token_budget_fill": _q_token_budget_fill,
        "vocab_drift": _q_vocab_drift,
        "corpus_card": _q_corpus_card,
        "embedding_decontamination": _q_embedding_decontamination,
        "cusum_changepoints": _q_cusum,
        "semantic_dedup_docs": _q_semantic_dedup_docs,
        "nation_pagerank": _q_nation_pagerank,
        "bpe_train": _q_bpe_train,
        "bpe_segment": _q_bpe_segment,
        "semantic_dedup": _q_semantic_dedup,
        "fuzzy_pairs": _q_fuzzy_pairs,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_decode_arith": _q_multimodal_decode_arith,
        "series_transform": _q_series_transform,
        "series_linreg": _q_series_linreg,
        "frequent_items": _q_frequent_items,
        "minhash_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "order_analytics": _q_order_analytics,
        "fetch_dense": _q_fetch_dense,
        "quantize_lww": _q_quantize_lww,
        "agg_methods": _q_agg_methods,
        "aggregate_series": _q_aggregate_series,
        "merge_series": _q_merge,
        "fetch_per_node_method": _q_fetch_per_node_method,
        "rollup_xff": _q_rollup_xff,
        "rollup_incremental": _q_rollup_incremental,
        "zorder_key": _q_zorder_key,
        "rollup_per_node": _q_rollup_per_node,
        "multi_resolution": _q_multi_resolution,
        "has_data_for_interval": _q_has_data,
        "find_glob": _q_find_glob,
        "delete_before": _q_delete_before,
        "text_stats": _q_text_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "pii_scrub": _q_pii_scrub,
        "repetition_stats": _q_repetition_stats,
        "neardup_clusters": _q_neardup_clusters,
        "corpus_pipeline": _q_corpus_pipeline,
        "jaccard_pairs": _q_jaccard_pairs,
        "topk_cosine": _q_topk_cosine,
        "topk_cosine_lsh": _q_topk_cosine_lsh,
        "topk_cosine_ivf": _q_topk_cosine_ivf,
        "embedding_neardup": _q_embedding_neardup,
        "label_centroid_sim": _q_label_centroids,
        "topk_cosine_q8": _q_topk_cosine_q8,
        "sliding_window": _q_sliding_window,
        "session_window": _q_session_window,
        "props_extract": _q_props_extract,
        "contamination": _q_contamination,
        "doc_chunks": _q_doc_chunks,
        "funnel": _q_funnel,
        "cohort_retention": _q_cohort_retention,
        "approx_distinct_users": _q_approx_distinct,
        "token_counts": _q_token_counts,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frames": _q_multimodal_frames,
        "multimodal_resize": _q_multimodal_resize,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "asof_join": _q_asof_join,
    }
    out = {k: base.pop(k) for k in _R13_PREFIX}
    out.update(base)  # parked: prior relative order preserved
    return out


def oracle_sql() -> dict[str, str]:
    t1 = T0 + DAY
    cutoff = T0 + 15 * DAY + 17
    cutoff_q = cutoff + (-cutoff) % 60
    d = {
        "fetch_dense": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {t1}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {t1}, 3600) r
)
SELECT grid.metric, grid.ts, agg.value
FROM grid LEFT JOIN agg USING (metric, ts)
""",
        "quantize_lww": f"""
WITH {POINTS_CTE}
SELECT metric, ts - (ts % 600) AS ts,
       arg_max(value, arrival_seq) AS value
FROM points WHERE value IS NOT NULL
GROUP BY 1, 2
""",
        # the export→import cycle is IDENTITY on quantized LWW points
        # (big-endian float64 round-trips bit-exactly; NaN pad rows
        # are dropped on read) — so the oracle is the input itself
        "slice_roundtrip": f"""
WITH {POINTS_CTE}
SELECT metric, ts, arg_max(value, arrival_seq) AS value
FROM points WHERE value IS NOT NULL
GROUP BY 1, 2
""",
        "agg_methods": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric,
       {DEC_AVG} AS avg_value,
       {DEC_SUM} AS sum_value,
       arg_max(value, ts) AS last_value,
       max(value) AS max_value,
       min(value) AS min_value,
       count(value) AS n_points
FROM deduped GROUP BY metric
""",
        "aggregate_series": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts - (ts % 300) AS ts, {DEC_AVG} AS value
FROM deduped GROUP BY 1, 2
""",
        "merge_series": f"""
WITH {POINTS_CTE},
a_agg AS (
  SELECT ts - (ts % 1800) AS ts, {DEC_AVG} AS value
  FROM points WHERE metric = 'click' AND ts >= {T0} AND ts < {t1}
  GROUP BY 1
),
a AS (
  SELECT r.range AS ts, a_agg.value
  FROM range({T0}, {t1}, 1800) r LEFT JOIN a_agg ON a_agg.ts = r.range
),
b AS (
  SELECT ts - (ts % 1800) AS ts, {DEC_AVG} AS value
  FROM points WHERE metric = 'view' GROUP BY 1
)
SELECT a.ts, coalesce(a.value, b.value) AS value
FROM a LEFT JOIN b USING (ts)
""",
        "fetch_per_node_method": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points
  WHERE value IS NOT NULL AND ts >= {T0} AND ts < {T0 + 7 * DAY}
  GROUP BY 1, 2
),
per_bucket AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         {DEC_AVG} AS _avg, {DEC_SUM} AS _sum,
         arg_max(value, ts) AS _last,
         max(value) AS _max, min(value) AS _min
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts,
  CASE metric
    WHEN 'click' THEN _avg
    WHEN 'error' THEN _sum
    WHEN 'purchase' THEN _last
    WHEN 'signup' THEN _max
    WHEN 'view' THEN _min
  END AS value
FROM per_bucket
""",
        "rollup_xff": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
FROM deduped GROUP BY 1, 2
HAVING count(value) / 60.0 >= 0.05
""",
        # the stored winner per (metric, 600s bucket) is the
        # lexicographic max of (arrival batch, raw 60s ts, event id):
        # cross-batch LWW by stamped batch id, in-batch compact by
        # largest raw ts with write-order tie-break
        "stream_store_replay": f"""
WITH {POINTS_CTE},
bounds AS (
  SELECT MIN(arrival_seq) AS lo,
         MAX(arrival_seq) - MIN(arrival_seq) + 1 AS span
  FROM points WHERE value IS NOT NULL
),
b AS (
  SELECT metric,
         ts - (ts % 600) AS qts,
         ts AS raw_ts,
         value,
         arrival_seq,
         (4 * (arrival_seq - lo)) // span AS batch
  FROM points CROSS JOIN bounds
  WHERE value IS NOT NULL
)
SELECT metric, qts AS ts, value
FROM b
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY metric, qts
  ORDER BY batch DESC, raw_ts DESC, arrival_seq DESC
) = 1
""",
        "split_leak_check": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(lower(COALESCE(text, '')), ' '))) AS tok
  FROM documents
),
th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(COALESCE(
           SUM(CASE WHEN v > 0 THEN 1::UBIGINT << j END), 0) AS UBIGINT)
           AS sim
  FROM votes GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sim, b.sim)) <= 3
),
sp AS (
  SELECT doc_id,
         CASE WHEN hc <= 'b' THEN 'train'
              WHEN hc <= 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 1)
               AS hc
    FROM documents
  )
)
SELECT LEAST(sa.split, sb.split) AS split_a,
       GREATEST(sa.split, sb.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN sp sa ON sa.doc_id = doc_a
JOIN sp sb ON sb.doc_id = doc_b
GROUP BY 1, 2
""",
        "rollup_catalog": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric,
         ts - (ts % CASE metric
             WHEN 'click' THEN 300 WHEN 'error' THEN 600
             WHEN 'purchase' THEN 300 WHEN 'signup' THEN 3600
             WHEN 'view' THEN 600 ELSE 3600 END) AS ts,
         CAST(CASE metric
             WHEN 'click' THEN 300 WHEN 'error' THEN 600
             WHEN 'purchase' THEN 300 WHEN 'signup' THEN 3600
             WHEN 'view' THEN 600 ELSE 3600 END AS BIGINT) AS step,
         {DEC_AVG} AS _avg, {DEC_SUM} AS _sum,
         arg_max(value, ts) AS _last,
         max(value) AS _max, min(value) AS _min
  FROM deduped GROUP BY 1, 2, 3
)
SELECT metric, ts,
  CASE metric
    WHEN 'click' THEN _avg
    WHEN 'error' THEN _sum
    WHEN 'purchase' THEN _last
    WHEN 'signup' THEN _max
    WHEN 'view' THEN _min
    ELSE _avg
  END AS value,
  step
FROM b
""",
        "rollup_per_node": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric,
         ts - (ts % CASE metric
             WHEN 'click' THEN 300 WHEN 'error' THEN 600
             WHEN 'purchase' THEN 300 WHEN 'signup' THEN 3600
             WHEN 'view' THEN 600 ELSE 3600 END) AS ts,
         {DEC_AVG} AS _avg, {DEC_SUM} AS _sum,
         arg_max(value, ts) AS _last,
         max(value) AS _max, min(value) AS _min
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts,
  CASE metric
    WHEN 'click' THEN _avg
    WHEN 'error' THEN _sum
    WHEN 'purchase' THEN _last
    WHEN 'signup' THEN _max
    WHEN 'view' THEN _min
    ELSE _avg
  END AS value
FROM b
""",
        "multi_resolution": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
fine_agg AS (
  SELECT metric, ts - (ts % 300) AS ts, {DEC_AVG} AS value
  FROM deduped
  WHERE ts >= {T0 + 20 * DAY} AND ts >= {T0 + 18 * DAY} AND ts < {T0 + 22 * DAY}
  GROUP BY 1, 2
),
coarse AS (
  SELECT metric, ts - (ts % 300) AS ts, {DEC_AVG} AS value
  FROM deduped WHERE ts < {T0 + 20 * DAY} GROUP BY 1, 2
),
coarse_f AS (
  SELECT * FROM coarse WHERE ts >= {T0 + 18 * DAY} AND ts < {T0 + 22 * DAY}
),
merged AS (
  SELECT metric, ts, coalesce(f.value, c.value) AS value
  FROM fine_agg f FULL OUTER JOIN coarse_f c USING (metric, ts)
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0 + 18 * DAY}, {T0 + 22 * DAY}, 300) r
)
SELECT grid.metric, grid.ts, merged.value
FROM grid LEFT JOIN merged USING (metric, ts)
""",
        "has_data_for_interval": f"""
WITH {POINTS_CTE}
SELECT metric,
       (min(ts) < {T0 + 2 * DAY} AND max(ts) >= {t1}) AS has_data
FROM points GROUP BY metric
""",
        "find_glob": f"""
WITH {POINTS_CTE}
SELECT DISTINCT metric FROM points
WHERE regexp_matches(metric, '^[cps][^.]*$')
""",
        "delete_before": f"""
WITH {POINTS_CTE}
SELECT metric, count(value) AS n_points,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM points WHERE ts >= {cutoff_q}
GROUP BY metric
""",
        # EWMA recursion as a recursive CTE (same engine-exactness
        # recipe as stream_cusum: string-cast double constants, one
        # MATERIALIZED step table, identical IEEE op order) — upgrades
        # the entry from rows-only to hash-checked
        "ewma_series": _EWMA_ORACLE,
        "stream_ewma": _EWMA_ORACLE,
        # Holt double smoothing (level/trend/deviation) as a recursive
        # CTE; forecast/bands/aberration are then plain projections of
        # the stepped state — upgrades holt_winters_bands AND verifies
        # stream_holt_winters (same recursion through REAL streaming)
        "holt_winters_bands": _HOLT_ORACLE,
        "stream_holt_winters": _HOLT_ORACLE,
        "holt_winters_seasonal": _HOLT_SEASONAL_ORACLE,
        "stream_hw_seasonal": _HOLT_SEASONAL_ORACLE,
        # Page's CUSUM recursion replayed as a recursive CTE: step i
        # advances EVERY metric one point; identical IEEE double ops
        # in identical order as the streaming state update, so
        # s_hi/s_lo/alarm hash bit-exactly
        "stream_cusum": f"""
WITH RECURSIVE {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 1800) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
-- MATERIALIZED: without it the planner inlines v (and the whole
-- points scan above it) into EVERY recursion iteration — 1440
-- re-scans of the fact table instead of one 7200-row lookup
v AS MATERIALIZED (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY metric ORDER BY ts) AS i
  FROM b
),
rec AS (
  SELECT metric, CAST(0 AS BIGINT) AS i,
         CAST(0.0 AS DOUBLE) AS s_hi, CAST(0.0 AS DOUBLE) AS s_lo,
         CAST(NULL AS BIGINT) AS ts, CAST(NULL AS DOUBLE) AS value,
         '' AS alarm
  FROM (SELECT DISTINCT metric FROM v)
  UNION ALL
  SELECT metric, i,
         CASE WHEN raw_hi > 25.0 THEN CAST(0.0 AS DOUBLE)
              ELSE raw_hi END,
         CASE WHEN raw_lo > 25.0 THEN CAST(0.0 AS DOUBLE)
              ELSE raw_lo END,
         ts, value,
         CASE WHEN raw_hi > 25.0 AND raw_lo > 25.0 THEN 'both'
              WHEN raw_hi > 25.0 THEN 'high'
              WHEN raw_lo > 25.0 THEN 'low'
              ELSE '' END
  FROM (
    SELECT v.metric, v.i, v.ts, v.value,
           greatest(CAST(0.0 AS DOUBLE),
                    rec.s_hi + (v.value - 10.0 - 0.5)) AS raw_hi,
           greatest(CAST(0.0 AS DOUBLE),
                    rec.s_lo + (10.0 - 0.5 - v.value)) AS raw_lo
    FROM rec JOIN v ON v.metric = rec.metric AND v.i = rec.i + 1
  )
)
SELECT metric, ts, value, s_hi, s_lo, alarm
FROM rec WHERE i >= 1
""",
        # integer-lattice PageRank: the 6-iteration fixpoint replayed
        # exactly — every step is BIGINT multiply / floor-div / sum,
        # so the recursion has ONE bit pattern in any engine. The
        # final double is a single IEEE division of that integer, also
        # engine-identical. Mirrors graph.pagerank_units: init
        # mass//n, contrib units//deg summed per target, dangling mass
        # spread //n, new = base + (17·x)//20 with mass = 10^15.
        "nation_pagerank": """
WITH RECURSIVE
edges AS MATERIALIZED (
  SELECT DISTINCT s.s_nationkey AS u, c.c_nationkey AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE s.s_nationkey <> c.c_nationkey
),
-- NOT "u UNION v": under WITH RECURSIVE, DuckDB 1.0 treats ANY
-- union-bodied CTE as an iteration head and skips the dedup —
-- DISTINCT over UNION ALL keeps set semantics
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  )
),
deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM edges GROUP BY u),
p AS MATERIALIZED (
  SELECT count(*) AS n,
         1000000000000000 // count(*) AS init_units,
         (1000000000000000 * 3) // (20 * count(*)) AS base_units
  FROM nodes
),
pr AS (
  SELECT 0 AS it, node, (SELECT init_units FROM p) AS units FROM nodes
  UNION ALL
  SELECT cur.it + 1, cur.node,
         CAST((SELECT base_units FROM p)
              + (17 * (COALESCE(c.contrib, 0) + d.share)) // 20
              AS BIGINT) AS units
  FROM pr cur
  LEFT JOIN (
    SELECT e.v, SUM(pr2.units // dg.deg) AS contrib
    FROM pr pr2 JOIN edges e ON pr2.node = e.u
    JOIN deg dg ON dg.u = e.u
    GROUP BY e.v
  ) c ON c.v = cur.node
  CROSS JOIN (
    SELECT COALESCE(SUM(CASE WHEN dg.u IS NULL THEN pr3.units END), 0)
           // (SELECT n FROM p) AS share
    FROM pr pr3 LEFT JOIN deg dg ON pr3.node = dg.u
  ) d
  WHERE cur.it < 6
)
SELECT node, units AS rank_units,
       CAST(units AS DOUBLE) / 1000000000000000.0 AS rank
FROM pr WHERE it = 6 ORDER BY node
""",
        # graphite's non-interpolated rank rule: value = the
        # ceil(n/100·(cnt+1))-th smallest, clamped to [1, cnt] —
        # exact integer rank selection on both engines
        "n_percentile": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
v AS (
  SELECT metric, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS cnt
  FROM deduped
)
SELECT metric, value AS n_percentile
FROM v
WHERE rn = greatest(1, least(cnt, (90 * (cnt + 1) + 99) // 100))
""",
        "percentile_of_series": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
v AS (
  SELECT ts, value,
         row_number() OVER (PARTITION BY ts ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY ts) AS cnt
  FROM deduped
)
SELECT ts, value
FROM v
WHERE rn = greatest(1, least(cnt, (75 * (cnt + 1) + 99) // 100))
""",
        "hitcount": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts - (ts % 3600) AS ts,
       CAST(CAST(SUM(CAST(CAST(value * 60 AS VARCHAR)
                          AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS hits
FROM deduped GROUP BY 1, 2
""",
        # same user-cardinality reduction: first view, first purchase
        # at-or-after it, integer deltas, discrete percentiles (NULL
        # deltas of non-converters skipped by both engines)
        "time_to_convert": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
ff AS (
  SELECT user_id, MIN(t) AS t0 FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
pu AS (
  SELECT ff.user_id, ff.t0,
         MIN(CASE WHEN p.t >= ff.t0 THEN p.t END) AS t1
  FROM ff LEFT JOIN (SELECT user_id, t FROM ev
                     WHERE event_type = 'purchase') p
    USING (user_id)
  GROUP BY 1, 2
)
SELECT t0 - (t0 % 604800) AS cohort_start,
       CAST(COUNT(*) AS BIGINT) AS n_started,
       CAST(COUNT(t1) AS BIGINT) AS n_converted,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY t1 - t0)
            AS BIGINT) AS p50_latency_s,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY t1 - t0)
            AS BIGINT) AS p90_latency_s
FROM pu GROUP BY 1
""",
        # Morton interleave replicated step by step: same md5 bucket,
        # same integer DIV day index, same four shift-or-mask spreads
        # (masks in decimal) — pure integer ops, exact everywhere
        "zorder_key": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
d AS (
  SELECT metric, ts, value,
         CAST(md5_number_lower(metric) & 2147483647 AS BIGINT)
           % 4096 AS x,
         (ts // 86400) % 65536 AS y
  FROM deduped
),
s1 AS (SELECT metric, ts, value,
              (x | (x << 8)) & 71777214294589695 AS x,
              (y | (y << 8)) & 71777214294589695 AS y FROM d),
s2 AS (SELECT metric, ts, value,
              (x | (x << 4)) & 1085102592571150095 AS x,
              (y | (y << 4)) & 1085102592571150095 AS y FROM s1),
s3 AS (SELECT metric, ts, value,
              (x | (x << 2)) & 3689348814741910323 AS x,
              (y | (y << 2)) & 3689348814741910323 AS y FROM s2),
s4 AS (SELECT metric, ts, value,
              (x | (x << 1)) & 6148914691236517205 AS x,
              (y | (y << 1)) & 6148914691236517205 AS y FROM s3)
SELECT metric, ts, value, x | (y << 1) AS zkey FROM s4
""",
        # the incremental path's oracle is the FULL recompute with the
        # rollup_xff dials — partial-merge exactness means the split
        # must be invisible in the result
        "rollup_incremental": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts - (ts % 3600) AS ts,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
                 AS VARCHAR) AS DOUBLE) / COUNT(value) AS value
FROM deduped GROUP BY 1, 2
HAVING count(value) / 60.0 >= 0.05
""",
        # (ts, event_id)-pinned lead — the raw timestamp sorts
        # identically to Spark's epoch-nanos long, and the tiebreak
        # makes the per-user order total, so counts and integer-exact
        # double shares match bit-for-bit
        "event_transitions": """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / SUM(n_transitions) OVER (PARTITION BY from_type)
         AS share_from
FROM pairs
""",
        "value_transforms": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts, value,
       abs(value) AS abs_value,
       CASE WHEN value != 0 THEN 1.0 / value END AS inverted,
       sqrt(abs(value)) AS sqrt_value,
       value * value AS squared,
       LEAST(GREATEST(value, 10.0), 90.0) AS clamped
FROM deduped
""",
        # wrap expression written in the SAME left-to-right
        # association as the Spark column (100.0 - prev + value + 1.0)
        # so the doubles agree bit-for-bit; the rate divides by actual
        # elapsed seconds from the same lag
        "counter_wrap_rate": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT metric, ts, value,
         lag(value) OVER w AS prev,
         CAST(ts - lag(ts) OVER w AS DOUBLE) AS dt
  FROM deduped
  WINDOW w AS (PARTITION BY metric ORDER BY ts)
)
SELECT metric, ts, value,
       CASE WHEN value - prev >= 0 THEN value - prev
            WHEN value <= 100.0 THEN 100.0 - prev + value + 1.0
       END AS nn_delta,
       CASE WHEN value - prev >= 0 THEN (value - prev) / dt
            WHEN value <= 100.0 THEN (100.0 - prev + value + 1.0) / dt
       END AS rate_per_s
FROM lagged
""",
        # one generate_series cross join == the Spark explode over a
        # literal shift array: 3 copies, copy k relabeled k*86400 s
        "time_stack": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, CAST(k AS BIGINT) AS shift_idx,
       CAST(ts + k * 86400 AS BIGINT) AS ts, value
FROM deduped CROSS JOIN generate_series(0, 2) AS t(k)
""",
        # NULL-safe inequality == Spark's eqNullSafe negation; the
        # deduped fixture drops NULL rows, so is_non_null is the
        # degenerate all-1 column BY CONSTRUCTION here — the NULL arm
        # is pinned in pytest on a hand-built gap series
        "changed_points": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts, value,
       CASE WHEN row_number() OVER w = 1 THEN 0
            WHEN value IS DISTINCT FROM lag(value) OVER w THEN 1
            ELSE 0 END AS changed,
       lag(value, 3) OVER w AS delayed,
       CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS is_non_null
FROM deduped
WINDOW w AS (PARTITION BY metric ORDER BY ts)
""",
        # LWW slot value weighted by RAW arrival count per slot;
        # products ride the string-routed DECIMAL sum, weights exact
        "weighted_average": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
weights AS (
  SELECT metric, ts, COUNT(value) AS w FROM points GROUP BY 1, 2
),
j AS (
  SELECT d.ts, d.value, w.w
  FROM deduped d JOIN weights w ON d.metric = w.metric AND d.ts = w.ts
)
SELECT ts,
       CAST(CAST(SUM(CAST(CAST(value * w AS VARCHAR)
                          AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         / SUM(CASE WHEN value IS NOT NULL THEN w END) AS weighted_avg,
       CAST(SUM(CASE WHEN value IS NOT NULL THEN w END) AS BIGINT)
         AS total_weight,
       CAST(COUNT(value) AS BIGINT) AS n_series
FROM j GROUP BY ts
""",
        "moving_window_functions": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts, value,
       value - MIN(value) OVER (PARTITION BY metric) AS offset_to_zero,
       MIN(value) OVER w5 AS moving_min,
       MAX(value) OVER w5 AS moving_max,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
                 OVER w5 AS VARCHAR) AS DOUBLE) AS moving_sum
FROM deduped
WINDOW w5 AS (PARTITION BY metric ORDER BY ts
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "integral_by_interval": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts, value,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
                 OVER (PARTITION BY metric, ts - (ts % 3600)
                       ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
                 AS VARCHAR) AS DOUBLE) AS integral
FROM deduped
""",
        "remove_above_percentile": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
thr AS (
  SELECT metric, value AS thr FROM (
    SELECT metric, value,
           row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY metric) AS cnt
    FROM deduped
  )
  WHERE rn = greatest(1, least(cnt, (90 * (cnt + 1) + 99) // 100))
)
SELECT d.metric, d.ts,
       CASE WHEN d.value > t.thr THEN NULL ELSE d.value END AS value
FROM deduped d LEFT JOIN thr t USING (metric)
""",
        # population stddev from DECIMAL-exact sums; the double ops
        # (two divisions, one product, one subtract, sqrt) mirror the
        # Spark expression term-for-term — both engines correctly
        # round each step, so the deviation is bit-identical
        "most_deviant": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
stats AS (
  SELECT metric,
         {DEC_SUM} AS s1,
         CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS s2,
         count(*) AS n
  FROM deduped GROUP BY metric
)
SELECT metric,
       sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS deviation
FROM stats
ORDER BY deviation DESC, metric
LIMIT 3
""",
        "average_above": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
keep AS (
  SELECT metric FROM (
    SELECT metric, {DEC_SUM} / count(*) AS a
    FROM deduped GROUP BY metric
  )
  WHERE a > 49.5
)
SELECT d.metric, d.ts, d.value
FROM deduped d JOIN keep USING (metric)
""",
        # the filterSeries gate family: exact stat panel (arg_max by
        # ts = graphite's "current"), 0/1 comparisons, total-order
        # ranks — all integer/exact, no float recipe needed
        "filter_series": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
stats AS (
  SELECT metric,
         arg_max(value, ts) AS current,
         max(value) AS max_value,
         min(value) AS min_value
  FROM deduped GROUP BY metric
)
SELECT metric, current, max_value, min_value,
  CAST(current >= 40.0 AS INTEGER) AS current_above,
  CAST(current <= 40.0 AS INTEGER) AS current_below,
  CAST(max_value > 360.0 AS INTEGER) AS maximum_above,
  CAST(max_value <= 360.0 AS INTEGER) AS maximum_below,
  CAST(min_value > 0.02 AS INTEGER) AS minimum_above,
  CAST(min_value <= 0.02 AS INTEGER) AS minimum_below,
  CAST(row_number() OVER (ORDER BY current DESC, metric)
       AS INTEGER) AS rank_highest_current,
  CAST(row_number() OVER (ORDER BY current ASC, metric)
       AS INTEGER) AS rank_lowest_current
FROM stats
""",
        # cross-series combinators: decimal-exact sums (diff as ONE
        # signed sum), stddev mirroring most_deviant's double ops
        # term-for-term, multiply as a single IEEE product
        "series_combinators": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
g AS (
  SELECT ts,
    count(*) AS n_series,
    SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS s1,
    SUM(CAST(CAST(value * value AS VARCHAR) AS DECIMAL(30,10))) AS s2,
    SUM(CASE WHEN metric = 'click'
             THEN CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))
             ELSE -CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))
        END) AS d,
    MAX(CASE WHEN metric = 'click' THEN value END) AS av,
    MAX(CASE WHEN metric = 'view' THEN value END) AS bv,
    MAX(value) AS max_series,
    MIN(value) AS min_series
  FROM deduped GROUP BY ts
)
SELECT ts, n_series,
  CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS sum_series,
  CASE WHEN av IS NOT NULL
       THEN CAST(CAST(d AS VARCHAR) AS DOUBLE) END AS diff_series,
  sqrt(greatest(
    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n_series
      - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_series)
        * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_series),
    0.0)) AS stddev_series,
  av * bv AS multiply_series,
  max_series, min_series
FROM g
ORDER BY ts
""",
        # per-point gates: exact comparisons + single-rounded IEEE
        # ops in the same order as the Spark projection
        "point_gates": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT metric, ts, value,
         min(value) OVER (PARTITION BY metric) AS mn,
         max(value) OVER (PARTITION BY metric) AS mx
  FROM deduped
)
SELECT metric, ts, value,
  CASE WHEN mx > mn THEN (value - mn) / (mx - mn)
       WHEN value IS NOT NULL THEN 0.0 END AS minmax,
  CASE WHEN value <= 400.0 THEN value END AS removed_above,
  CASE WHEN value >= 1.0 THEN value END AS removed_below,
  value * 1.5 AS scaled_to_seconds,
  CASE WHEN ts >= 1704844800 AND ts <= 1705449600
       THEN value END AS time_sliced
FROM w
""",
        "sort_by_extrema": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
ext AS (
  SELECT metric, max(value) AS max_value, min(value) AS min_value
  FROM deduped GROUP BY metric
)
SELECT metric, max_value, min_value,
  CAST(row_number() OVER (ORDER BY max_value DESC, metric)
       AS INTEGER) AS rank_by_max,
  CAST(row_number() OVER (ORDER BY min_value ASC, metric)
       AS INTEGER) AS rank_by_min
FROM ext
""",
        # alignToFrom: buckets anchored at each series' own first ts
        "summarize_align": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
anchors AS (SELECT metric, min(ts) AS t0 FROM deduped GROUP BY metric)
SELECT metric, t0 + ((ts - t0) // 3600) * 3600 AS ts,
       {DEC_SUM} AS value
FROM deduped JOIN anchors USING (metric)
GROUP BY metric, 2
""",
        # maxDataPoints consolidation: vpp derived per series from the
        # dense slot count, buckets anchored at the series' own t0
        "consolidate_by": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
v AS (
  SELECT metric, min(ts) AS t0,
         ((max(ts) - min(ts)) // 60 + 40) // 40 AS vpp
  FROM deduped GROUP BY metric
)
SELECT d.metric,
       CAST(t0 + ((d.ts - t0) // (vpp * 60)) * (vpp * 60) AS BIGINT)
         AS ts,
       CAST(vpp * 60 AS BIGINT) AS c_step,
       {DEC_AVG} AS value
FROM deduped d JOIN v USING (metric)
GROUP BY d.metric, 2, 3
""",
        # compaction is result-invariant: the oracle aggregates the
        # RAW points (pre-fragmentation, pre-compaction) directly
        "compact_invariance": f"""
WITH {POINTS_CTE}
SELECT metric, count(*) AS n_rows,
       min(ts) AS min_ts, max(ts) AS max_ts,
       {DEC_SUM} AS sum_value
FROM points WHERE value IS NOT NULL
GROUP BY metric
""",
        # per-node cutoffs mirrored from the SAME python quantize_up
        # the Spark op cites (catalog fixture: EXPIRE_CATALOG_ROWS)
        "expire_catalog": f"""
WITH {POINTS_CTE}
SELECT metric, count(value) AS n_points,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM points
WHERE ts >= CASE metric
    WHEN 'click' THEN {_expire_cutoffs()['click']}
    WHEN 'error' THEN {_expire_cutoffs()['error']}
    WHEN 'purchase' THEN {_expire_cutoffs()['purchase']}
    WHEN 'view' THEN {_expire_cutoffs()['view']}
    ELSE {_expire_cutoffs()['signup']} END
GROUP BY metric
""",
        "text_stats": """
WITH t AS (
  SELECT doc_id, n_chars, string_split(lower(text), ' ') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(list_distinct(tk)) AS n_distinct_tokens,
       n_chars / len(tk) AS avg_token_len,
       len(list_distinct(tk)) / len(tk) AS lexical_diversity
FROM t
""",
        "quality_score": """
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(lower(text), ' ')) AS n,
         len(list_distinct(string_split(lower(text), ' '))) AS nd,
         len(list_filter(string_split(lower(text), ' '),
                         x -> length(x) >= 4)) AS nl
  FROM documents
)
SELECT doc_id, lang,
       (CASE WHEN n >= 20 THEN 1.0 ELSE n / 20.0 END
        * (nd / n + nl / n)) / 2.0 AS quality
FROM t
""",
        "lang_id": """
WITH t AS (
  SELECT doc_id, lang,
         list_distinct(string_split(lower(text), ' ')) AS dt
  FROM documents
), s AS (
  SELECT doc_id, lang,
    len(list_intersect(dt, ['der','und','die','nicht','ist'])) AS s_de,
    len(list_intersect(dt, ['the','and','of','is','a'])) AS s_en,
    len(list_intersect(dt, ['el','la','de','que','y'])) AS s_es,
    len(list_intersect(dt, ['le','la','et','les','des'])) AS s_fr
  FROM t
)
SELECT doc_id, lang AS lang_actual,
  CASE
    WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
    WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
    WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
    WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
    ELSE 'unknown'
  END AS lang_pred
FROM s
""",
        "fingerprint": """
SELECT doc_id,
       md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint
FROM documents
""",
        "dedup_exact": """
SELECT md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS content_key,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
        "pii_scrub": r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com at 10.0.' || CAST(doc_id % 200 AS VARCHAR)
              || '.7 tel 555-123-4567' AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text,
      '\+?\d{3}[- .]\d{3}[- .]\d{4}')) AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<ipv4>', 'g'),
      '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<phone>', 'g')) AS scrubbed_md5
FROM d
""",
        "doc_chunks": """
WITH d AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
  FROM documents
)
SELECT doc_id, source,
  unnest(range(0, len(range(1, len(toks) + 1, 48)))) AS chunk_idx,
  unnest(list_transform(range(1, len(toks) + 1, 48),
         s -> array_to_string(toks[s:s + 63], ' '))) AS chunk_text,
  unnest(list_transform(range(1, len(toks) + 1, 48),
         s -> least(64, len(toks) - s + 1))) AS n_chunk_tokens
FROM d
""",
        "packed_sequences": """
WITH d AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
  FROM documents
),
c AS (
  SELECT doc_id, source,
    unnest(range(0, len(range(1, len(toks) + 1, 48)))) AS chunk_idx,
    unnest(list_transform(range(1, len(toks) + 1, 48),
           s -> least(64, len(toks) - s + 1))) AS n_chunk_tokens
  FROM d
),
b AS (
  SELECT source, n_chunk_tokens,
    SUM(n_chunk_tokens) OVER (
        PARTITION BY source ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
)
SELECT source, CAST((cum - n_chunk_tokens) // 256 AS BIGINT) AS bin,
       COUNT(*) AS n_chunks, CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens,
       SUM(n_chunk_tokens) / 256 AS fill_frac
FROM b GROUP BY 1, 2
""",
        "funnel": """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
s1 AS (
  SELECT user_id, MIN(t) AS t1 FROM e
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND t >= t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND t >= t2 GROUP BY 1
)
SELECT 1 AS step_idx, 'view' AS step,
       (SELECT COUNT(*) FROM s1) AS n_users
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
""",
        "cohort_retention": """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
cohort AS (
  SELECT user_id, MIN(t) - (MIN(t) % 604800) AS cw FROM e GROUP BY 1
),
act AS (
  SELECT DISTINCT user_id, t - (t % 604800) AS w FROM e
)
SELECT cw AS cohort_start, (w - cw) // 604800 AS week_offset,
       COUNT(*) AS n_active
FROM act JOIN cohort USING (user_id)
GROUP BY 1, 2
""",
        "mixture_sample": """
WITH d AS (
  SELECT source,
         CASE
           WHEN substr(md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 4)
                < (CASE
                     WHEN source IN ('src0','src1','src2','src3','src4')
                       THEN 'g'
                     WHEN source IN ('src5','src6','src7','src8','src9')
                       THEN '8000'
                     ELSE '4000'
                   END)
           THEN 1 ELSE 0 END AS k
  FROM documents
)
SELECT source, COUNT(*) AS n_total, CAST(SUM(k) AS BIGINT) AS n_kept,
       SUM(k) / COUNT(*) AS kept_frac
FROM d GROUP BY 1
""",
        "fuzzy_pairs": """
WITH d AS (
  SELECT doc_id, source,
         substr(regexp_replace(lower(text), ' +', ' ', 'g'), 1, 32) AS pre
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.pre, b.pre) AS edit_dist
FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.pre, b.pre) <= 4
""",
        # banded path is lossless (segment pigeonhole + exact verify),
        # so the quadratic SQL at the same dials is its exact oracle
        "fuzzy_pairs_banded": """
WITH d AS (
  SELECT doc_id, source,
         substr(regexp_replace(lower(text), ' +', ' ', 'g'), 1, 24) AS pre
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.pre, b.pre) AS edit_dist
FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.pre, b.pre) <= 6
""",
        "neardup_clusters": """
WITH RECURSIVE d AS (
  SELECT doc_id, source,
         list_distinct(string_split(lower(text), ' ')) AS g
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.g, b.g))
          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
        >= 0.8
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(t)) AS component FROM reach GROUP BY s
),
lab AS (
  SELECT doc_id, COALESCE(component, doc_id) AS component
  FROM documents LEFT JOIN comp ON doc_id = comp.node
)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM lab
""",
        "repetition_stats": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
    CASE WHEN len(toks) >= 2 THEN
      1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
    END AS dup_bigram_frac
  FROM (
    SELECT doc_id, toks,
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM tok
  )
),
uni AS (
  SELECT doc_id, t AS tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY 1, 2
),
m AS (SELECT doc_id, MAX(c) AS max_c FROM uni GROUP BY 1)
SELECT b.doc_id, b.n_tokens,
       CAST(max_c AS DOUBLE) / n_tokens AS top_token_share,
       dup_bigram_frac
FROM base b JOIN m ON b.doc_id = m.doc_id
""",
        "corpus_pipeline": """
WITH q AS (
  SELECT doc_id, lang, text, n_chars,
         len(string_split(lower(text), ' ')) AS n,
         len(list_distinct(string_split(lower(text), ' '))) AS nd,
         len(list_filter(string_split(lower(text), ' '),
                         x -> length(x) >= 4)) AS nl,
         md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint
  FROM documents
), scored AS (
  SELECT doc_id, lang, fingerprint, n AS n_tokens,
         (CASE WHEN n >= 20 THEN 1.0 ELSE n / 20.0 END
          * (nd / n + nl / n)) / 2.0 AS quality
  FROM q
), gated AS (
  SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 20
), kept AS (
  SELECT fingerprint, min(doc_id) AS doc_id, min(lang) AS lang,
         min(quality) AS quality, min(n_tokens) AS n_tokens
  FROM gated GROUP BY fingerprint
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(CAST(quality AS DECIMAL(30,10))) AS VARCHAR)
           AS DOUBLE) / COUNT(quality) AS avg_quality
FROM kept GROUP BY lang
""",
        "jaccard_pairs": """
WITH d AS (
  SELECT doc_id, source,
         list_distinct(string_split(lower(text), ' ')) AS g
  FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.g, b.g))
           / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
           AS jaccard_sim
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT * FROM pairs WHERE jaccard_sim >= 0.8
""",
        "topk_cosine": f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         {_cos('q.qv', 'e.v')} AS cosine_sim
  FROM e JOIN q ON e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, label, cosine_sim, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
) WHERE rank <= 10
""",
        "topk_cosine_q8": """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qz AS (
  SELECT vec_id, label,
    list_transform(v, x -> CAST(floor(
        x / list_max(list_transform(v, y -> abs(y))) * 127) AS BIGINT))
        AS q
  FROM e
),
qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 5),
scored AS (
  SELECT qs.query_id, qz.vec_id AS neighbor_id, qz.label,
    list_reduce(list_transform(list_zip(qq, q), p -> p[1] * p[2]),
                (x, y) -> x + y)
    / (sqrt(CAST(list_reduce(list_transform(list_zip(qq, qq),
             p -> p[1] * p[2]), (x, y) -> x + y) AS DOUBLE))
       * sqrt(CAST(list_reduce(list_transform(list_zip(q, q),
             p -> p[1] * p[2]), (x, y) -> x + y) AS DOUBLE)))
    AS cosine_sim_q8
  FROM qz JOIN qs ON qz.vec_id != qs.query_id
)
SELECT query_id, neighbor_id, label, cosine_sim_q8, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim_q8 DESC, neighbor_id
  ) AS rank
  FROM scored
) WHERE rank <= 10
""",
        "label_centroid_sim": f"""
WITH ex AS (
  SELECT label,
         unnest(range(0, len(embedding))) AS dim,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings
),
per AS (
  SELECT label, dim, quantile_cont(x, 0.5) AS c
  FROM ex GROUP BY 1, 2
),
cent AS (
  SELECT label, list(c ORDER BY dim) AS centroid FROM per GROUP BY 1
)
SELECT a.label AS label_a, b.label AS label_b,
       {_cos('a.centroid', 'b.centroid')} AS cosine_sim
FROM cent a JOIN cent b ON a.label < b.label
""",
        "embedding_neardup": f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos('a.v', 'b.v')} AS cosine_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT * FROM pairs WHERE cosine_sim >= 0.30
""",
        "sliding_window": """
WITH e AS (
  SELECT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) AS x, value
  FROM events
), w AS (
  SELECT metric, x - (x % 1800) AS ts, value FROM e
  UNION ALL
  SELECT metric, x - (x % 1800) - 1800 AS ts, value FROM e
)
SELECT metric, ts, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sum_value
FROM w GROUP BY 1, 2
""",
        "session_window": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, value FROM events
), o AS (
  SELECT *,
    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
           OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
              >= 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING
  ) AS sid
  FROM o
)
SELECT user_id, CAST(min(t) // 1000000 AS BIGINT) AS session_start,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sum_value
FROM s GROUP BY user_id, sid
""",
        "props_flatten": """
SELECT event_id, user_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
FROM events
""",
        "cap_per_source": """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 10
""",
        "props_extract": """
WITH e AS (
  SELECT event_type AS metric,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT metric, COUNT(k) AS n_with_k, MIN(k) AS min_k, MAX(k) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM e GROUP BY metric
""",
        "contamination": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 3
           THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk) - 1)]
           ELSE [array_to_string(tk, ' ')] END)) AS gram
  FROM tok
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
src AS (SELECT * FROM grams WHERE doc_id % 97 <> 0)
SELECT doc_id, COUNT(DISTINCT src.gram) AS n_contaminated_grams
FROM src JOIN ev USING (gram) GROUP BY doc_id
""",
        "order_analytics": """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice) OVER pc AS prev_price,
       LEAD(o_totalprice) OVER pc AS next_price,
       FIRST_VALUE(o_totalprice) OVER pc AS first_price,
       NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey)
           AS price_quartile
FROM orders
WINDOW pc AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
        "token_counts": """
SELECT doc_id,
       len(string_split(lower(text), ' ')) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
           AS INT) AS n_bpe_tokens
FROM documents
""",
        "multimodal_features": """
SELECT doc_id AS asset_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS content_hash
FROM documents
""",
        "multimodal_resize": """
WITH a AS (
  SELECT doc_id AS asset_id,
         CAST(16 + n_chars % 97 AS INT) AS in_w,
         CAST(16 + (n_chars * 7) % 83 AS INT) AS in_h
  FROM documents WHERE doc_id % 3 = 0
)
SELECT asset_id, in_w, in_h,
  GREATEST(CAST(floor(in_w * least(32.0 / in_w, 32.0 / in_h)) AS INT), 1)
      AS out_w,
  GREATEST(CAST(floor(in_h * least(32.0 / in_w, 32.0 / in_h)) AS INT), 1)
      AS out_h,
  least(32.0 / in_w, 32.0 / in_h) AS scale
FROM a
""",
        "multimodal_frames": """
SELECT doc_id AS asset_id,
       unnest(range(0, greatest(n_chars * 10 - 1, 0) + 1, 1000))
           AS sample_ms
FROM documents WHERE doc_id % 3 = 2
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      / COUNT(l_quantity) AS avg_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      / COUNT(l_extendedprice) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "tpch_q3": """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        "tpch_q5": """
SELECT n_name AS nation,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""",
        "asof_join": """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value,
         event_id, event_type
  FROM events
), l AS (
  SELECT user_id, t AS ts, value FROM ev WHERE event_type = 'click'
), r AS (
  SELECT user_id, t AS ts, arg_max(value, event_id) AS err_value
  FROM ev WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT l.user_id, l.ts, l.value, r.err_value AS error_value_asof
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        "range_band_join": """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 50.0), ('mid', 50.0, 120.0), ('high', 120.0, 250.0)
)
SELECT band, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY 1
""",
        "percentiles": """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.95) AS p95,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
""",
        "cube_orders": """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR)
           AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "intersect_custkeys": """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
""",
        "tpch_q6": """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
        "tpch_q10": """
SELECT c_custkey, c_name, n_name AS nation,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
        "grouping_sets": """
SELECT o_orderstatus, o_orderpriority,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS (
    (o_orderstatus, o_orderpriority), (o_orderstatus), ()
)
""",
        "pivot_status": """
SELECT o_orderstatus,
  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS n_high,
  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS n_medium,
  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS n_low
FROM orders GROUP BY 1
""",
        "anti_join": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
)
""",
        "running_totals": """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS VARCHAR) AS DOUBLE) AS running_total
FROM orders
""",
        "rank_window": """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
             PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey
         ) AS rank
  FROM orders
) WHERE rank <= 3
""",
        "top_parts": """
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part
ORDER BY p_retailprice DESC, p_partkey
LIMIT 25
""",
        "tpch_q4": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 120 DAY
  )
GROUP BY o_orderpriority
""",
        "tpch_q12": """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
        "tpch_q21": """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
po AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
  FROM j GROUP BY 1
),
sole AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM j JOIN po USING (l_orderkey)
  WHERE j.late = 1 AND po.n_supp >= 2 AND po.n_late_supp = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
        # q2/q9/q11/q16/q20 share the deterministic arithmetic
        # partsupp construction (relational.PARTSUPP_SQL) — both
        # engines derive the identical relation, see partsupp_view
        "tpch_q2": f"""
WITH {rel.PARTSUPP_SQL},
dim AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
eu AS (
  SELECT * FROM partsupp
  JOIN (SELECT p_partkey, p_type FROM part
        WHERE p_size = 15) p
    ON ps_partkey = p_partkey
  JOIN dim ON ps_suppkey = s_suppkey
),
mc AS (SELECT p_partkey, MIN(ps_supplycost) AS min_cost
       FROM eu GROUP BY 1)
SELECT s_acctbal, s_name, n_name, eu.p_partkey AS p_partkey,
       p_type, ps_supplycost
FROM eu JOIN mc ON eu.p_partkey = mc.p_partkey
    AND eu.ps_supplycost = mc.min_cost
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
""",
        "tpch_q9": f"""
WITH {rel.PARTSUPP_SQL},
red AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
sn AS (SELECT s_suppkey, n_name
       FROM supplier JOIN nation ON s_nationkey = n_nationkey)
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             - ps_supplycost * l_quantity AS DECIMAL(30,10)))
           AS VARCHAR) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN red ON l_partkey = red.p_partkey
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN sn ON l_suppkey = sn.s_suppkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
        "tpch_q11": f"""
WITH {rel.PARTSUPP_SQL},
nat_supp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
nat_ps AS (
  SELECT ps_partkey, ps_cents * ps_availqty AS cents
  FROM partsupp JOIN nat_supp ON ps_suppkey = s_suppkey
),
per_part AS (
  SELECT ps_partkey, CAST(SUM(cents) AS BIGINT) / 100.0 AS stock_value
  FROM nat_ps GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) / 100.0 AS total FROM nat_ps
)
SELECT ps_partkey, stock_value
FROM per_part CROSS JOIN tot
WHERE stock_value > total * 0.01
ORDER BY stock_value DESC, ps_partkey
""",
        "tpch_q16": f"""
WITH {rel.PARTSUPP_SQL}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 15, 23, 31, 42, 49)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
        "tpch_q20": f"""
WITH {rel.PARTSUPP_SQL},
blue AS (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'),
shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10)))
             AS VARCHAR) AS DOUBLE) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
qualifying AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN blue ON ps_partkey = blue.p_partkey
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE ps_availqty > 0.5 * qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT ps_suppkey FROM qualifying)
ORDER BY s_name
""",
        "tpch_q14": """
SELECT 100.0
  * CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS promo_revenue_pct,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
        "tpch_q18": """
WITH big AS (
  SELECT l_orderkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR)
             AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > 200.0
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "tpch_q19": """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 50)
""",
        "tpch_q22": """
WITH avg_bal AS (
  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS VARCHAR)
             AS DOUBLE) / COUNT(c_acctbal) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS VARCHAR)
           AS DOUBLE) AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  )
GROUP BY c_mktsegment
""",
        "tpch_q7": """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(CAST(volume AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY 1, 2, 3
""",
        "tpch_q8": """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
  CAST(CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_1'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS mkt_share,
  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA'
  AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
        "tpch_q13": """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (
    SELECT o_custkey, o_orderkey FROM orders
    WHERE o_orderpriority <> '1-URGENT'
  ) o ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
""",
        "tpch_q15": """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)))
             AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE rev = (SELECT MAX(rev) FROM revenue)
""",
        "tpch_q17": """
WITH pl AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#12' AND p_type = 'SMALL'
),
avgq AS (
  SELECT l_partkey AS pk,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR)
             AS DOUBLE) / COUNT(l_quantity) AS avg_qty
  FROM pl GROUP BY 1
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR)
           AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM pl JOIN avgq ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
""",
        "except_custkeys": """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
""",
        "bucketed_series_windows": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  value - lag(value) OVER w AS derivative,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
      PARTITION BY metric ORDER BY ts
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
    / COUNT(value) OVER (PARTITION BY metric ORDER BY ts
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
      PARTITION BY metric ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_integral
FROM b WINDOW w AS (PARTITION BY metric ORDER BY ts)
""",
        "series_functions": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  value - lag(value) OVER w AS derivative,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
      PARTITION BY metric ORDER BY ts
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
    / COUNT(value) OVER (PARTITION BY metric ORDER BY ts
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
      PARTITION BY metric ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_integral
FROM b WINDOW w AS (PARTITION BY metric ORDER BY ts)
""",
        "range_frame_sum": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
      PARTITION BY metric ORDER BY ts
      RANGE BETWEEN 10800 PRECEDING AND CURRENT ROW) AS VARCHAR)
      AS DOUBLE) AS trailing_3h_sum,
  COUNT(value) OVER (
      PARTITION BY metric ORDER BY ts
      RANGE BETWEEN 10800 PRECEDING AND CURRENT ROW) AS trailing_3h_n
FROM b
""",
        "anomaly_zscore": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value
  FROM deduped GROUP BY 1, 2
),
stats AS (
  SELECT metric,
    CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
        / COUNT(value) AS _mean,
    CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR)
        AS DOUBLE) / COUNT(value) AS _ex2
  FROM b GROUP BY metric
)
SELECT metric, ts, value,
       (value - _mean) / sqrt(_ex2 - _mean * _mean) AS zscore
FROM b JOIN stats USING (metric)
WHERE abs((value - _mean) / sqrt(_ex2 - _mean * _mean)) >= 2.0
""",
        "cusum_changepoints": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value
  FROM deduped GROUP BY 1, 2
),
stats AS (
  SELECT metric,
    CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
        / COUNT(value) AS _mean
  FROM b GROUP BY metric
),
runs AS (
  SELECT metric, ts, value,
    CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER (
        PARTITION BY metric ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS VARCHAR) AS DOUBLE) AS _rsum,
    CAST(COUNT(value) OVER (
        PARTITION BY metric ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS DOUBLE) AS _rn
  FROM b
)
SELECT metric, ts, value,
       _rsum - _rn * _mean AS cusum,
       abs(_rsum - _rn * _mean) >= 50.0 AS is_changepoint
FROM runs JOIN stats USING (metric)
""",
        "forward_fill": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {t1}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {t1}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
)
SELECT metric, ts, value,
       last_value(value IGNORE NULLS) OVER (
           PARTITION BY metric ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM dense
""",
        # graphite derivative (None-poisoned delta) + integral
        # (None-skipping decimal running total, None slots emit None)
        "derivative_integral": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {T0 + DAY}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {T0 + DAY}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
)
SELECT metric, ts, value,
       value - lag(value) OVER w AS derivative,
       CASE WHEN value IS NOT NULL THEN
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
                   OVER (PARTITION BY metric ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
       END AS integral
FROM dense
WINDOW w AS (PARTITION BY metric ORDER BY ts)
""",
        # transformNull(0) + keepLastValue(limit=2): whole-run fill
        # iff run length <= limit; leading Nones have no anchor
        "null_gap_fill": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {T0 + DAY}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {T0 + DAY}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
),
grouped AS (
  SELECT metric, ts, value,
         count(value) OVER (PARTITION BY metric ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS _grp
  FROM dense
)
SELECT metric, ts, value,
       coalesce(value, 0.0) AS null_as_default,
       CASE WHEN value IS NOT NULL THEN value
            WHEN count(*) OVER wg - 1 <= 2 THEN max(value) OVER wg
       END AS kept_last
FROM grouped
WINDOW wg AS (PARTITION BY metric, _grp)
""",
        # grep / exclude / aliasByNode(2) / aliasSub over in-plan
        # dotted paths (DuckDB string_split is 1-indexed: node 2 of
        # the 0-indexed spark split = element 3)
        "name_functions": f"""
WITH {POINTS_CTE},
names AS (
  SELECT DISTINCT metric, 'prod.events.' || metric AS path
  FROM points
)
SELECT metric, path,
  CAST(regexp_matches(path,
       '^prod\\.events\\.(click|view)$') AS INTEGER) AS grep_keep,
  CAST(NOT regexp_matches(path, 'error') AS INTEGER) AS exclude_keep,
  string_split(path, '.')[3] AS alias_by_node,
  regexp_replace(path, '^prod\\.', 'stage.') AS alias_sub
FROM names
""",
        # interpolate(limit=3): linear fill of interior gap runs <=
        # limit by slot position; identical IEEE expression tree on
        # both engines (sub, div, mul, add)
        "interpolate_gaps": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {T0 + DAY}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {T0 + DAY}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
),
grouped AS (
  SELECT metric, ts, value,
         count(value) OVER (PARTITION BY metric ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS _grp,
         first_value(value IGNORE NULLS) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS _next
  FROM dense
)
SELECT metric, ts, value,
       CASE
         WHEN value IS NOT NULL THEN value
         WHEN count(*) OVER wg - 1 <= 3
              AND max(value) OVER wg IS NOT NULL
              AND _next IS NOT NULL
         THEN max(value) OVER wg
              + (_next - max(value) OVER wg)
                * (CAST(row_number() OVER wgo - 1 AS DOUBLE)
                   / (CAST(count(*) OVER wg - 1 AS DOUBLE) + 1.0))
       END AS interpolated
FROM grouped
WINDOW wg AS (PARTITION BY metric, _grp),
       wgo AS (PARTITION BY metric, _grp ORDER BY ts)
""",
        # removeBetweenPercentile(80): cross-series [p20, p80] band
        # per slot (integer _getPercentile ranks), keep escapers
        "remove_between_percentile": f"""
WITH {POINTS_CTE},
lww AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
deduped AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM lww GROUP BY 1, 2
),
ranked AS (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY ts ORDER BY value) AS _rn,
         count(*) OVER (PARTITION BY ts) AS _cnt
  FROM deduped
),
bands AS (
  SELECT ts,
    max(CASE WHEN _rn = greatest(1, least(_cnt,
        (20 * (_cnt + 1) + 99) // 100)) THEN value END) AS _lo,
    max(CASE WHEN _rn = greatest(1, least(_cnt,
        (80 * (_cnt + 1) + 99) // 100)) THEN value END) AS _hi
  FROM ranked GROUP BY ts
),
keepers AS (
  SELECT metric,
         CAST(sum(CAST(value <= _lo OR value >= _hi AS INTEGER))
              AS BIGINT) AS escapes
  FROM deduped JOIN bands USING (ts)
  GROUP BY metric
  HAVING escapes > 0
)
SELECT d.metric, d.ts, d.value, k.escapes
FROM deduped d JOIN keepers k ON d.metric = k.metric
""",
        # offset/scale (single IEEE ops, binary-exact dials) +
        # aggregateLine avg/min/max as per-series constant columns
        "scalar_transforms": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts, value,
       value + 10.0 AS offset_value,
       value * 1.5 AS scaled_value,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
                 OVER w AS VARCHAR) AS DOUBLE)
         / count(*) OVER w AS line_avg,
       min(value) OVER w AS line_min,
       max(value) OVER w AS line_max
FROM deduped
WINDOW w AS (PARTITION BY metric)
""",
        # smartSummarize: calendar-day anchor + 7h buckets; anchor
        # emitted so the truncation derivation is in the hash
        "smart_summarize": f"""
WITH {POINTS_CTE},
lww AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points
  WHERE value IS NOT NULL
    AND ts >= {T0 + 18000} AND ts < {T0 + 3 * DAY}
  GROUP BY 1, 2
),
b AS (SELECT MIN(ts) - (MIN(ts) % 86400) AS anchor FROM lww)
SELECT metric,
       anchor + ((ts - anchor) // 25200) * 25200 AS ts,
       {DEC_AVG} AS value,
       CAST(COUNT(value) AS BIGINT) AS n_points,
       anchor
FROM lww CROSS JOIN b
GROUP BY metric, 2, anchor
""",
        # sum/averageSeriesWithWildcards(0) over the per-DC replica
        # panel: the oracle rebuilds the stripped name from its
        # construction (the Spark side does real split/slice surgery)
        "series_with_wildcards": f"""
WITH ev AS (
  SELECT event_type AS name, user_id % 2 AS dc,
         CAST(floor(epoch(ts)) AS BIGINT) AS x, value
  FROM events
),
s AS (
  SELECT dc, name, x - (x % 3600) AS ts, {DEC_AVG} AS value
  FROM ev GROUP BY 1, 2, 3
)
SELECT name || '.requests' AS name, ts,
       CAST(COUNT(value) AS BIGINT) AS n_series,
       {DEC_SUM} AS sum_wild,
       {DEC_AVG} AS avg_wild
FROM s GROUP BY 1, 2
""",
        # divideSeriesLists: dc0/dc1 matched on stripped name; NULL
        # on missing-or-zero divisor
        "divide_series_lists": f"""
WITH ev AS (
  SELECT event_type AS name, user_id % 2 AS dc,
         CAST(floor(epoch(ts)) AS BIGINT) AS x, value
  FROM events
),
s AS (
  SELECT dc, name, x - (x % 3600) AS ts, {DEC_AVG} AS value
  FROM ev GROUP BY 1, 2, 3
),
p AS (
  SELECT name || '.requests' AS name, ts,
         MAX(CASE WHEN dc = 0 THEN value END) AS dividend,
         MAX(CASE WHEN dc = 1 THEN value END) AS divisor
  FROM s GROUP BY 1, 2
)
SELECT name, ts, dividend, divisor,
       CASE WHEN divisor IS NOT NULL AND divisor <> 0.0
            THEN dividend / divisor END AS quotient
FROM p
""",
        # removeEmptySeries over the dense day-1 fetch + a planted
        # zero-point metric; exact integer coverage ppm
        "remove_empty_series": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {T0 + DAY}
  GROUP BY 1, 2
),
mets AS (
  SELECT DISTINCT metric FROM points
  UNION ALL SELECT 'nodata'
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM mets m CROSS JOIN range({T0}, {T0 + DAY}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
),
stats AS (
  SELECT metric,
         CAST(COUNT(*) AS BIGINT) AS n_slots,
         CAST(COUNT(value) AS BIGINT) AS n_nonnull
  FROM dense GROUP BY 1
)
SELECT metric, n_slots, n_nonnull,
       n_nonnull * 1000000 // n_slots AS nonnull_ppm,
       CAST(n_nonnull > 0 AS INTEGER) AS keep_any,
       CAST(n_nonnull * 1000000 // n_slots >= 950000 AS INTEGER)
         AS keep_xff
FROM stats
""",
        # groupByNodes(0, 2): keep (dc, leaf), host aggregated away;
        # the oracle rebuilds the kept name from split_part
        "group_by_nodes": f"""
WITH p2 AS (
  SELECT 'dc' || CAST(user_id % 2 AS VARCHAR)
           || '.srv' || CAST(user_id % 4 AS VARCHAR)
           || '.' || event_type AS metric,
         x - (x % 60) AS ts, value, event_id AS arrival_seq
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS x FROM events)
),
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM p2 WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT split_part(metric, '.', 1) || '.' || split_part(metric, '.', 3)
         AS name,
       ts, {DEC_SUM} AS value,
       CAST(COUNT(value) AS BIGINT) AS n_series
FROM b GROUP BY 1, 2
""",
        # applyByNode divide template: per-srv click/view ratio; NULL
        # on missing-or-zero denominator (graphite safeDiv)
        "apply_by_node": f"""
WITH ev AS (
  SELECT 'srv' || CAST(user_id % 4 AS VARCHAR) AS pre,
         event_type AS typ,
         CAST(floor(epoch(ts)) AS BIGINT) AS x, value
  FROM events
),
s AS (
  SELECT pre, typ, x - (x % 3600) AS ts, {DEC_AVG} AS value
  FROM ev GROUP BY 1, 2, 3
),
p AS (
  SELECT pre AS name, ts,
         MAX(CASE WHEN typ = 'click' THEN value END) AS numerator,
         MAX(CASE WHEN typ = 'view' THEN value END) AS denominator
  FROM s GROUP BY 1, 2
)
SELECT name, ts, numerator, denominator,
       CASE WHEN denominator IS NOT NULL AND denominator <> 0.0
            THEN numerator / denominator END AS quotient
FROM p
""",
        # useSeriesAbove: max-gate the cap.* raw panel at 480, regex
        # rewrite to act.*, fetch the rewritten series ('g' matches
        # Spark regexp_replace / re.sub replace-all)
        "use_series_above": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
panel AS (
  SELECT 'cap.' || metric AS metric, ts, value FROM deduped
  UNION ALL
  SELECT 'act.' || metric AS metric, ts - (ts % 3600) AS ts,
         {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
gated AS (
  SELECT DISTINCT
         regexp_replace(metric, '^cap\\.', 'act.', 'g') AS metric
  FROM (SELECT metric, MAX(value) AS mx FROM panel GROUP BY 1)
  WHERE mx > 480.0
)
SELECT panel.metric, ts, value FROM panel JOIN gated USING (metric)
""",
        # fallbackSeries list-gate + isNonNull + limit(3) over the
        # dense day-1 fetch; the 'zzz*' primary matches nothing so the
        # fallback arm fires; empty hours give isNonNull a zero arm
        "fallback_series": f"""
WITH {POINTS_CTE},
agg AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM points WHERE ts >= {T0} AND ts < {T0 + DAY}
  GROUP BY 1, 2
),
grid AS (
  SELECT m.metric, r.range AS ts
  FROM (SELECT DISTINCT metric FROM points) m
  CROSS JOIN range({T0}, {T0 + DAY}, 3600) r
),
dense AS (
  SELECT grid.metric, grid.ts, agg.value
  FROM grid LEFT JOIN agg USING (metric, ts)
),
p AS (SELECT * FROM dense WHERE metric LIKE 'zzz%'),
cnt AS (SELECT COUNT(*) AS n FROM p),
chosen AS (
  SELECT metric, ts, value, 'primary' AS src
  FROM p CROSS JOIN cnt WHERE n > 0
  UNION ALL
  SELECT metric, ts, value, 'fallback' AS src
  FROM dense CROSS JOIN cnt WHERE n = 0
),
ranked AS (
  SELECT metric, row_number() OVER (ORDER BY metric) AS rk
  FROM (SELECT DISTINCT metric FROM chosen)
)
SELECT c.metric, ts, value, src,
       CAST(value IS NOT NULL AS INTEGER) AS is_non_null,
       CAST(rk <= 3 AS INTEGER) AS keep_limit
FROM chosen c JOIN ranked USING (metric)
""",
        # offsetToZero + delay(1): exact per-series min rebase + lag
        "offset_to_zero": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
h AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
       value - MIN(value) OVER (PARTITION BY metric)
         AS offset_to_zero,
       lag(value, 1) OVER (PARTITION BY metric ORDER BY ts)
         AS delayed
FROM h
""",
        # exponentialMovingAverage window-points dial: decimal seed
        # over the first 4 slots, IEEE recursion replayed one slot
        # late (the graphite append loop), constants string-routed
        "ema_window": f"""
WITH RECURSIVE {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
h AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
v AS MATERIALIZED (
  SELECT metric, ts, value,
         row_number() OVER (PARTITION BY metric ORDER BY ts) AS i
  FROM h
),
seed AS (
  SELECT metric, {DEC_AVG} AS s FROM v WHERE i <= 4 GROUP BY metric
),
rec AS (
  -- seed slot: graphite's `safeAvg(window) or 0` is appended
  -- UNCONDITIONALLY, so an all-None window emits 0.0, not NULL
  -- (ADVICE r11) — ema and state coalesce identically
  SELECT v.metric, v.i, v.ts, v.value,
         CAST(COALESCE(seed.s, 0.0) AS DOUBLE) AS ema,
         CAST(COALESCE(seed.s, 0.0) AS DOUBLE) AS state
  FROM v JOIN seed USING (metric) WHERE v.i = 5
  UNION ALL
  SELECT vn.metric, vn.i, vn.ts, vn.value,
         CASE WHEN rec.value IS NULL THEN NULL
              ELSE CAST('0.4' AS DOUBLE) * rec.value
                   + CAST('0.6' AS DOUBLE) * rec.state END,
         CASE WHEN rec.value IS NULL THEN rec.state
              ELSE CAST('0.4' AS DOUBLE) * rec.value
                   + CAST('0.6' AS DOUBLE) * rec.state END
  FROM rec JOIN v vn ON vn.metric = rec.metric AND vn.i = rec.i + 1
)
SELECT metric, ts, value, ema FROM rec
""",
        # r12 render front door: alias(sumSeries(scale({click,view},2)))
        # — the composed plan's brace-expanded fetch + ×2 scale +
        # decimal-exact per-slot sum + alias, replayed in SQL (the
        # derived double 2v goes through the string route on both
        # engines, the series_linreg rule)
        "render_target": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT 'weighted_engagement' AS metric, ts,
       CAST(CAST(SUM(CAST(CAST(value * 2 AS VARCHAR)
            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS value
FROM deduped WHERE metric IN ('click', 'view')
GROUP BY ts
""",
        # r12 render front door, panel shape: limit(sortByMaxima(
        # summarize(*,"1h","max")),3) — hourly max re-bucket with the
        # graphite name rewrite, rank by series max (ties by name,
        # the sort_by_extrema total order), top-3 semi-join
        "render_panel": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
hourly AS (
  SELECT 'summarize(prod.events.' || metric || ',"1h","max")'
           AS metric,
         ts - (ts % 3600) AS ts,
         max(value) AS value
  FROM deduped GROUP BY 1, 2
),
ranked AS (
  SELECT metric,
         row_number() OVER (ORDER BY max(value) DESC, metric) AS _r
  FROM hourly GROUP BY metric
)
SELECT h.metric, h.ts, h.value
FROM hourly h JOIN ranked r USING (metric)
WHERE r._r <= 3
""",
        # r12 render front door, windowed shape: aliasByNode(
        # movingAverage(prod.events.*,5),2) — trailing 5-point decimal
        # moving average per series (the series_functions recipe), the
        # aliasByNode extract recovering the original path from the
        # movingAverage(...) name rewrite, node 2 = the flat metric
        "render_window": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT metric, ts,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)))
              OVER w AS VARCHAR) AS DOUBLE)
         / COUNT(value) OVER w AS value
FROM deduped
WINDOW w AS (PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        # r12 wave-8 composition glue: aggregate(group(grep,grep),
        # "sum") — two regex selections union'd, the umbrella's sum
        # arm, the delegated combinator's canonical name
        "render_compose": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT 'sumSeries(group(grep(prod.events.*,"click"),'
       || 'grep(prod.events.*,"view")))' AS metric, ts,
       {DEC_SUM} AS value
FROM deduped WHERE metric IN ('click', 'view')
GROUP BY ts
""",
        # r12 wave-8 weightedAverage self-pairing on node 2: Σ(v·v)/Σv
        # per slot, products through the string-routed decimal sum
        "render_weighted": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT 'weightedAverage(prod.events.*,prod.events.*,2)' AS metric, ts,
       CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR)
            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS value
FROM deduped GROUP BY ts
""",
        # r12 wave-8 linearRegression: the series_linreg closed form
        # (constant-rebased decimal sums) re-expanded per slot with
        # the adapter's exact IEEE tree: fit_end + (sph/3600)·Δt
        "render_linreg": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
p AS (
  SELECT 'prod.events.' || metric AS metric, ts, value FROM deduped
),
s AS (
  SELECT metric, COUNT(*) AS n_points,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))) AS st,
         SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(20,10))) AS sv,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))
             * CAST(CAST(value AS VARCHAR) AS DECIMAL(20,10))) AS stv,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))
             * CAST(ts - 1700000000 AS DECIMAL(9,0))) AS stt,
         MAX(ts - 1700000000) AS t_end
  FROM p WHERE value IS NOT NULL GROUP BY 1
),
d AS (
  SELECT metric, n_points, t_end,
         CAST(n_points AS DOUBLE) AS nd,
         CAST(CAST(st AS VARCHAR) AS DOUBLE) AS std,
         CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS svd,
         CAST(CAST(stv AS VARCHAR) AS DOUBLE) AS stvd,
         CAST(CAST(stt AS VARCHAR) AS DOUBLE) AS sttd
  FROM s
),
e AS (
  SELECT *, CASE WHEN (nd*sttd - std*std) <> 0.0
                 THEN (nd*stvd - std*svd) / (nd*sttd - std*std)
            END AS slope
  FROM d
),
f AS (
  SELECT metric, t_end,
         slope * 3600.0 AS sph,
         ((svd - slope*std) / nd) + slope * t_end AS fit_end
  FROM e
)
SELECT 'linearRegression(' || p.metric || ')' AS metric, p.ts,
       fit_end + (sph / 3600.0)
         * CAST(p.ts - 1700000000 - t_end AS DOUBLE) AS value
FROM p JOIN f ON p.metric = f.metric
""",
        # name family II: substr node slice + aliasByMetric + alias
        "name_functions_2": f"""
WITH {POINTS_CTE},
mets AS (SELECT DISTINCT metric FROM points)
SELECT metric,
       'prod.events.' || metric AS path,
       'events.' || metric AS substr_name,
       metric AS alias_by_metric,
       'renamed' AS alias_name
FROM mets
""",
        # averageOutsidePercentile(65): integer rank band across the
        # decimal-exact per-series averages, keep escapers
        "average_outside_percentile": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
avgs AS (
  SELECT metric,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / count(*) AS avg_value
  FROM deduped GROUP BY metric
),
ranked AS (
  SELECT metric, avg_value,
         row_number() OVER (ORDER BY avg_value, metric) AS _rn,
         count(*) OVER () AS _cnt
  FROM avgs
),
bounds AS (
  SELECT
    max(CASE WHEN _rn = greatest(1, least(_cnt,
        (35 * (_cnt + 1) + 99) // 100)) THEN avg_value END) AS _lo,
    max(CASE WHEN _rn = greatest(1, least(_cnt,
        (65 * (_cnt + 1) + 99) // 100)) THEN avg_value END) AS _hi
  FROM ranked
),
keepers AS (
  SELECT metric, avg_value, _lo AS band_lo, _hi AS band_hi
  FROM avgs CROSS JOIN bounds
  WHERE avg_value <= _lo OR avg_value >= _hi
)
SELECT d.metric, d.ts, d.value, k.avg_value, k.band_lo, k.band_hi
FROM deduped d JOIN keepers k ON d.metric = k.metric
""",
        # divideSeries(click, view): None on missing/zero divisor
        "divide_series": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
pivoted AS (
  SELECT ts,
         max(CASE WHEN metric = 'click' THEN value END) AS dividend,
         max(CASE WHEN metric = 'view' THEN value END) AS divisor
  FROM deduped GROUP BY ts
)
SELECT ts, dividend, divisor,
       CASE WHEN divisor IS NOT NULL AND divisor <> 0.0
            THEN dividend / divisor END AS quotient
FROM pivoted
""",
        # sortByName + sortByTotal ranks off one decimal-exact panel
        "series_orderings": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT metric,
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS total,
         CAST(count(*) AS BIGINT) AS n_points
  FROM deduped GROUP BY metric
)
SELECT metric, total, n_points,
       total / n_points AS avg_value,
       CAST(row_number() OVER (ORDER BY metric) AS INTEGER)
         AS rank_by_name,
       CAST(row_number() OVER (ORDER BY total DESC, metric)
         AS INTEGER) AS rank_by_total,
       CAST(row_number() OVER (ORDER BY total / n_points DESC, metric)
         AS INTEGER) AS rank_by_avg
FROM totals
""",
        "per_second_rate": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  CASE WHEN value - lag(value) OVER w >= 0
       THEN (value - lag(value) OVER w) / (ts - lag(ts) OVER w)
  END AS per_second
FROM b WINDOW w AS (PARTITION BY metric ORDER BY ts)
""",
        "winsorize": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
bands AS (
  SELECT metric, quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM b GROUP BY 1
)
SELECT metric, ts, value,
       least(greatest(value, lo), hi) AS clipped
FROM b JOIN bands USING (metric)
""",
        "group_by_node": f"""
WITH p2 AS (
  SELECT 'srv' || CAST(user_id % 4 AS VARCHAR) || '.' || event_type
             AS metric,
         x - (x % 60) AS ts, value, event_id AS arrival_seq
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS x FROM events)
),
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM p2 WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT split_part(metric, '.', 2) AS node, ts, {DEC_SUM} AS value
FROM b GROUP BY 1, 2
""",
        "frequent_items": """
SELECT event_type AS item,
       COUNT(*) AS count_min, COUNT(*) AS count_max
FROM events GROUP BY 1
ORDER BY count_max DESC, item
LIMIT 10
""",
        "series_transform": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT ts,
       COUNT(value) AS count_series,
       MAX(value) - MIN(value) AS range_of_series,
       CAST(CAST(SUM(CAST(CAST(COALESCE(value * 2.0 + 10.0, 0.0)
            AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) / COUNT(*)
         AS avg_transformed
FROM b GROUP BY ts
ORDER BY ts
""",
        "series_linreg": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
s AS (
  SELECT metric, COUNT(*) AS n_points,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))) AS st,
         SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(20,10))) AS sv,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))
             * CAST(CAST(value AS VARCHAR) AS DECIMAL(20,10))) AS stv,
         SUM(CAST(ts - 1700000000 AS DECIMAL(9,0))
             * CAST(ts - 1700000000 AS DECIMAL(9,0))) AS stt,
         MAX(ts - 1700000000) AS t_end
  FROM b WHERE value IS NOT NULL GROUP BY 1
),
d AS (
  SELECT metric, n_points, t_end,
         CAST(n_points AS DOUBLE) AS nd,
         CAST(CAST(st AS VARCHAR) AS DOUBLE) AS std,
         CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS svd,
         CAST(CAST(stv AS VARCHAR) AS DOUBLE) AS stvd,
         CAST(CAST(stt AS VARCHAR) AS DOUBLE) AS sttd
  FROM s
),
e AS (
  SELECT *, CASE WHEN (nd*sttd - std*std) <> 0.0
                 THEN (nd*stvd - std*svd) / (nd*sttd - std*std)
            END AS slope
  FROM d
)
SELECT metric, n_points,
       slope * 3600.0 AS slope_per_hour,
       ((svd - slope*std) / nd) + slope * t_end AS fit_end
FROM e
""",
        "moving_stddev": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  sqrt(greatest(
    CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR) AS DECIMAL(30,10))) OVER w
        AS VARCHAR) AS DOUBLE) / COUNT(value) OVER w
    - (CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER w
        AS VARCHAR) AS DOUBLE) / COUNT(value) OVER w)
      * (CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) OVER w
        AS VARCHAR) AS DOUBLE) / COUNT(value) OVER w)
  , 0.0)) AS moving_stddev
FROM b WINDOW w AS (
  PARTITION BY metric ORDER BY ts
  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "series_arithmetic": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT ts,
  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
      AS sum_all,
  CAST(CAST(SUM(CAST(CASE WHEN metric = 'click' THEN value END
      AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
  - CAST(CAST(SUM(CAST(CASE WHEN metric = 'view' THEN value END
      AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS click_minus_view
FROM b GROUP BY 1
""",
        "salted_join": """
WITH w(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
         ('signup', 5.0), ('error', 0.0)
)
SELECT event_type, COUNT(*) AS n_events,
  CAST(CAST(SUM(CAST(value * CAST(weight AS DOUBLE) AS DECIMAL(30,10)))
      AS VARCHAR) AS DOUBLE) AS weighted_sum
FROM events JOIN w USING (event_type)
GROUP BY 1
""",
        "table_profile": """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(value) AS value_nulls,
       COUNT(DISTINCT event_type) AS n_event_types,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(value) AS min_value, MAX(value) AS max_value,
       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts,
       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts
FROM events
""",
        "melt_stats": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
wide AS (
  SELECT metric, {DEC_AVG} AS a, {DEC_SUM} AS s,
         MAX(value) AS mx, MIN(value) AS mn
  FROM deduped GROUP BY 1
)
SELECT metric, 'avg' AS stat, a AS value FROM wide
UNION ALL SELECT metric, 'sum', s FROM wide
UNION ALL SELECT metric, 'max', mx FROM wide
UNION ALL SELECT metric, 'min', mn FROM wide
""",
        "moving_median": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, value,
  quantile_cont(value, 0.5) OVER (
      PARTITION BY metric ORDER BY ts
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_median
FROM b
""",
        "slice_runs": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
m AS (
  SELECT metric, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts) > 4800
         THEN 1 ELSE 0 END AS nr
  FROM deduped
),
n AS (
  SELECT metric, ts,
    CAST(SUM(nr) OVER (PARTITION BY metric ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS run_id
  FROM m
)
SELECT metric, run_id, MIN(ts) AS run_start, MAX(ts) AS run_end,
       COUNT(*) AS n_points
FROM n GROUP BY 1, 2
""",
        "as_percent": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
),
totals AS (
  SELECT ts, {DEC_SUM} AS total FROM b GROUP BY 1
)
SELECT metric, b.ts AS ts, value, 100.0 * value / total AS pct
FROM b JOIN totals USING (ts)
""",
        "top_series": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, arg_max(value, ts) AS current_value,
       MAX(ts) AS current_ts
FROM b WHERE value IS NOT NULL
GROUP BY 1
ORDER BY current_value DESC, metric
LIMIT 3
""",
        "time_shift_join": f"""
WITH {POINTS_CTE},
deduped AS (
  SELECT metric, ts, arg_max(value, arrival_seq) AS value
  FROM points WHERE value IS NOT NULL GROUP BY 1, 2
),
b AS (
  SELECT metric, ts - (ts % 3600) AS ts, {DEC_AVG} AS value
  FROM deduped GROUP BY 1, 2
)
SELECT metric, ts, b.value AS value, p.value AS value_prev,
       b.value - p.value AS delta
FROM b JOIN (SELECT metric, ts + 3600 AS ts, value FROM b) p
  USING (metric, ts)
""",
        "histogram_quantiles": """
WITH e AS (SELECT event_type AS metric, value FROM events),
hist AS (
  SELECT metric, CAST(floor(value / 1.0) AS BIGINT) AS bin,
         COUNT(*) AS bin_count
  FROM e GROUP BY 1, 2
),
cum AS (
  SELECT metric, bin, bin_count,
         SUM(bin_count) OVER (PARTITION BY metric ORDER BY bin
             ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(bin_count) OVER (PARTITION BY metric) AS n
  FROM hist
)
SELECT metric,
  (MIN(CASE WHEN cum * 1.0 >= 0.5 * n THEN bin END) + 1) * 1.0 AS p50_est,
  (MIN(CASE WHEN cum * 1.0 >= 0.95 * n THEN bin END) + 1) * 1.0 AS p95_est,
  CAST(MAX(n) AS BIGINT) AS n_points
FROM cum GROUP BY metric
""",
        "stratified_split": """
WITH h AS (
  SELECT doc_id, lang,
         substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 1)
             AS hc
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN hc <= 'b' THEN 'train'
            WHEN hc <= 'd' THEN 'val'
            ELSE 'test' END AS split
FROM h
""",
        "vocab_top_n": """
SELECT token, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 100
""",
        "dedup_materialize": """
WITH RECURSIVE d AS (
  SELECT doc_id, source,
         list_distinct(string_split(lower(text), ' ')) AS g
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.g, b.g))
          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
        >= 0.8
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(t)) AS component FROM reach GROUP BY s
),
lab AS (
  SELECT doc_id, COALESCE(component, doc_id) AS component
  FROM documents LEFT JOIN comp ON doc_id = comp.node
),
q AS (
  SELECT doc_id,
         (CASE WHEN n >= 20 THEN 1.0 ELSE n / 20.0 END
          * (nd / n + nl / n)) / 2.0 AS quality
  FROM (
    SELECT doc_id,
           len(string_split(lower(text), ' ')) AS n,
           len(list_distinct(string_split(lower(text), ' '))) AS nd,
           len(list_filter(string_split(lower(text), ' '),
                           x -> length(x) >= 4)) AS nl
    FROM documents
  )
)
SELECT lab.doc_id, component, quality,
       row_number() OVER (
         PARTITION BY component ORDER BY quality DESC, lab.doc_id
       ) = 1 AS is_kept
FROM lab JOIN q ON lab.doc_id = q.doc_id
""",
        "weighted_sample": """
WITH d AS (
  SELECT doc_id, source,
         len(list_distinct(string_split(lower(text), ' '))) * 1.0
           / len(string_split(lower(text), ' ')) AS keep_prob,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS draw
  FROM documents
)
SELECT doc_id, source, keep_prob, draw
FROM d WHERE draw < keep_prob
""",
        "corpus_filter_gate": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
rep AS (
  SELECT t.doc_id,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         CASE WHEN len(tk) >= 2 THEN
           1.0 - len(list_distinct([tk[i] || ' ' || tk[i+1]
                                    for i in range(1, len(tk))]))
                 * 1.0 / (len(tk) - 1)
         END AS dup_bigram_frac
  FROM tok t
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 8
           THEN [array_to_string(tk[i:i+7], ' ')
                 for i in range(1, len(tk) - 6)]
           ELSE [array_to_string(tk, ' ')] END)) AS gram
  FROM tok
),
pg AS (SELECT gram, COUNT(*) AS nd FROM grams GROUP BY 1),
spans AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS dup_ratio
  FROM grams JOIN pg USING (gram) GROUP BY doc_id
)
SELECT rep.doc_id, n_tokens,
       n_tokens < 20 AS flag_short,
       COALESCE(dup_bigram_frac > 0.06, FALSE) AS flag_repetitive,
       dup_ratio > 0.5 AS flag_boilerplate,
       NOT (n_tokens < 20 OR COALESCE(dup_bigram_frac > 0.06, FALSE)
            OR dup_ratio > 0.5) AS keep
FROM rep JOIN spans ON rep.doc_id = spans.doc_id
""",
        "span_dup_ratio": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 8
           THEN [array_to_string(tk[i:i+7], ' ')
                 for i in range(1, len(tk) - 6)]
           ELSE [array_to_string(tk, ' ')] END)) AS gram
  FROM tok
),
pg AS (SELECT gram, COUNT(*) AS nd FROM grams GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS dup_ratio
FROM grams JOIN pg USING (gram)
GROUP BY doc_id
""",
        # triangle closure over the SQL-derived near-dup edge set:
        # same canonical a<b edges, wedge join + (a,c) probe, per-node
        # UNION ALL count — exact integers
        "neardup_triangles": """
WITH d AS (
  SELECT doc_id, source,
         list_distinct(string_split(lower(text), ' ')) AS g
  FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.g, b.g))
           / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
           AS jaccard_sim
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard_sim >= 0.8
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY 1
""",
        # pairwise KMV overlap: same hash + k-min construction; the
        # union sketch is the k smallest of the merged per-group
        # sketches, membership against the per-group k-mins is exact
        # for union-sketch members, and the two double ops (divide,
        # multiply) run in the same order both sides
        "kmv_overlap_users": """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(md5_number_lower(CAST(user_id AS VARCHAR))
              & 2147483647 AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (
  SELECT event_type, list(hv ORDER BY hv) AS kmin
  FROM rk WHERE rn <= 64 GROUP BY 1
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.kmin AS ka, b.kmin AS kb,
         list_sort(list_distinct(a.kmin || b.kmin)) AS u
  FROM sk a JOIN sk b ON a.event_type < b.event_type
),
q AS (
  SELECT type_a, type_b, ka, kb, u,
         LEAST(64, len(u)) AS m,
         CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
              ELSE 63.0 * 2147483648 / u[64] END AS est_union
  FROM p
),
r AS (
  SELECT type_a, type_b, est_union,
         CAST(len(list_intersect(list_intersect(u[1:m], ka), kb))
              AS DOUBLE) / m AS jaccard_est
  FROM q
)
SELECT type_a, type_b, est_union, jaccard_est,
       jaccard_est * est_union AS est_intersection
FROM r
""",
        # replay twin of kmv_distinct_users: the batch sketch SQL plus
        # the per-group arrival count — the streaming entry's final
        # emission must reproduce BOTH exactly (sketch mergeability
        # through the state store)
        "stream_kmv": """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(md5_number_lower(CAST(user_id AS VARCHAR))
              & 2147483647 AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN rn <= 64 THEN 1 END) AS n_tracked,
         MAX(CASE WHEN rn = 64 THEN hv END) AS hk
  FROM rk GROUP BY 1
),
tot AS (
  SELECT event_type, COUNT(*) AS rows_seen
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(rows_seen AS BIGINT) AS rows_seen,
       CAST(n_tracked AS BIGINT) AS n_tracked,
       CASE WHEN n_tracked < 64 THEN CAST(n_tracked AS DOUBLE)
            ELSE 63.0 * 2147483648 / hk END AS est_distinct
FROM agg JOIN tot USING (event_type)
""",
        # MP4 manifest oracle: recomputes the ENTIRE container
        # manifest from documents arithmetic alone — fixture mux
        # parameters are pure functions of (doc_id, n_chars), and the
        # keyframe byte offsets are the cumulative-sum walk the
        # parser must reproduce from the stsc×stco×stsz tables
        # (data starts at 32 = 24-byte ftyp + 8-byte mdat header)
        "video_manifest": """
WITH vid AS (
  SELECT doc_id, n_chars AS c,
         2 + n_chars % 5 AS n,
         64 + (n_chars % 64) AS base
  FROM documents WHERE doc_id % 3 = 2
),
s AS (
  SELECT doc_id, n, base, unnest(range(0, n)) AS i FROM vid
),
off AS (
  SELECT doc_id, i, base + (i % 4) AS sz,
         32 + COALESCE(SUM(base + (i % 4)) OVER (
             PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS off
  FROM s
),
agg AS (
  SELECT doc_id,
         SUM(sz) AS mdat_bytes,
         SUM(CASE WHEN i % 3 = 0 THEN off END) AS sum_kf,
         COUNT(CASE WHEN i % 3 = 0 THEN 1 END) AS n_kf
  FROM off GROUP BY doc_id
)
SELECT v.doc_id AS asset_id,
       'isom' AS brand,
       'avc1' AS codec,
       CAST(CASE (v.doc_id // 3) % 3
            WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS BIGINT)
         AS profile,
       CAST(30 + ((v.doc_id // 3) % 4) * 10 AS BIGINT) AS level,
       CAST(16 * (1 + v.c % 4) AS BIGINT) AS width,
       CAST(16 * (1 + (v.c * 3) % 4) AS BIGINT) AS height,
       CAST(600 + (v.c % 5) * 120 AS BIGINT) AS timescale,
       CAST(v.n * 100 AS BIGINT) AS duration,
       CAST(v.n AS BIGINT) AS n_samples,
       CAST(a.n_kf AS BIGINT) AS n_keyframes,
       CAST(32 AS BIGINT) AS first_kf_offset,
       CAST(a.sum_kf AS BIGINT) AS sum_kf_offsets,
       CAST(a.mdat_bytes AS BIGINT) AS mdat_bytes
FROM vid v JOIN agg a USING (doc_id)
""",
        # IVF probe-mechanism oracle: identical lattice quantization
        # and frozen centroids as stream_ann_ingest, extended to the
        # QUERY path — assignment (QUALIFY=1), per-query nprobe=3
        # probe set (QUALIFY<=3, ties to smallest cid), candidate
        # restriction by list join, and the double-cast fold cosine
        # the brute-force oracles already proved portable; every
        # addend integer-exact, sqrt/div IEEE-deterministic
        "topk_ivf_portable": f"""
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cid,
         qv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)
),
d AS (
  SELECT q.vec_id, cent.cid,
         list_reduce(
           list_transform(list_zip(q.qv, cent.qv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])),
           (x, y) -> x + y
         ) AS d2
  FROM q, cent
),
assign AS (
  SELECT vec_id, cid AS lst FROM d
  QUALIFY row_number() OVER (
      PARTITION BY vec_id ORDER BY d2, cid) = 1
),
probes AS (
  SELECT vec_id AS query_id, cid AS lst
  FROM d WHERE vec_id % 50 = 0
  QUALIFY row_number() OVER (
      PARTITION BY vec_id ORDER BY d2, cid) <= 3
),
qd AS (
  SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
  FROM q
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos('qq.v', 'nn.v')} AS cosine_sim
  FROM probes p
  JOIN assign a ON a.lst = p.lst AND a.vec_id != p.query_id
  JOIN qd qq ON qq.vec_id = p.query_id
  JOIN qd nn ON nn.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cosine_sim,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # hyperplane-LSH portable oracle: the SAME ±1 splitmix plane
        # matrices inlined as literals (via similarity.hyperplane),
        # integer bucket bits over the lattice, OR-amplified DISTINCT
        # candidates, fold-cosine re-rank — the full topk_lsh plan
        "topk_lsh_portable": f"""
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
pl(tbl, p, comp) AS (VALUES {_LSH_PLANES_SQL}),
bits AS (
  SELECT q.vec_id, pl.tbl, pl.p,
         CASE WHEN list_reduce(
                list_transform(list_zip(q.qv, pl.comp),
                               z -> z[1] * z[2]),
                (a, b) -> a + b) > 0
              THEN 1 ELSE 0 END AS bit
  FROM q, pl
),
bkt AS (
  SELECT vec_id, tbl,
         SUM(bit * (CAST(1 AS BIGINT) << p)) AS bkt
  FROM bits GROUP BY vec_id, tbl
),
qs AS (SELECT * FROM bkt WHERE vec_id % 50 = 0),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qs JOIN bkt c
    ON c.tbl = qs.tbl AND c.bkt = qs.bkt AND c.vec_id != qs.vec_id
),
qd AS (
  SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
  FROM q
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cos('qq.v', 'nn.v')} AS cosine_sim
  FROM cand
  JOIN qd qq ON qq.vec_id = cand.query_id
  JOIN qd nn ON nn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine_sim,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # SemDeDup portable oracle: lattice assignment (same frozen
        # 8-centroid quantizer as the ANN twins), the EXACT integer
        # edge test (dot>0 AND 100·dot² >= 81·|a|²·|b|²), transitive
        # closure as a recursive CTE, min-id head per component,
        # singletons keep themselves
        "semantic_dedup_portable": """
WITH RECURSIVE q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cid,
         qv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)
),
dd AS (
  SELECT q.vec_id, cent.cid,
         list_reduce(
           list_transform(list_zip(q.qv, cent.qv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])),
           (x, y) -> x + y
         ) AS d2
  FROM q, cent
),
assign AS (
  SELECT vec_id, cid AS lst FROM dd
  QUALIFY row_number() OVER (
      PARTITION BY vec_id ORDER BY d2, cid) = 1
),
v AS (
  SELECT a.vec_id, a.lst, q.qv,
         list_reduce(list_transform(list_zip(q.qv, q.qv),
                                    p -> p[1] * p[2]),
                     (x, y) -> x + y) AS n2
  FROM assign a JOIN q USING (vec_id)
),
pd_ AS (
  SELECT x.vec_id AS s, y.vec_id AS t,
         list_reduce(list_transform(list_zip(x.qv, y.qv),
                                    p -> p[1] * p[2]),
                     (a, b) -> a + b) AS dot,
         x.n2 AS n2s, y.n2 AS n2t
  FROM v x JOIN v y ON x.lst = y.lst AND x.vec_id < y.vec_id
),
pairs AS (
  SELECT s, t FROM pd_
  WHERE dot > 0 AND 100 * dot * dot >= 81 * n2s * n2t
),
edges AS (
  SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(t)) AS component
  FROM reach GROUP BY s
)
SELECT v.vec_id,
       CAST(v.lst AS INTEGER) AS cluster,
       COALESCE(c.component, v.vec_id) AS group_head,
       COALESCE(c.component, v.vec_id) = v.vec_id AS is_kept
FROM v LEFT JOIN comp c ON v.vec_id = c.node
""",
        # PQ codes oracle: per (vector, subspace) the nearest of the
        # 16 frozen integer codewords by exact squared L2 (ties to
        # the smallest codeword id = np.argmin first-min), assembled
        # into the same 8-byte uppercase hex string Spark emits
        "pq_codes_portable": """
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
cw AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS c,
         qv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 16)
),
sub AS (
  SELECT q.vec_id, j.j, cw.c,
         list_reduce(
           list_transform(
             range(1, 9),
             i -> (q.qv[j.j * 8 + i] - cw.qv[j.j * 8 + i])
                  * (q.qv[j.j * 8 + i] - cw.qv[j.j * 8 + i])
           ),
           (x, y) -> x + y
         ) AS d2
  FROM q, (SELECT unnest(range(0, 8)) AS j) j, cw
),
pick AS (
  SELECT vec_id, j, c FROM sub
  QUALIFY row_number() OVER (
      PARTITION BY vec_id, j ORDER BY d2, c) = 1
)
SELECT vec_id,
       string_agg(printf('%02X', c), '' ORDER BY j) AS code_hex
FROM pick GROUP BY vec_id
""",
        # MP3 manifest oracle: the frame-size walk (144000·br // sr
        # + padding) and the VBR bitrate cycle recomputed from
        # documents arithmetic — the parser output must match a
        # census it derived purely from the 32-bit header grammar
        "audio_manifest": """
WITH aud AS (
  SELECT doc_id, n_chars AS c, 3 + n_chars % 6 AS n,
         CASE n_chars % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS sr
  FROM documents WHERE doc_id % 3 = 1
),
f AS (
  SELECT doc_id, c, n, sr, unnest(range(0, n)) AS i FROM aud
),
fr AS (
  SELECT doc_id, sr, i,
         ([32, 40, 48, 56, 64])[CAST((c + i) % 5 AS INTEGER) + 1]
           AS br
  FROM f
),
agg AS (
  SELECT doc_id,
         MIN(br) AS bmin, MAX(br) AS bmax, SUM(br) AS bsum,
         COUNT(DISTINCT br) > 1 AS vbr,
         SUM(144000 * br // sr + (i % 2)) AS abytes
  FROM fr GROUP BY doc_id
)
SELECT a.doc_id AS asset_id,
       CAST(a.n AS BIGINT) AS n_frames,
       CAST(a.sr AS BIGINT) AS sample_rate,
       CAST(a.n * 1152 AS BIGINT) AS total_samples,
       g.vbr AS is_vbr,
       CAST(g.bmin AS BIGINT) AS bitrate_min,
       CAST(g.bmax AS BIGINT) AS bitrate_max,
       CAST(g.bsum AS BIGINT) AS bitrate_sum,
       CAST(g.abytes AS BIGINT) AS audio_bytes,
       CAST(10 + a.c % 50 AS BIGINT) AS id3_bytes
FROM aud a JOIN agg g USING (doc_id)
""",
        # streaming ANN ingest oracle: the same floor(x·1000) BIGINT
        # lattice quantization (one IEEE multiply + exact floor),
        # frozen centroids = lattice vectors of the 8 smallest
        # vec_ids, exact integer squared-L2, ties to the smallest
        # centroid id — the GEMM argmin must reproduce this pick for
        # every vector that travelled through the streaming sink
        "stream_ann_ingest": """
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cid,
         qv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)
),
d AS (
  SELECT q.vec_id, cent.cid,
         list_reduce(
           list_transform(list_zip(q.qv, cent.qv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])),
           (x, y) -> x + y
         ) AS d2
  FROM q, cent
)
SELECT vec_id, cid AS list_id
FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
""",
        # portable KMV sketch oracle: identical md5-low31 user hash,
        # global k-th minimum (the salted two-phase Spark plan is
        # result-identical by min-k mergeability), same
        # (k-1)·2^31/h_k double arithmetic
        # HLL register twin (r7): same md5-low31 hash, bucket = low 8
        # bits, rho = 23-bit leading-zero count + 1 via the binary
        # STRING length (no float log2 — a ulp at a power of two
        # would flip a register), registers recomputed DIRECTLY (no
        # day level: register union is max, so matching the Spark
        # plan's per-day-then-union registers IS the mergeability
        # proof). Estimate expression mirrored term-for-term; the one
        # transcendental (ln in the linear-counting branch) sits
        # behind round(.,4).
        "approx_distinct_portable": """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(md5_number_lower(CAST(user_id AS VARCHAR))
              & 2147483647 AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
b AS (
  SELECT event_type, hv % 256 AS bucket, hv // 256 AS w FROM h
),
r AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN w = 0 THEN 24
                  ELSE 24 - length(bin(w)) END) AS reg
  FROM b GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         COUNT(*) AS present,
         SUM(CAST(1 AS BIGINT) << (24 - reg)) AS s_present,
         SUM((bucket + 1) * reg) AS register_checksum
  FROM r GROUP BY 1
),
e AS (
  SELECT event_type,
         CAST(256 - present AS BIGINT) AS n_zero_registers,
         CAST(s_present + (256 - present) * 16777216 AS BIGINT)
           AS register_sum_scaled,
         CAST(register_checksum AS BIGINT) AS register_checksum
  FROM g
)
SELECT event_type, n_zero_registers, register_sum_scaled,
       register_checksum,
       CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                 * 16777216.0 / register_sum_scaled <= 640.0
              AND n_zero_registers > 0
            THEN list_extract(__HLL_LC__, CAST(n_zero_registers AS INT))
            ELSE round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       * 16777216.0 / register_sum_scaled, 4)
       END AS est_distinct
FROM e
""".replace(
            # the linear-counting branch reads the SAME Python-evaluated
            # literal table as sketches.hll_portable — no in-engine ln()
            # on either side (ADVICE r7)
            "__HLL_LC__",
            "[" + ", ".join(repr(x) for x in sk.hll_lc_table(256)) + "]",
        ),
        "kmv_distinct_users": """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(md5_number_lower(CAST(user_id AS VARCHAR))
              & 2147483647 AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN rn <= 64 THEN 1 END) AS n_tracked,
         MAX(CASE WHEN rn = 64 THEN hv END) AS hk
  FROM rk GROUP BY 1
)
SELECT event_type, CAST(n_tracked AS BIGINT) AS n_tracked,
       CASE WHEN n_tracked < 64 THEN CAST(n_tracked AS DOUBLE)
            ELSE 63.0 * 2147483648 / hk END AS est_distinct
FROM agg
""",
        # full from-text MinHash+LSH oracle: 31-bit md5 shingle hashes
        # (md5_number_lower & 0x7FFFFFFF == Spark's reversed-hex conv),
        # the same (a_i·h+b_i) mod 2^31 permutation family, identical
        # ','-joined band keys — so the BANDED candidate set itself
        # (not just the verify) must match bit-for-bit
        "minhash_pairs_portable": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 3
           THEN [array_to_string(tk[i:i+2], ' ')
                 for i in range(1, len(tk) - 1)]
           ELSE [array_to_string(tk, ' ')] END)) AS s
  FROM tok
),
hs AS (
  SELECT DISTINCT doc_id,
         CAST(md5_number_lower(s) & 2147483647 AS BIGINT) AS h
  FROM sh
),
sig AS (
  SELECT doc_id, i,
         MIN((((2 * i + 1) * 2654435761 % 2147483648) * h
              + (i * 2246822519 + 3266489917) % 2147483648)
             % 2147483648) AS m
  FROM hs CROSS JOIN (SELECT unnest(range(32)) AS i) perms
  GROUP BY 1, 2
),
bk AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b USING (band_id, band_key)
  WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list(h) AS hl, COUNT(*) AS n FROM hs GROUP BY 1)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(x.hl, y.hl)) AS DOUBLE)
         / (x.n + y.n - len(list_intersect(x.hl, y.hl))) AS jaccard_sim
FROM cand
JOIN sets x ON x.doc_id = doc_a
JOIN sets y ON y.doc_id = doc_b
WHERE CAST(len(list_intersect(x.hl, y.hl)) AS DOUBLE)
        / (x.n + y.n - len(list_intersect(x.hl, y.hl))) >= 0.5
""",
        # blocked twin of simhash_pairs_global: same md5-lower64
        # fingerprint derivation, brute-force pairing restricted to
        # same-source pairs at hamming <= 12 — the 13-band pigeonhole
        # is lossless, so the banded Spark plan must emit exactly this
        "simhash_pairs": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(lower(COALESCE(text, '')), ' '))) AS tok
  FROM documents
),
th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT d.doc_id, d.source,
         CAST(COALESCE(
           SUM(CASE WHEN v > 0 THEN 1::UBIGINT << j END), 0) AS UBIGINT)
           AS sim
  FROM votes JOIN documents d USING (doc_id)
  GROUP BY 1, 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM fp a JOIN fp b
  ON a.doc_id < b.doc_id AND a.source = b.source
WHERE bit_count(xor(a.sim, b.sim)) <= 12
""",
        # full from-text fingerprint oracle: the md5-lower64 token hash
        # (digest bytes 8..16 LE) is DuckDB's md5_number_lower, so the
        # per-bit votes, the fingerprint word, and the brute-force
        # hamming pairing are all exactly reproducible in SQL — the
        # banded Spark plan must emit the identical pair set
        "simhash_pairs_global": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(lower(COALESCE(text, '')), ' '))) AS tok
  FROM documents
),
th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(COALESCE(
           SUM(CASE WHEN v > 0 THEN 1::UBIGINT << j END), 0) AS UBIGINT)
           AS sim
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
""",
        # per-doc verdict twin of simhash_pairs_global: dup_of =
        # smallest earlier doc within hamming <= 3 (arrival order ==
        # doc_id order in the replay, so "earlier arrival" == smaller
        # doc_id); same md5-lower64 fingerprint derivation
        "stream_simhash_dedup": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(lower(COALESCE(text, '')), ' '))) AS tok
  FROM documents
),
th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(COALESCE(
           SUM(CASE WHEN v > 0 THEN 1::UBIGINT << j END), 0) AS UBIGINT)
           AS sim
  FROM votes GROUP BY 1
)
SELECT f.doc_id AS doc_id,
       COALESCE(MIN(a.doc_id), -1) AS dup_of,
       (MIN(a.doc_id) IS NOT NULL) AS is_dup
FROM fp f LEFT JOIN fp a
  ON a.doc_id < f.doc_id AND bit_count(xor(a.sim, f.sim)) <= 3
GROUP BY f.doc_id
""",
        "token_rarity": """
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
  )
), dft AS (
  SELECT token, COUNT(*) AS df FROM tok GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       MIN((df * 1000000) // n_docs) AS min_df_ppm,
       CAST(SUM((df * 1000000) // n_docs) AS BIGINT) AS sum_df_ppm,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       CAST(SUM((df * 1000000) // n_docs) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS mean_df_ppm
FROM tok JOIN dft USING (token) CROSS JOIN n
GROUP BY doc_id
""",
        "corpus_card": """
WITH f AS (
  SELECT doc_id, source, lang, string_split(lower(text), ' ') AS l
  FROM documents
), feat AS (
  SELECT source, lang,
         CAST(len(l) AS BIGINT) AS n_tokens,
         CAST(-800000 + 5000 * len(l)
              + len(list_distinct(l)) * 1000000 // len(l)
              - 2 * (len(list_filter(l, x -> x IN
                  ('the','a','of','and','to','in','is','on')))
                  * 1000000 // len(l)) AS BIGINT) AS margin_micro
  FROM f
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(margin_micro) AS BIGINT) AS sum_margin_micro,
       CAST(SUM(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END)
         AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS keep_rate,
       CAST(SUM(margin_micro) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
         AS mean_margin_micro
FROM feat
GROUP BY ROLLUP (source, lang)
""",
        "chunk_retrieval": f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
    unnest(range(0, len(range(1, len(toks) + 1, 48)))) AS chunk_idx,
    unnest(list_transform(range(1, len(toks) + 1, 48),
           s -> array_to_string(toks[s:s + 63], ' '))) AS chunk_text
  FROM d
),
ck AS (
  SELECT doc_id * 1000000 + chunk_idx AS ckey, doc_id, chunk_idx,
         chunk_text
  FROM c
),
tok AS (
  SELECT ckey, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT ckey, unnest(string_split(lower(chunk_text), ' ')) AS token
    FROM ck
  ) WHERE token != ''
),
bkt AS (
  SELECT ckey, h % 32 AS bucket,
         CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM tok
),
aggb AS (
  SELECT ckey, bucket, CAST(SUM(sign) AS BIGINT) AS v
  FROM bkt GROUP BY 1, 2
),
grid AS (
  SELECT g.ckey, r.range AS bucket
  FROM (SELECT DISTINCT ckey FROM aggb) g CROSS JOIN range(0, 32) r
),
vecs AS (
  SELECT grid.ckey,
         list(CAST(COALESCE(v, 0) AS DOUBLE) ORDER BY bucket) AS v
  FROM grid LEFT JOIN aggb USING (ckey, bucket)
  GROUP BY grid.ckey
),
vk AS (
  SELECT vecs.ckey, ck.doc_id, ck.chunk_idx, v
  FROM vecs JOIN ck USING (ckey)
  WHERE {_DOT.format(a='v', b='v')} > 0
),
q AS (
  SELECT ckey AS q_ckey, doc_id AS query_doc,
         chunk_idx AS query_chunk, v AS qv
  FROM vk WHERE doc_id < 2
),
scored AS (
  SELECT query_doc, query_chunk, vk.doc_id AS neighbor_doc,
         vk.chunk_idx AS neighbor_chunk, vk.ckey AS n_ckey, q_ckey,
         {_cos('qv', 'vk.v')} AS cosine_sim
  FROM vk JOIN q ON vk.doc_id != q.query_doc
)
SELECT query_doc, query_chunk, neighbor_doc, neighbor_chunk,
       cosine_sim, rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY q_ckey ORDER BY cosine_sim DESC, n_ckey
  ) AS rank
  FROM scored
) WHERE rank <= 5
""",
        "hash_embed": """
WITH tok AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
  ) WHERE token != ''
), b AS (
  SELECT doc_id, h % 32 AS bucket,
         CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM tok
), agg AS (
  SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS v
  FROM b GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, r.range AS bucket
  FROM (SELECT DISTINCT doc_id FROM agg) d CROSS JOIN range(0, 32) r
)
SELECT doc_id,
       string_agg(CAST(COALESCE(v, 0) AS VARCHAR), ',' ORDER BY bucket)
         AS vec_str
FROM grid LEFT JOIN agg USING (doc_id, bucket)
GROUP BY doc_id
""",
        "embedding_decontamination": f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), ev AS (
  SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id < 25
), tr AS (
  SELECT vec_id, v FROM e WHERE vec_id >= 25
), scored AS (
  SELECT tr.vec_id, {_cos('tr.v', 'ev.evv')} AS sim
  FROM tr CROSS JOIN ev
)
SELECT vec_id,
       CAST(SUM(CASE WHEN sim >= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_eval_hits,
       MAX(sim) AS max_eval_sim,
       SUM(CASE WHEN sim >= 0.30 THEN 1 ELSE 0 END) > 0
         AS is_contaminated
FROM scored
GROUP BY vec_id
""",
        "vocab_drift": """
WITH a AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents WHERE doc_id % 2 = 0
  )
), b AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents WHERE doc_id % 2 = 1
  )
), dfa AS (SELECT token, COUNT(*) AS df_a FROM a GROUP BY 1),
dfb AS (SELECT token, COUNT(*) AS df_b FROM b GROUP BY 1),
na AS (SELECT COUNT(*) AS n_a FROM documents WHERE doc_id % 2 = 0),
nb AS (SELECT COUNT(*) AS n_b FROM documents WHERE doc_id % 2 = 1),
j AS (
  SELECT token,
         CAST(COALESCE(df_a, 0) AS BIGINT) AS df_a,
         CAST(COALESCE(df_b, 0) AS BIGINT) AS df_b,
         CAST(COALESCE(df_a, 0) * 1000000 // n_a AS BIGINT)
           AS rate_a_ppm,
         CAST(COALESCE(df_b, 0) * 1000000 // n_b AS BIGINT)
           AS rate_b_ppm
  FROM dfa FULL OUTER JOIN dfb USING (token)
  CROSS JOIN na CROSS JOIN nb
)
SELECT token, df_a, df_b, rate_a_ppm, rate_b_ppm,
       CAST(abs(rate_a_ppm - rate_b_ppm) AS BIGINT) AS drift_ppm
FROM j
ORDER BY drift_ppm DESC, token
LIMIT 50
""",
        "token_budget_fill": """
WITH f AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l
  FROM documents
), feat AS (
  SELECT doc_id, source,
         CAST(len(l) AS BIGINT) AS n_tokens,
         CAST(-800000 + 5000 * len(l)
              + len(list_distinct(l)) * 1000000 // len(l)
              - 2 * (len(list_filter(l, x -> x IN
                  ('the','a','of','and','to','in','is','on')))
                  * 1000000 // len(l)) AS BIGINT) AS margin_micro
  FROM f
)
SELECT doc_id, source, n_tokens, margin_micro,
       CAST(SUM(n_tokens) OVER (
         PARTITION BY source
         ORDER BY margin_micro DESC, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_tokens,
       SUM(n_tokens) OVER (
         PARTITION BY source
         ORDER BY margin_micro DESC, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) <= 150 AS selected
FROM feat
""",
        "quality_classifier": """
WITH f AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l
  FROM documents
), feat AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(l)) * 1000000 // len(l) AS BIGINT)
           AS lexdiv_ppm,
         CAST(len(list_filter(l, x -> x IN
             ('the','a','of','and','to','in','is','on')))
           * 1000000 // len(l) AS BIGINT) AS stop_ppm
  FROM f
)
SELECT doc_id, n_tokens, lexdiv_ppm, stop_ppm,
       CAST(-800000 + 5000 * n_tokens + 1 * lexdiv_ppm
            + (-2) * stop_ppm AS BIGINT) AS margin_micro,
       (-800000 + 5000 * n_tokens + 1 * lexdiv_ppm
            + (-2) * stop_ppm) > 0 AS keep
FROM feat
""",
        # inner stream-stream join emission is watermark-independent
        # (watermark only evicts state) and arrival is time-ordered,
        # so the replay equals the plain batch interval join
        "stream_interval_join": """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value,
         event_type
  FROM events
),
b AS (
  SELECT user_id, t AS buy_ts, value AS buy_value
  FROM e WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, t AS click_ts, value AS click_value
  FROM e WHERE event_type = 'click'
)
SELECT b.user_id, buy_ts, click_ts, buy_value, click_value
FROM b JOIN c ON b.user_id = c.user_id
 AND click_ts >= buy_ts - 3600 AND click_ts <= buy_ts
""",
        "dataset_diff": """
WITH a AS (
  SELECT doc_id,
         md5(COALESCE(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                           ELSE text END, '')) AS hash_a
  FROM documents WHERE doc_id % 11 <> 0
), b AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS hash_b FROM documents
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       COALESCE(hash_a, '') AS hash_a,
       COALESCE(hash_b, '') AS hash_b,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN hash_a <> hash_b THEN 'changed'
            ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
""",
        "length_percentile_gate": """
WITH l AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
), cuts AS (
  SELECT quantile_disc(n_tokens, 0.05) AS lo_cut,
         quantile_disc(n_tokens, 0.95) AS hi_cut
  FROM l
)
SELECT doc_id, n_tokens, lo_cut, hi_cut,
       n_tokens >= lo_cut AND n_tokens <= hi_cut AS keep
FROM l CROSS JOIN cuts
""",
        "ngram_novelty": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 8
           THEN [array_to_string(tk[i:i+7], ' ')
                 for i in range(1, len(tk) - 6)]
           ELSE [array_to_string(tk, ' ')] END)) AS gram
  FROM tok
),
fo AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
FROM grams JOIN fo USING (gram)
GROUP BY doc_id
""",
        "source_similarity": """
WITH vocab AS (
  SELECT DISTINCT source, token FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
  ) WHERE token != ''
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS size FROM vocab GROUP BY 1
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b USING (token)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       sa.size AS size_a, sb.size AS size_b,
       CAST(n_common * 1000000 // (sa.size + sb.size - n_common)
            AS BIGINT) AS jaccard_ppm
FROM common
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
""",
        # append-mode watermark semantics externally checked: only
        # sessions the final watermark (max_t - lateness) has closed
        # (last_event + gap <= watermark) are emitted by the stream,
        # and that is exactly what this gaps-and-islands SQL selects
        "stream_sessions": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
  FROM events
), mx AS (SELECT MAX(t) AS max_t FROM e),
marked AS (
  SELECT user_id, t, value,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
), sess AS (
  SELECT user_id, t, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), agg AS (
  SELECT user_id, sid,
         MIN(t) AS session_start, MAX(t) AS last_t,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {DEC_SUM} AS sum_value
  FROM sess GROUP BY 1, 2
)
SELECT user_id, session_start, n_events, sum_value
FROM agg CROSS JOIN mx
WHERE last_t + 1800 <= max_t - 60
""",
        # EXACT result despite the probabilistic Bloom middle stage —
        # the oracle is plain containment (identical to contamination)
        "bloom_decontaminate": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= 3
           THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk) - 1)]
           ELSE [array_to_string(tk, ' ')] END)) AS gram
  FROM tok
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
src AS (SELECT * FROM grams WHERE doc_id % 97 <> 0)
SELECT doc_id, COUNT(DISTINCT src.gram) AS n_contaminated_grams
FROM src JOIN ev USING (gram) GROUP BY doc_id
""",
        "text_normalize": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             lower(
               replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&apos;', ''''), '&amp;', '&')),
             '[^a-z0-9\\s''-]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CAST(CASE WHEN norm_text = '' THEN 0
            ELSE len(string_split(norm_text, ' ')) END AS INTEGER)
         AS n_norm_tokens,
       CAST(length(norm_text) AS INTEGER) AS n_norm_chars
FROM n
""",
        "temperature_mix": """
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), wtd AS (
  SELECT source, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
  FROM per_src
), tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS W FROM wtd),
base AS (
  SELECT source, n_tokens, weight,
         (100000 * weight) // W AS fl,
         (100000 * weight) % W AS rem,
         ROW_NUMBER() OVER (ORDER BY (100000 * weight) % W DESC, source)
           AS rnk,
         100000 - SUM((100000 * weight) // W) OVER () AS leftover
  FROM wtd CROSS JOIN tot
)
SELECT source, n_tokens, weight,
       CAST(fl + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens,
       CAST((fl + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
            * 1000000 // 100000 AS BIGINT) AS share_ppm
FROM base
""",
        "hard_negatives": f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 25
), c AS (
  SELECT vec_id AS neg_id, v AS cv FROM e WHERE vec_id >= 25
), scored AS (
  SELECT query_id, neg_id, {_cos('qv', 'cv')} AS cosine_sim
  FROM c CROSS JOIN q
), banded AS (
  SELECT * FROM scored WHERE cosine_sim >= 0.05 AND cosine_sim < 0.60
)
SELECT query_id, neg_id, cosine_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neg_id
  ) AS INTEGER) AS rank
  FROM banded
) WHERE rank <= 8
""",
        # streaming replay twins (VERDICT r3 #4): the Spark side REALLY
        # executes a Structured Streaming query (file source → 4 micro-
        # batches → watermarked agg / applyInPandasWithState band
        # store); with unlimited lateness and doc_id-ordered arrival
        # the final materialized state equals these batch aggregates
        "stream_windowed_rollup": f"""
WITH w AS (
  SELECT event_type AS metric,
         x - (x % 300) AS ts,
         value
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS x FROM events)
)
SELECT metric, ts,
       CAST(COUNT(value) AS BIGINT) AS n_points,
       {DEC_SUM} AS sum_value
FROM w GROUP BY metric, ts
""",
        # the backfill loop: converged == all-batch aggregate (the
        # ceres unlimited-lateness guarantee); patched == window
        # contains a late row; stream_n/stream_sum == the watermarked
        # dashboard's pre-backfill state (agg over on-time rows only,
        # NULL where a window was purely late rows and never emitted)
        "stream_backfill_rollup": f"""
WITH ev AS (
  SELECT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         value, event_id
  FROM events
),
b AS (SELECT MIN(x) - (MIN(x) % 300) + 21600 AS cut FROM ev),
m AS (
  SELECT metric, x - (x % 300) AS ts, value,
         CASE WHEN x < cut AND event_id % 3 = 0 THEN 1 ELSE 0 END
           AS late
  FROM ev CROSS JOIN b
)
SELECT metric, ts,
  CAST(COUNT(value) AS BIGINT) AS n_points,
  {DEC_SUM} AS sum_value,
  CAST(MAX(late) AS INTEGER) AS patched,
  CASE WHEN COUNT(CASE WHEN late = 0 THEN 1 END) > 0
       THEN CAST(COUNT(CASE WHEN late = 0 THEN value END) AS DOUBLE)
  END AS stream_n,
  CASE WHEN COUNT(CASE WHEN late = 0 THEN 1 END) > 0
       THEN CAST(CAST(SUM(CASE WHEN late = 0 THEN
              CAST(CAST(value AS VARCHAR) AS DECIMAL(30,10)) END)
            AS VARCHAR) AS DOUBLE)
  END AS stream_sum
FROM m GROUP BY metric, ts
""",
        "stream_corpus_ingest": """
WITH f AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS l
  FROM documents
), feat AS (
  SELECT doc_id, text,
         CAST(len(l) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(l)) * 1000000 // len(l) AS BIGINT)
           AS lexdiv_ppm,
         CAST(len(list_filter(l, x -> x IN
             ('the','a','of','and','to','in','is','on')))
           * 1000000 // len(l) AS BIGINT) AS stop_ppm
  FROM f
), gated AS (
  SELECT doc_id, text FROM feat
  WHERE (-800000 + 5000 * n_tokens + 1 * lexdiv_ppm
         + (-2) * stop_ppm) > 0
), toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(lower(COALESCE(text, '')), ' '))) AS tok
  FROM gated
), th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(COALESCE(
           SUM(CASE WHEN v > 0 THEN 1::UBIGINT << j END), 0) AS UBIGINT)
           AS sim
  FROM votes GROUP BY 1
)
SELECT b.doc_id,
       COALESCE(MIN(a.doc_id), -1) AS dup_of,
       MIN(a.doc_id) IS NOT NULL AS is_dup,
       MIN(a.doc_id) IS NULL AS ingest
FROM fp b LEFT JOIN fp a
  ON a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3
GROUP BY b.doc_id
""",
        "bigram_lm": """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
), big AS (
  SELECT doc_id,
         unnest(l[1:len(l)-1]) AS w1,
         unnest(l[2:len(l)])   AS w2
  FROM d WHERE len(l) >= 2
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
), p AS (
  SELECT w1, w2, (c2 * 1000000) // c1 AS ppm
  FROM c2 JOIN c1 USING (w1)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       MIN(ppm) AS min_ppm,
       CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
       CAST(SUM(CASE WHEN ppm < 1000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare,
       CAST(SUM(ppm) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_ppm
FROM big JOIN p USING (w1, w2)
GROUP BY doc_id
""",
        "tfidf_top_terms": """
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
  )
  GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         (tf.tf * 1000000 * n.n_docs) // df.df AS score_ppm
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, df, score_ppm, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score_ppm DESC, token
  ) AS rank
  FROM scored
) WHERE rank <= 3
""",
        # bucketing must be RESULT-INVARIANT: the oracle is the plain
        # unbucketed join (same trick as salted_join).
        "bucketed_join": """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR)
      AS DOUBLE) AS total_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY 1
""",
        # quantile_cont ≡ Spark `percentile` (exact interpolated) —
        # the same bit-exact equivalence winsorize relies on.
        "order_quartiles_scaled": """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS b1,
         quantile_cont(o_totalprice, 0.50) AS b2,
         quantile_cont(o_totalprice, 0.75) AS b3
  FROM orders
)
SELECT CAST(CASE WHEN o_totalprice <= b1 THEN 1
            WHEN o_totalprice <= b2 THEN 2
            WHEN o_totalprice <= b3 THEN 3
            ELSE 4 END AS BIGINT) AS price_quartile,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR)
           AS DOUBLE) AS sum_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders CROSS JOIN b
GROUP BY 1
""",
        # identical closure to neardup_clusters: both CC algorithms
        # must produce the same min-id component labelling.
        "neardup_clusters_star": """
WITH RECURSIVE d AS (
  SELECT doc_id, source,
         list_distinct(string_split(lower(text), ' ')) AS g
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.g, b.g))
          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
        >= 0.8
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT s AS node, LEAST(s, MIN(t)) AS component FROM reach GROUP BY s
),
lab AS (
  SELECT doc_id, COALESCE(component, doc_id) AS component
  FROM documents LEFT JOIN comp ON doc_id = comp.node
)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM lab
""",
    }
    # the salted twins (r7) share the unsalted oracles VERBATIM: the
    # salt/chunk machinery must be invisible in the output — same
    # rows, same hashes — so one oracle string serves both entries
    # and any divergence the salting introduced hash-mismatches
    d["event_transitions_salted"] = d["event_transitions"]
    d["funnel_salted"] = d["funnel"]
    # the blanket (detection-free) chunked twin (r9) shares it too
    d["event_transitions_chunked"] = d["event_transitions"]
    return d
