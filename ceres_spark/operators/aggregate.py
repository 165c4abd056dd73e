"""Aggregation kernel — the 5 ceres methods, null-skipping.

Reference: ``aggregate(aggregationMethod, values)`` (ceres.py
≈L1005-1030) filters out None, returns None on empty, and dispatches
to {average, sum, last, max, min}; ``aggregateSeries(method, oldStep,
newStep, values)`` (ceres.py ≈L1033-1050) chunks a dense series into
``newStep // oldStep`` groups (partial last chunk still aggregated)
and applies ``aggregate`` per chunk.

Spark mapping: all five methods are built-in null-skipping JVM
aggregates, so an empty (all-NULL) group yields NULL exactly like the
reference's empty→None. ``last`` needs an explicit ordering to be
deterministic under distributed execution — ceres's list order is
timestamp order after compaction, so we use ``max_by(value, ts)``
over non-null values (DuckDB oracle: ``arg_max(value, ts)``).

Fixed-factor chunking ≡ tumbling-window grouping when timestamps are
quantized: chunk i of ``aggregateSeries`` holds exactly the points
with ``floor(ts / newStep)`` == i (given oldStep | newStep), so
``groupBy(floor(ts/newStep)*newStep)`` reproduces it — including the
partial-last-chunk behavior, since a tumbling window never drops a
partial bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from ceres_spark.errors import InvalidAggregationMethod

AGGREGATION_METHODS = ("average", "sum", "last", "max", "min")


def _dec_to_double(col: Column) -> Column:
    """Correctly-rounded decimal→double via string (see lattice)."""
    return col.cast("string").cast("double")


def lattice(col: Column | str) -> Column:
    """The decimal sum lattice every exact sum accumulates in.

    Decimal accumulation is exact, so a sum is reproducible bit for
    bit at any parallelism or partitioning (double summation is
    order-dependent; decimal is not) and identical to the DuckDB
    oracle's matching expression. The double enters through its
    string: engines agree on the shortest decimal repr, while direct
    double→decimal casts round the binary expansion differently at
    the 10th digit. The way back (:func:`exact_sum`) also goes
    through a string, because decimal→double casts are not correctly
    rounded in every engine (DuckDB computes int128/10^scale in float
    arithmetic: off by 1 ulp); every engine parses decimal strings
    correctly rounded.
    """
    if isinstance(col, str):
        col = F.col(col)
    return col.cast("string").cast("decimal(30,10)")


def exact_sum(
    col: Column | str, over: WindowSpec | None = None
) -> Column:
    """The lattice sum of ``col`` (optionally ``.over(window)``) as a
    correctly-rounded double."""
    s = F.sum(lattice(col))
    if over is not None:
        s = s.over(over)
    return _dec_to_double(s)


def agg_expr(method: str, value_col: str = "value", ts_col: str = "ts") -> Column:
    """Null-skipping aggregate Column for one ceres method.

    All five skip NULLs natively and return NULL for all-NULL/empty
    groups, matching aggregate()'s empty→None (ceres.py ≈L1005).
    """
    if method == "average":
        # exact lattice sum, ONE double division at the end
        return exact_sum(value_col) / F.count(F.col(value_col))
    if method == "sum":
        return exact_sum(value_col)
    if method == "last":
        # last non-null value by timestamp; max_by skips rows where the
        # value is NULL only if we pre-filter, so guard with a when().
        return F.max_by(
            value_col, F.when(F.col(value_col).isNotNull(), F.col(ts_col))
        )
    if method == "max":
        return F.max(value_col)
    if method == "min":
        return F.min(value_col)
    raise InvalidAggregationMethod(method)


def aggregate(df: DataFrame, method: str, keys: list[str] | None = None) -> DataFrame:
    """Whole-group scalar aggregate (op #19). ``keys=None`` → global."""
    expr = agg_expr(method).alias(method)
    if keys:
        return df.groupBy(*keys).agg(expr)
    return df.agg(expr)


def aggregate_series(
    df: DataFrame,
    method: str,
    new_step: int,
    keys: list[str] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Downsample a quantized series to ``new_step`` (op #20).

    Input/output ``ts`` are epoch-second BIGINTs. One shuffle on
    (keys, bucket); partial aggregation (map-side combine) keeps the
    shuffle volume proportional to buckets, not points — this is the
    plan that survives 100 TB.
    """
    if method not in AGGREGATION_METHODS:
        raise InvalidAggregationMethod(method)
    step = int(new_step)
    bucket = (F.col(ts_col) - F.col(ts_col) % step).cast("long").alias(ts_col)
    out = df.groupBy(*keys, bucket).agg(
        agg_expr(method, value_col, ts_col).alias(value_col)
    )
    return out
