"""Pin the replay fixture writers' Arrow seam.

The replay fixture writers (``__spark_entry__._write_arrival_files``
and its ranged / half / backfill split variants) collect the feed
once with ``DataFrame.toArrow`` (public since Spark 4.0) and write n
arrival files driver-side with pyarrow — zero Spark jobs. There is no
second path: a PySpark change that breaks the Arrow collect fails
these tests, an empty feed or batch raises ``_BadArrivalSplit``, and
a write failure raises. The split rules are checked against the
Spark-side expressions the replays used before the driver-side split.
"""

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _mk_df(spark):
    from pyspark.sql import functions as F

    return (
        spark.range(40)
        .select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 3).cast("double").alias("v"),
            (F.col("id") % 4).cast("int").alias("_part"),
        )
    )


def _file_rows(src, i):
    import duckdb

    return duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{src}/arrival-{i:02d}.parquet')"
    ).fetchall()


def _spark_rows(df):
    return [tuple(r) for r in df.collect()]


def test_to_arrow_exists_and_returns_expected_schema(spark):
    """The version probe: fails the moment a PySpark bump drops or
    reshapes DataFrame.toArrow (public since Spark 4.0, SPARK-47365),
    the only path the arrival writers have."""
    df = _mk_df(spark)
    assert hasattr(type(df), "toArrow"), (
        "PySpark dropped DataFrame.toArrow — re-point "
        "__spark_entry__._arrow_collect at the supported replacement."
    )
    import pyarrow as pa

    tbl = df.toArrow()
    assert isinstance(tbl, pa.Table)
    assert tbl.num_rows == 40
    assert tbl.column_names == ["k", "v", "_part"]
    # the writers rely on Spark's own Arrow schema (types must match
    # what a Spark parquet write would have produced)
    assert tbl.schema.field("k").type == pa.int64()
    assert tbl.schema.field("v").type == pa.float64()
    assert tbl.schema.field("_part").type == pa.int32()


def test_fast_path_writes_arrival_files_without_spark_jobs(spark, tmp_path):
    src = str(tmp_path / "fast")
    entry._write_arrival_files(_mk_df(spark), src, 4)
    files = sorted(glob.glob(os.path.join(src, "arrival-*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        f"arrival-{i:02d}.parquet" for i in range(4)
    ]
    # mtimes pin arrival order for the file streaming source
    assert [int(os.path.getmtime(f)) for f in files] == [
        1000, 1001, 1002, 1003
    ]


def test_empty_split_raises_not_silently_shrinks(spark, tmp_path):
    # 3 distinct _part values but n=4 → batch 3 empty → loud error
    # (the replay would otherwise run with a wrong micro-batch count)
    from pyspark.sql import functions as F

    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("_part")
    )
    with pytest.raises(entry._BadArrivalSplit):
        entry._write_arrival_files(df, str(tmp_path / "bad"), 4)


def _empty_feed(spark, writer, src):
    from pyspark.sql import functions as F

    none = spark.range(0)
    if writer == "files":
        df = none.select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("_part")
        )
        entry._write_arrival_files(df, src, 4)
    elif writer == "ranged":
        entry._write_arrival_files_ranged(
            none.select(F.col("id").alias("ts")), "ts", src, 4
        )
    elif writer == "half":
        entry._write_arrival_files_half(
            none.select(F.col("id").alias("doc_id")), "doc_id", src
        )
    else:
        entry._write_arrival_files_backfill(
            none.select(F.col("id").alias("x"), F.col("id").alias("event_id")),
            src,
        )


@pytest.mark.parametrize("writer", ["files", "ranged", "half", "backfill"])
def test_empty_feed_raises_typed_error(spark, tmp_path, writer):
    """An empty feed is a typed _BadArrivalSplit at every writer, not
    a raw numpy ValueError from .min()/.max() on an empty array."""
    src = str(tmp_path / writer)
    with pytest.raises(entry._BadArrivalSplit, match="empty arrival feed"):
        _empty_feed(spark, writer, src)
    assert not glob.glob(os.path.join(src, "*.parquet"))


def test_write_failure_raises(spark, tmp_path):
    """A write into an unwritable src raises; there is no fallback
    that could swallow it."""
    src = tmp_path / "src"
    (src / "arrival-01.parquet").mkdir(parents=True)
    with pytest.raises(OSError):
        entry._write_arrival_files(_mk_df(spark), str(src), 4)


def test_ranged_split_matches_spark_quartile_path(spark, tmp_path):
    """_write_arrival_files_ranged computes the contiguous time-range
    split driver-side from the Arrow collect. Each file must hold
    exactly the rows the Spark-side rule
    ``(n * (t - lo)) div span`` assigns to it, in order, including
    the drop= helper-column handling."""
    from pyspark.sql import functions as F

    df = spark.range(97).select(
        (F.col("id") * 7 + 13).cast("long").alias("ts"),
        (F.col("id").cast("double") / 3).alias("v"),
    )
    new = str(tmp_path / "new")
    entry._write_arrival_files_ranged(df, "ts", new, 4)
    lo, hi = df.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = hi - lo + 1
    ref = df.withColumn("_part", F.expr(f"(4 * (ts - {lo})) div {span}"))
    for i in range(4):
        want = _spark_rows(ref.filter(F.col("_part") == i).drop("_part"))
        assert want and _file_rows(new, i) == want
    # drop= removes the helper column AFTER the split is computed
    dropped = str(tmp_path / "dropped")
    entry._write_arrival_files_ranged(df, "ts", dropped, 4, drop=("ts",))
    import duckdb

    cols = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{dropped}/arrival-00.parquet') LIMIT 0"
    ).description
    assert [c[0] for c in cols] == ["v"]


def test_half_split_matches_agg_mid_path(spark, tmp_path):
    """_write_arrival_files_half: batch 1 is id > max(id)//2 — the
    split rule the corpus/simhash/ann replays used, checked against
    Spark's own max(id) aggregate."""
    from pyspark.sql import functions as F

    df = spark.range(31).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    new = str(tmp_path / "new")
    entry._write_arrival_files_half(df, "doc_id", new)
    mid = df.agg(F.max("doc_id")).collect()[0][0] // 2
    assert _file_rows(new, 0) == _spark_rows(df.filter(F.col("doc_id") <= mid))
    assert _file_rows(new, 1) == _spark_rows(df.filter(F.col("doc_id") > mid))


def test_backfill_split_matches_spark_rule(spark, tmp_path):
    """_write_arrival_files_backfill: rows before the 300-aligned
    6 h cut with event_id % 3 == 0 are the late batch 3; the on-time
    rest is split into batches 0-2 by contiguous x range."""
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.lit(1_000_050) + F.col("id") * 397).alias("x"),
        F.col("id").alias("event_id"),
        (F.col("id").cast("double") / 7).alias("value"),
    )
    new = str(tmp_path / "new")
    entry._write_arrival_files_backfill(df, new)
    x0 = df.agg(F.min("x")).collect()[0][0]
    cut = x0 - x0 % 300 + 6 * 3600
    late = (F.col("x") < cut) & (F.col("event_id") % 3 == 0)
    on_time = df.filter(~late)
    lo, hi = on_time.agg(F.min("x"), F.max("x")).collect()[0]
    part = F.expr(f"(3 * (x - {lo})) div {hi - lo + 1}")
    for i in range(3):
        want = _spark_rows(on_time.filter(part == i).drop("event_id"))
        assert want and _file_rows(new, i) == want
    want = _spark_rows(df.filter(late).drop("event_id"))
    assert want and _file_rows(new, 3) == want
    # a feed that is all late leaves batches 0-2 empty: typed error
    with pytest.raises(entry._BadArrivalSplit, match="no on-time"):
        entry._write_arrival_files_backfill(
            df.filter(F.col("event_id") == 0), str(tmp_path / "late")
        )
