"""The stored points row has one ts -> ``date`` rule: the UTC day
(``operators/compact.utc_date``). Every writer and every date pruner
uses it, so a non-UTC session can neither split one ts across two
partitions nor prune away the partition a fetch needs."""

import contextlib
import glob
import os
from datetime import datetime, timezone

from pyspark.sql import functions as F

import ceres_spark.cli as cli
import ceres_spark.operators.compact as cp
import ceres_spark.streaming.ingest as ing
from ceres_spark.tree import CeresTree

PT = "America/Los_Angeles"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def session_tz(spark, tz):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def date_dirs(path):
    return {d for d in os.listdir(path) if d.startswith("date=")}


def test_utc_date_matches_python_utc_day(spark):
    day = 86400
    stamps = [-10**9, -day - 1, -day, -day + 1, -1, 0, 1,
              day - 1, day, day + 1, 1704067199, 1704067200, 1704067201,
              -62135596800, 253402300799]  # 0001-01-01, 9999-12-31
    want = [datetime.fromtimestamp(t, timezone.utc).date() for t in stamps]
    for tz in ("UTC", PT, "Asia/Tokyo"):
        with session_tz(spark, tz):
            row = spark.range(1).select(
                *[cp.utc_date(F.lit(t)).alias(f"d{i}")
                  for i, t in enumerate(stamps)]
            ).first()
        assert list(row) == want, tz


def test_fetch_in_non_utc_session_reads_utc_written_tree(spark, tmp_path):
    tree = CeresTree.create_tree(spark, str(tmp_path / "wh"))
    tree.create_node("m.cpu", timeStep=60)
    start = 1704070800  # 2024-01-01 01:00 UTC = 2023-12-31 17:00 PT
    tree.store("m.cpu", spark.createDataFrame(
        [(start + 60 * i, float(i)) for i in range(60)],
        "ts long, value double",
    ))
    with session_tz(spark, PT):
        got = tree.fetch("m.cpu", start, start + 3600).filter(
            F.col("value").isNotNull()
        ).count()
    assert got == 60


def test_every_writer_puts_one_ts_in_one_date_partition(
    spark, tmp_path, monkeypatch
):
    ts = 2 * 86400 + 3600  # 1970-01-03 01:00 UTC = 1970-01-02 17:00 PT
    want = {"date=1970-01-03"}
    root = str(tmp_path / "wh")
    tree = CeresTree.create_tree(spark, root)
    tree.create_node("m.cpu", timeStep=60)
    monkeypatch.setattr(cli, "_spark", lambda: spark)
    with session_tz(spark, PT):
        tree.store("m.cpu", spark.createDataFrame(
            [(ts, 1.0)], "ts long, value double"
        ))
        stream_path = str(tmp_path / "stream")
        ing.store_batch(
            spark.createDataFrame(
                [("m.cpu", ts, 1.0, None)],
                "metric string, ts long, value double, arrival_seq long",
            ),
            7, stream_path, 60,
        )
        log_path = str(tmp_path / "log")
        ing.append_log_batch(
            spark.createDataFrame([("m.cpu", ts, 1.0)],
                                  "metric string, ts long, value double")
            .withColumn("ts", F.timestamp_seconds("ts")),
            0, log_path,
        )
        assert cli.main(["maintenance", root, "--plugin", "rollup",
                         "--new-step", "300"]) == 0
    assert date_dirs(tree.points_path(60)) == want
    assert date_dirs(stream_path) == want
    assert date_dirs(log_path) == want
    assert date_dirs(tree.points_path(300)) == want


#: Modules allowed to keep their own ts -> date spelling.
#: slice_format.migrate_tree still uses the session-timezone
#: ``to_date(timestamp_seconds(ts))``; it moves to ``utc_date`` when
#: the registry prefix is regenerated at round end (an edit to it
#: before then forces the ``slice_roundtrip`` rotation).
DATE_RULE_EXCEPTIONS = {"ceres_spark/sources/slice_format.py"}


def test_ts_to_date_rule_lives_only_in_compact():
    offenders = set()
    for path in glob.glob(os.path.join(REPO, "ceres_spark", "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)
        if rel == "ceres_spark/operators/compact.py":
            continue
        src = open(path).read()
        if "to_date(F.timestamp_seconds" in src or "/ 86400" in src:
            offenders.add(rel)
    assert offenders == DATE_RULE_EXCEPTIONS
