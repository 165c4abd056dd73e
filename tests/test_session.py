"""``get_spark`` hands a running session back untouched: an in-process
caller (``cli.main``, a notebook, a test) keeps its timezone and
shuffle partitioning. Only a fresh process gets the engine's confs."""

from ceres_spark.session import get_spark


def test_get_spark_keeps_a_running_sessions_confs(spark):
    conf = spark.conf
    keys = ("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
    saved = {k: conf.get(k) for k in keys}
    conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    conf.set("spark.sql.shuffle.partitions", "200")
    try:
        got = get_spark("cli")
        assert got is spark
        assert conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
        assert conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        for k, v in saved.items():
            conf.set(k, v)
