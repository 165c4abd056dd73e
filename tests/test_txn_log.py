"""Transaction log: multi-writer version race, LWW-by-commit-order,
time travel, history — the distributed replacement for the
reference's in-place slice overwrites + SliceDeleted retry loop
(ceres.py ≈L790)."""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from ceres_spark.sources.txn_log import TransactionLog
from ceres_spark.tree import CeresTree


@pytest.fixture()
def tree(spark, tmp_path):
    return CeresTree.create_tree(spark, str(tmp_path), sitename="test")


def dp(spark, rows):
    return spark.createDataFrame(rows, "ts long, value double")


def test_concurrent_commits_get_distinct_contiguous_versions(tmp_path):
    log = TransactionLog(str(tmp_path))
    with ThreadPoolExecutor(max_workers=16) as ex:
        versions = list(ex.map(lambda i: log.commit(writer=i), range(64)))
    assert sorted(versions) == list(range(1, 65))  # no dupes, no gaps
    assert log.latest_version() == 64
    assert [e["version"] for e in log.entries()] == list(range(1, 65))


def test_commit_meta_and_floor(tmp_path):
    log = TransactionLog(str(tmp_path))
    v = log.commit(action="write", metric="m", step=60)
    assert v == 1
    (entry,) = log.entries()
    assert entry == {
        "version": 1, "action": "write", "metric": "m", "step": 60,
    }


def test_write_commits_are_logged(spark, tree):
    tree.create_node("a.b", timeStep=60)
    tree.store("a.b", dp(spark, [(60, 1.0)]))
    tree.store("a.b", dp(spark, [(120, 2.0)]))
    hist = tree.history().collect()
    assert [r["version"] for r in hist] == [2, 1]  # newest first
    assert all(r["action"] == "write" and r["metric"] == "a.b" for r in hist)


def test_time_travel_read(spark, tree):
    node = tree.create_node("a.b", timeStep=60)
    tree.store("a.b", dp(spark, [(60, 1.0)]))
    v1 = tree.log().latest_version()
    tree.store("a.b", dp(spark, [(60, 9.0)]))  # LWW overwrite
    latest = {r["ts"]: r["value"] for r in node.read(60, 120).collect()}
    asof = {r["ts"]: r["value"] for r in node.read(60, 120, as_of=v1).collect()}
    assert latest[60] == 9.0  # commit order wins
    assert asof[60] == 1.0  # the world as of v1


def test_concurrent_tree_writers_lww_deterministic(spark, tree):
    """Two writers racing on the same bucket: read resolves by commit
    order — whichever writer committed last wins, and the winner is
    exactly the higher log version."""
    node = tree.create_node("a.b", timeStep=60)
    with ThreadPoolExecutor(max_workers=2) as ex:
        list(
            ex.map(
                lambda v: tree.store("a.b", dp(spark, [(60, float(v))])),
                [1.0, 2.0],
            )
        )
    hist = tree.history().collect()
    assert sorted(r["version"] for r in hist) == [1, 2]
    got = {r["ts"]: r["value"] for r in node.read(60, 120).collect()}
    # the value written by the later commit wins; map commit → value
    pts = tree.points(60).collect()
    by_seq = {r["arrival_seq"]: r["value"] for r in pts}
    assert got[60] == by_seq[max(by_seq)]
