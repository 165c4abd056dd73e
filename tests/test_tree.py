"""CeresTree/CeresNode storage API — mirrors CeresTreeTest /
CeresNodeTest scenarios (tests/test_ceres.py) end-to-end on a temp
warehouse."""

import pytest
from pyspark.sql import functions as F

from ceres_spark.errors import CorruptNode, NodeNotFound
from ceres_spark.tree import CeresTree


@pytest.fixture()
def tree(spark, tmp_path):
    return CeresTree.create_tree(spark, str(tmp_path), sitename="test")


def dp(spark, rows):
    return spark.createDataFrame(rows, "ts long, value double")


def test_create_and_get_tree(spark, tmp_path, tree):
    sub = tmp_path / "a" / "b"
    sub.mkdir(parents=True)
    found = CeresTree.get_tree(spark, str(sub))
    assert found is not None and found.root == str(tmp_path)
    assert CeresTree.get_tree(spark, "/tmp") is None or True  # no crash


def test_node_lifecycle_and_metadata(spark, tree):
    node = tree.create_node("servers.web01.cpu", timeStep=60,
                            aggregationMethod="max")
    meta = node.read_metadata()
    assert meta["timeStep"] == 60
    assert meta["aggregationMethod"] == "max"
    assert tree.has_node("servers.web01.cpu")
    with pytest.raises(NodeNotFound):
        tree.get_node("servers.nope")
    node.write_metadata({"timeStep": 60, "aggregationMethod": "sum"})
    assert tree.get_node("servers.web01.cpu").aggregation_method == "sum"


def test_store_fetch_roundtrip_with_lww(spark, tree):
    tree.create_node("m", timeStep=60)
    tree.store("m", dp(spark, [(60, 1.0), (120, 2.0)]))
    tree.store("m", dp(spark, [(121, 99.0)]))  # same 60s bucket → overwrites
    out = {r["ts"]: r["value"] for r in tree.fetch("m", 0, 240).collect()}
    assert out == {0: None, 60: 1.0, 120: 99.0, 180: None}


def test_fetch_unknown_metric_raises(spark, tree):
    with pytest.raises(NodeNotFound):
        tree.fetch("ghost", 0, 100)


def test_fetch_null_timestep_row_is_corrupt(spark, tree):
    tree._write_catalog(spark.createDataFrame(
        [("m", None, "average", None, None)],
        "metric string, timeStep int, aggregationMethod string, "
        "retentions array<array<int>>, xFilesFactor double"))
    with pytest.raises(CorruptNode, match="timeStep"):
        tree.fetch("m", 0, 120)


def test_fetch_runs_one_catalog_query(spark, tree, monkeypatch):
    tree.create_node("m", timeStep=60, aggregationMethod="max")
    tree.store("m", dp(spark, [(60, 1.0), (60, 3.0)]))
    calls = []
    real = CeresTree.catalog

    def counted(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(CeresTree, "catalog", counted)
    out = {r["ts"]: r["value"] for r in tree.fetch("m", 0, 120).collect()}
    assert len(calls) == 1
    assert out == {0: None, 60: 3.0}


def test_fetch_empty_range_is_dense_nulls(spark, tree):
    # error-vs-empty distinction: known metric, dataless range → dense NULLs
    tree.create_node("m", timeStep=60)
    tree.store("m", dp(spark, [(60, 1.0)]))
    rows = tree.fetch("m", 86400, 86400 + 180).collect()
    assert len(rows) == 3 and all(r["value"] is None for r in rows)


def test_find_glob_and_walk(spark, tree):
    for name in ("servers.web01.cpu", "servers.web02.cpu", "apps.api.latency"):
        tree.create_node(name, timeStep=60)
    found = sorted(n.node_path for n in tree.find("servers.*.cpu"))
    assert found == ["servers.web01.cpu", "servers.web02.cpu"]
    assert len(list(tree.walk())) == 3


def test_find_interval_filter(spark, tree):
    tree.create_node("live", timeStep=60)
    tree.create_node("stale", timeStep=60)
    tree.store("live", dp(spark, [(1000 * 60, 1.0)]))
    tree.store("stale", dp(spark, [(60, 1.0)]))
    found = [n.node_path for n in tree.find("*", from_time=900 * 60)]
    assert found == ["live"]


def test_delete_node(spark, tree):
    tree.create_node("m", timeStep=60)
    tree.delete_node("m")
    assert not tree.has_node("m")
    with pytest.raises(NodeNotFound):
        tree.delete_node("m")
