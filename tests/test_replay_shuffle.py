"""Pin the replay conf scope (``__spark_entry__._replay_shuffle``):
inside it a streaming replay runs on 4 shuffle partitions and the
RocksDB changelog state store; on exit, even when the body raises,
every key it touched is back to its previous value or unset."""

import pytest

import __spark_entry__ as entry

PROVIDER = "spark.sql.streaming.stateStore.providerClass"
CHANGELOG = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
PARTS = "spark.sql.shuffle.partitions"
KEYS = (PARTS, PROVIDER, CHANGELOG, NO_DATA)


def _snapshot(conf):
    return {k: conf.get(k, None) for k in KEYS}


@pytest.fixture
def conf(spark):
    saved = _snapshot(spark.conf)
    yield spark.conf
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_inside_sets_four_partitions_and_rocksdb_changelog(spark, conf):
    with entry._replay_shuffle(spark):
        assert conf.get(PARTS) == "4"
        assert conf.get(PROVIDER) == (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        assert conf.get(CHANGELOG) == "true"


def test_no_data_batch_false_disables_trailing_batch(spark, conf):
    conf.unset(NO_DATA)
    with entry._replay_shuffle(spark):
        assert conf.get(NO_DATA, None) != "false"
    with entry._replay_shuffle(spark, no_data_batch=False):
        assert conf.get(NO_DATA) == "false"


@pytest.mark.parametrize("no_data_batch", [True, False])
def test_exit_restores_previous_values_or_unsets(spark, conf, no_data_batch):
    # one key with a previous value of its own, one unset
    conf.set(PARTS, "7")
    conf.set(
        PROVIDER,
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    conf.unset(CHANGELOG)
    conf.unset(NO_DATA)
    before = _snapshot(conf)
    assert before[CHANGELOG] is None and before[NO_DATA] is None
    with entry._replay_shuffle(spark, no_data_batch=no_data_batch):
        assert _snapshot(conf) != before
    assert _snapshot(conf) == before
    with pytest.raises(RuntimeError, match="body failed"):
        with entry._replay_shuffle(spark, no_data_batch=no_data_batch):
            raise RuntimeError("body failed")
    assert _snapshot(conf) == before
