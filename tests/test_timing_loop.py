"""The one registry-timing loop (``bench.warm_up`` /
``bench.timed_passes``), the bench run stamp, and the A/B conf arm of
``tools/probe.py``."""

import re

import pytest

import bench
import tools.probe as probe


class _Stub:
    def __init__(self, log, name):
        self.log, self.name = log, name

    def count(self):
        self.log.append(("count", self.name))
        return 0


def test_timed_passes_is_pass_outer_registry_order_inner():
    log = []

    def entry(name):
        def build(spark, sf_dir):
            assert spark == "spark" and sf_dir == "sfdir"
            log.append(("build", name))
            return _Stub(log, name)
        return build

    fns = {n: entry(n) for n in ("b", "a", "c")}
    got = list(bench.timed_passes("spark", fns, "sfdir", 3))
    assert [name for name, _, _ in got] == ["b", "a", "c"] * 3
    # each yield comes after that entry's build AND count
    assert log == [(s, n) for n in ("b", "a", "c") for s in ("build", "count")] * 3
    for name, df, dt in got:
        assert df.name == name and dt >= 0 and round(dt, 4) == dt


def test_pass_totals_are_per_pass_sums():
    per_q = {"a": [1.0, 2.0, 3.0], "b": [0.25, 0.5, 0.125], "c": [0.1, 0.2, 0.3]}
    assert bench.pass_totals(per_q) == [
        round(sum(ts[p] for ts in per_q.values()), 4) for p in range(3)
    ]
    assert bench.pass_totals(per_q) == [1.35, 2.7, 3.425]


def test_run_stamp(spark, tmp_path):
    stamp = bench.run_stamp(spark)
    assert stamp["cpus"] == spark.sparkContext.defaultParallelism
    assert stamp["spark_version"] == spark.version
    assert stamp["git_sha"] is None or re.fullmatch(r"[0-9a-f]{40}", stamp["git_sha"])
    assert bench._git_sha(str(tmp_path)) is None


SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.ceres.test.probeArm"


@pytest.fixture
def conf(spark):
    saved = spark.conf.get(SET_KEY)
    spark.conf.set(SET_KEY, "7")
    spark.conf.unset(UNSET_KEY)
    yield spark.conf
    spark.conf.set(SET_KEY, saved)
    spark.conf.unset(UNSET_KEY)


def _restored(conf):
    return conf.get(SET_KEY) == "7" and conf.get(UNSET_KEY, None) is None


def test_probe_arms_alternate_and_restore_confs(spark, conf):
    seen = []

    def ok(spark, sf_dir):
        seen.append((conf.get(SET_KEY), conf.get(UNSET_KEY, None)))
        return spark.range(3)

    out = probe.probe(
        spark, {"ok": ok}, "unused", 2, confs={SET_KEY: "3", UNSET_KEY: "x"}
    )
    assert seen == [("7", None), ("3", "x")] * 2
    rec = out["ok"]
    assert len(rec["passes_s"]) == 2 and len(rec["B"]["passes_s"]) == 2
    assert rec["B_over_A"] == round(rec["B"]["min_s"] / rec["min_s"], 3)
    assert rec["stream"]["events"] == 0 and "exchanges" in rec
    assert _restored(conf)


def test_probe_restores_confs_when_an_entry_raises(spark, conf):
    def boom(spark, sf_dir):
        if conf.get(UNSET_KEY, None) == "x":
            raise RuntimeError("entry failed in arm B")
        return spark.range(1)

    with pytest.raises(RuntimeError, match="arm B"):
        probe.probe(
            spark, {"boom": boom}, "unused", 1,
            confs={SET_KEY: "3", UNSET_KEY: "x"},
        )
    assert _restored(conf)
