"""Failure injection for the stateful streaming twins (VERDICT r7 #7,
extending r6's ANN-sink graceful-restart test): a foreachBatch poison
raises AFTER the sink write but BEFORE the checkpoint commit — the
worst-case crash window, where the batch's output is on disk but the
engine doesn't know it — then the query restarts on the same
checkpoint and must drain to exactly-once EFFECTIVE results:

- stream_store: the replayed batch appends duplicate rows (asserted —
  the injection really did bite), and the read-path LWW collapses
  them to the uninterrupted run's exact answer. At-least-once sink +
  idempotent read == exactly-once materialization, the engine's
  documented consistency story (SURVEY §2 op #7).
- stream_kmv: rows_seen is a COUNTER — the one state shape that
  detects a missing state rollback (a non-rolled-back replay would
  double-count the poisoned batch and every later emission would
  inflate). Passing proves the state store (RocksDB + changelog by
  default) reloads the pre-batch version on replay.
- stream_simhash_dedup: the band store is a set-union (idempotent by
  design — Manku-Jain-Sarma), so the verdicts must survive even an
  at-least-once state application; duplicated band rows in the sink
  must collapse to identical per-doc verdicts.
"""

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import __spark_entry__ as entry
import ceres_spark.operators.compact as cp
import ceres_spark.streaming.ingest as sing
import ceres_spark.streaming.neardup as snd
import ceres_spark.streaming.stateful as st


def _arrivals(spark, df, path, n, order_col):
    entry._write_arrival_files_ranged(df, order_col, path, n)


def _drain(q, expect_fail):
    if expect_fail:
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(180)
    else:
        assert q.awaitTermination(180)


def test_store_crash_after_sink_write_before_commit(spark, tmp_path):
    rows = [
        ("m%d" % (i % 3), 1000 + (37 * i) % 5000, float(i % 17), i)
        for i in range(200)
    ]
    schema = "metric string, ts long, value double, arrival_seq long"
    pts = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    _arrivals(spark, pts, src, 4, "arrival_seq")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # reference: uninterrupted replay of the same arrivals
    ref_dir, ref_ck = str(tmp_path / "ref"), str(tmp_path / "ref_ck")
    with entry._replay_shuffle(spark):
        q = sing.stream_store(
            stream(), ref_dir, time_step=600, checkpoint=ref_ck
        )
        _drain(q, expect_fail=False)
    ref = {
        (r["metric"], r["ts"]): r["value"]
        for r in cp.lww_dedup(spark.read.parquet(ref_dir)).collect()
    }

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    poison = {"armed": True}

    def body(df, bid):
        sing.store_batch(df, bid, out, 600)
        if bid == 2 and poison["armed"]:
            poison["armed"] = False
            raise RuntimeError("injected crash: sink wrote, commit didn't")

    def run(expect_fail):
        with entry._replay_shuffle(spark):
            q = (
                stream()
                .writeStream.foreachBatch(body)
                .outputMode("update")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            _drain(q, expect_fail)

    run(expect_fail=True)
    run(expect_fail=False)
    # the poisoned batch landed twice — the injection really bit
    assert (
        spark.read.parquet(out).count()
        > spark.read.parquet(ref_dir).count()
    )
    got = {
        (r["metric"], r["ts"]): r["value"]
        for r in cp.lww_dedup(spark.read.parquet(out)).collect()
    }
    assert got == ref  # no loss, and the dups collapse exactly


def test_kmv_counter_state_rolls_back_on_batch_replay(spark, tmp_path):
    rows = [("t%d" % (i % 2), (i * 7) % 37, 100 + i) for i in range(240)]
    schema = "event_type string, user_id long, ts long"
    feed = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    _arrivals(spark, feed, src, 4, "ts")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def run(out, ck, poison=None):
        def body(df, bid):
            df.withColumn("_bid", F.lit(bid)).write.mode("append").parquet(
                out
            )
            if poison is not None and bid == poison["bid"] and poison["armed"]:
                poison["armed"] = False
                raise RuntimeError("injected crash")

        expect_fail = poison is not None and poison["armed"]
        with entry._replay_shuffle(spark):
            q = (
                st.kmv_stream(stream(), k=8)
                .writeStream.foreachBatch(body)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            _drain(q, expect_fail)

    def final(out):
        df = spark.read.parquet(out)
        w = Window.partitionBy("event_type").orderBy(F.desc("rows_seen"))
        return {
            r["event_type"]: (
                r["rows_seen"], r["n_tracked"], r["est_distinct"]
            )
            for r in df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .collect()
        }

    ref_out, ref_ck = str(tmp_path / "ref"), str(tmp_path / "ref_ck")
    run(ref_out, ref_ck)
    ref = final(ref_out)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    poison = {"bid": 1, "armed": True}
    run(out, ck, poison)   # dies mid-stream after batch 1's sink write
    run(out, ck)           # recovery drains batches 1..3
    assert (
        spark.read.parquet(out).count() > spark.read.parquet(ref_out).count()
    )
    # a non-rolled-back replay double-counts batch 1's rows into
    # rows_seen and every later emission inflates — equality proves
    # the state store reloaded the pre-batch-1 version
    assert final(out) == ref


def test_simhash_band_store_idempotent_under_replay(spark, tmp_path):
    texts = []
    for i in range(30):
        base = (
            f"document {i} alpha beta gamma delta epsilon zeta eta theta"
        )
        texts.append((i, base))
        if i % 5 == 0:
            texts.append((100 + i, base))  # verbatim twin, later batch
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    src = str(tmp_path / "src")
    _arrivals(spark, docs, src, 2, "doc_id")

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def run(out, ck, poison=None):
        def body(df, bid):
            df.write.mode("append").parquet(out)
            if poison is not None and bid == poison["bid"] and poison["armed"]:
                poison["armed"] = False
                raise RuntimeError("injected crash")

        expect_fail = poison is not None and poison["armed"]
        with entry._replay_shuffle(spark):
            q = (
                snd.simhash_dedup_stream(stream(), max_hamming=3)
                .writeStream.foreachBatch(body)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            _drain(q, expect_fail)

    def verdicts(out):
        res = snd.combine_band_verdicts(spark.read.parquet(out))
        return {
            r["doc_id"]: (r["dup_of"], r["is_dup"]) for r in res.collect()
        }

    ref_out, ref_ck = str(tmp_path / "ref"), str(tmp_path / "ref_ck")
    run(ref_out, ref_ck)
    ref = verdicts(ref_out)
    # the twins really are detected in the reference run
    assert sum(1 for d, dup in ref.values() if dup) == 6
    assert all(ref[100 + i] == (i, True) for i in range(0, 30, 5))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    poison = {"bid": 1, "armed": True}
    run(out, ck, poison)
    run(out, ck)
    assert (
        spark.read.parquet(out).count() > spark.read.parquet(ref_out).count()
    )
    assert verdicts(out) == ref
