"""applyInPandasWithState custom operator: state must accumulate
across micro-batches (the property a stateless foreachBatch can't
give you)."""

from pyspark.sql import functions as F

import ceres_spark.streaming.stateful as st


def test_running_stats_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    batches = [
        [("m", 60, 1.0), ("m", 120, 2.0), ("other", 60, 5.0)],
        [("m", 180, 3.0)],
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "metric string, ts long, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "metric string, ts long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = st.running_stats_stream(stream)
    q = out.writeStream.format("memory").queryName("rs").outputMode(
        "update"
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.awaitTermination(120)

    rows = spark.sql("select * from rs").collect()
    # the LAST emission per metric carries the accumulated totals
    final = {}
    for r in rows:
        cur = final.get(r["metric"])
        if cur is None or r["n_events"] >= cur["n_events"]:
            final[r["metric"]] = r
    m = final["m"]
    assert m["n_events"] == 3 and m["sum_value"] == 6.0
    assert m["last_ts"] == 180 and m["last_value"] == 3.0
    o = final["other"]
    assert o["n_events"] == 1 and o["sum_value"] == 5.0
    # state persisted across at least 2 micro-batches for metric m
    m_emissions = [r for r in rows if r["metric"] == "m"]
    assert len(m_emissions) >= 2


def test_holt_stream_equals_batch(spark, tmp_path):
    import math
    import ceres_spark.operators.series as ser

    vals = [3.0, 7.0, 5.0, None, 9.0, 2.0, 2.0, 8.0]
    rows = [("m", i * 60, v) for i, v in enumerate(vals)]
    # non-finite input: the level turns NaN and must stay NaN on both
    # sides (one seed per run), with inf/NaN state crossing a handoff
    rows_inf = [
        ("x", i * 60, v)
        for i, v in enumerate([1.0, 2.0, math.inf, 3.0, 4.0, 5.0])
    ]
    # two micro-batches: state must carry the recurrence across them
    src = str(tmp_path / "src")
    for chunk in (rows[:4] + rows_inf[:4], rows[4:] + rows_inf[4:]):
        spark.createDataFrame(
            chunk, "metric string, ts long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        import time
        time.sleep(1.1)   # distinct mtimes → deterministic batch order

    stream = spark.readStream.schema(
        "metric string, ts long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.holt_winters_stream(
        stream, alpha=0.3, beta=0.05, dev_scale=3.0
    ).writeStream.format("memory").queryName("hw").outputMode(
        "append"
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ck2")
    ).start()
    q.awaitTermination(120)
    got = {
        (r["metric"], r["ts"]): r
        for r in spark.sql("select * from hw").collect()
    }

    batch_in = spark.createDataFrame(
        [(m, t, v, 0) for m, t, v in rows + rows_inf],
        "metric string, ts long, value double, arrival_seq long",
    )
    want = {(r["metric"], r["ts"]): r for r in ser.holt_winters(
        batch_in, alpha=0.3, beta=0.05, dev_scale=3.0).collect()}

    assert set(got) == set(want)
    for ts in want:
        for c in ("forecast", "upper", "lower", "aberration"):
            g, w = got[ts][c], want[ts][c]
            assert (g == w) or (
                g is not None and w is not None
                and math.isnan(g) == math.isnan(w)
                and (math.isnan(g) or abs(g - w) < 1e-12)
            ) or (g is None and (w is None or math.isnan(w))) \
              or (w is None and (g is None or math.isnan(g))), (ts, c, g, w)


def test_holt_seasonal_stream_equals_batch(spark, tmp_path):
    import math
    import time
    import ceres_spark.operators.series as ser

    pattern = [0.0, 4.0, -2.0]
    vals = [10.0 + 0.2 * i + pattern[i % 3] for i in range(12)]
    vals[5] = None
    rows = [("m", i * 60, v) for i, v in enumerate(vals)]
    # non-finite input (see test_holt_stream_equals_batch)
    rows_inf = [
        ("x", i * 60, v)
        for i, v in enumerate([1.0, 2.0, math.inf, 3.0, 4.0, 5.0])
    ]
    src = str(tmp_path / "src")
    # three micro-batches: seasonal vector must survive two handoffs
    for chunk in (
        rows[:4] + rows_inf[:2], rows[4:8] + rows_inf[2:4],
        rows[8:] + rows_inf[4:],
    ):
        spark.createDataFrame(
            chunk, "metric string, ts long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = spark.readStream.schema(
        "metric string, ts long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.holt_winters_seasonal_stream(
        stream, season_length=3, step=60, alpha=0.3, beta=0.05,
        gamma=0.2, dev_scale=3.0,
    ).writeStream.format("memory").queryName("hws").outputMode(
        "append"
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ck3")
    ).start()
    q.awaitTermination(120)
    got = {
        (r["metric"], r["ts"]): r
        for r in spark.sql("select * from hws").collect()
    }

    batch_in = spark.createDataFrame(
        [(m, t, v, 0) for m, t, v in rows + rows_inf],
        "metric string, ts long, value double, arrival_seq long",
    )
    want = {(r["metric"], r["ts"]): r for r in ser.holt_winters(
        batch_in, alpha=0.3, beta=0.05, dev_scale=3.0,
        season_length=3, gamma=0.2, step=60).collect()}

    assert set(got) == set(want)
    for ts in want:
        for c in ("forecast", "upper", "lower", "aberration"):
            g, w = got[ts][c], want[ts][c]
            assert (g == w) or (
                g is not None and w is not None
                and math.isnan(g) == math.isnan(w)
                and (math.isnan(g) or abs(g - w) < 1e-12)
            ) or (g is None and (w is None or math.isnan(w))) \
              or (w is None and (g is None or math.isnan(g))), (ts, c, g, w)


def ref_online_cusum(points, mu0, slack, h):
    """Replay reference for Page's recursion with post-alarm reset."""
    s_hi = s_lo = 0.0
    out = []
    for ts, v in sorted(points):
        s_hi = max(0.0, s_hi + (v - mu0 - slack))
        s_lo = max(0.0, s_lo + (mu0 - slack - v))
        alarm = ""
        if s_hi > h:
            alarm, s_hi = "high", 0.0
        if s_lo > h:
            alarm, s_lo = ("low", 0.0) if not alarm else ("both", 0.0)
        out.append((ts, v, s_hi, s_lo, alarm))
    return out


def test_cusum_stream_matches_replay_across_batches(spark, tmp_path):
    import ceres_spark.streaming.stateful as st

    # level shift mid-stream, split across TWO micro-batches so the
    # recursion state must survive the batch boundary
    pts = [(t * 60, 10.0) for t in range(10)] + [
        ((10 + t) * 60, 13.0) for t in range(10)
    ]
    src = str(tmp_path / "src")
    for chunk in (pts[:12], pts[12:]):
        spark.createDataFrame(
            [("m", ts, v) for ts, v in chunk],
            "metric string, ts long, value double",
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("metric string, ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        st.cusum_stream(stream, mu0=10.0, slack=0.5, h=5.0)
        .writeStream.format("memory")
        .queryName("cusum_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["ts"], r["value"], r["s_hi"], r["s_lo"], r["alarm"])
        for r in spark.table("cusum_s").collect()
    )
    want = ref_online_cusum(pts, 10.0, 0.5, 5.0)
    assert got == want
    # the shift IS detected: at least one high alarm after ts 600
    assert any(a == "high" and ts >= 600 for ts, _, _, _, a in got)


def test_ewma_stream_equals_batch(spark, tmp_path):
    import math
    import time

    import ceres_spark.operators.series as ser

    vals = [3.0, 7.0, None, 5.0, 9.0, 2.0, None, 8.0]
    # "x" turns NaN (inf then -inf) in the first micro-batch: the
    # average is seeded once, so it stays NaN instead of re-seeding
    inf = float("inf")
    rows = [("m", i * 60, v) for i, v in enumerate(vals)] + [
        ("n", i * 60, v) for i, v in enumerate(reversed(vals))
    ] + [("x", i * 60, v) for i, v in enumerate([1.0, inf, -inf, 3.0, 4.0])]
    rows.sort(key=lambda r: r[1])
    src = str(tmp_path / "src")
    # two micro-batches: the (ewma, inited) state must carry across
    # them — the first holds ts 0..120 of every series
    for chunk in (rows[:9], rows[9:]):
        spark.createDataFrame(
            chunk, "metric string, ts long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = spark.readStream.schema(
        "metric string, ts long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.ewma_stream(stream, alpha=0.3).writeStream.format(
        "memory"
    ).queryName("sew_t").outputMode("append").trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ck")).start()
    q.awaitTermination(120)
    got = {
        (r["metric"], r["ts"]): r["ewma"]
        for r in spark.sql("select * from sew_t").collect()
    }

    batch_in = spark.createDataFrame(
        rows, "metric string, ts long, value double"
    )
    want = {
        (r["metric"], r["ts"]): r["ewma"]
        for r in ser.ewma(batch_in, alpha=0.3).collect()
    }
    assert set(got) == set(want)
    for k in want:
        g, w = got[k], want[k]
        # bit-equality is the contract the shared oracle relies on
        assert (g == w) or (
            g is not None and w is not None
            and math.isnan(g) and math.isnan(w)
        ) or (g is None and w is None), (k, g, w)
    # the _EWMA_ORACLE recursion gives [1, inf, nan, nan, nan]; the
    # fold's NaN leaves the Arrow seam as NULL
    assert [got[("x", i * 60)] for i in range(5)] == [
        1.0, inf, None, None, None
    ]


def test_kmv_stream_final_sketch_equals_batch(spark, tmp_path):
    import time

    import ceres_spark.operators.sketches as sk

    # 200 users across 2 types, arriving in 3 batches with REPEATED
    # users across batches — union-then-truncate must dedup and the
    # final sketch must equal the one-shot batch sketch bit-for-bit
    rows = [("click", u) for u in range(150)] + [
        ("view", u) for u in range(40)
    ]
    batches = [rows[0:70], rows[50:140], rows[120:]]  # overlaps
    src = str(tmp_path / "src")
    for chunk in batches:
        spark.createDataFrame(
            chunk, "event_type string, user_id long"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = spark.readStream.schema(
        "event_type string, user_id long"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.kmv_stream(stream, k=64).writeStream.format(
        "memory"
    ).queryName("skmv_t").outputMode("append").trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ck")).start()
    q.awaitTermination(120)
    emitted = spark.sql("select * from skmv_t").collect()
    final = {}
    for r in emitted:
        cur = final.get(r["event_type"])
        if cur is None or r["rows_seen"] > cur["rows_seen"]:
            final[r["event_type"]] = r

    df = spark.createDataFrame(rows, "event_type string, user_id long")
    want = {r["event_type"]: r for r in
            sk.kmv_distinct(df, "event_type", "user_id", k=64).collect()}
    assert set(final) == set(want)
    for et in want:
        assert final[et]["n_tracked"] == want[et]["n_tracked"], et
        assert final[et]["est_distinct"] == want[et]["est_distinct"], et
    # rows_seen counts RAW arrivals incl. cross-batch repeats
    assert final["click"]["rows_seen"] == sum(
        1 for c in batches for t, _ in c if t == "click"
    )
    # below capacity -> exact; at/above capacity -> estimator engaged
    assert final["view"]["n_tracked"] == 40
    assert final["view"]["est_distinct"] == 40.0
    assert final["click"]["n_tracked"] == 64


def test_kmv_stream_state_survives_query_restart(spark, tmp_path):
    """Stop the stream, append new arrivals, START A NEW QUERY on the
    same checkpoint: the sketch (hash set + row counter) must be
    restored, so users seen BEFORE the restart are not double-counted
    and the final estimate equals the one-shot batch sketch."""
    import ceres_spark.operators.sketches as sk

    rows = [("click", u) for u in range(120)]
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once(chunk):
        spark.createDataFrame(
            chunk, "event_type string, user_id long"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            st.kmv_stream(stream, k=64)
            .writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination(180)

    run_once(rows[:70])          # first 70 arrivals, query stops
    run_once(rows[50:])          # NEW query, same checkpoint; 50-69 repeat
    emitted = spark.read.parquet(out).collect()
    final = max(emitted, key=lambda r: r["rows_seen"])
    # raw arrival counter restored across the restart: 70 + 70
    assert final["rows_seen"] == 140
    want = sk.kmv_distinct(
        spark.createDataFrame(rows, "event_type string, user_id long"),
        "event_type", "user_id", k=64,
    ).collect()[0]
    assert final["n_tracked"] == want["n_tracked"]
    assert final["est_distinct"] == want["est_distinct"]
