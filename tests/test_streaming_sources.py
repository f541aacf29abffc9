"""Streaming append + sources/compat layer."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from imcs_spark import sources
from imcs_spark.functions import aggregates as agg
from imcs_spark.streaming import append_stream

from conftest import assert_seq


def test_parse_literal(spark):
    s = sources.parse(spark, "int4:{1,2,3}")
    assert_seq(s, [1, 2, 3])
    d = sources.parse(spark, "float8:{1.5, 2.5}")
    assert_seq(d, [1.5, 2.5])
    with pytest.raises(ValueError):
        sources.parse(spark, "nope")


def test_to_from_array(spark):
    s = sources.parse(spark, "int4:{5,6,7}")
    arr = s.agg(sources.to_array(s).alias("a")).collect()[0]["a"]
    assert arr == [5, 6, 7]
    back = sources.from_array(spark.createDataFrame([([5, 6, 7],)], "a array<int>"), "a")
    assert_seq(back, [5, 6, 7])


def test_call_vectorized(spark):
    s = sources.parse(spark, "float8:{1.0, 4.0, 9.0}")
    out = sources.call(s, lambda x: x**0.5, out_col="r")
    assert [r["r"] for r in out.orderBy("pos").collect()] == [1.0, 2.0, 3.0]


def test_str2code_roundtrip(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",)], "s string")
    coded = sources.str2code(df, "s")
    codes = {r["s"]: r["code"] for r in coded.collect()}
    assert codes["a"] == 0 and codes["b"] == 1
    dictionary = coded.select("s", "code").distinct()
    decoded = sources.code2str(coded.select("code"), dictionary)
    assert sorted(r["s"] for r in decoded.collect()) == ["a", "b", "b"]


def test_third_review_batch_guards(spark):
    """Round-5 third review pass: NULL-preserving decode join, the
    money separator guard no longer false-rejecting decimal lists,
    from_array's multi-row discriminator, delete/concat scope guards,
    and the Hadoop-FS version pointer round trip."""
    import tempfile

    from imcs_spark.table import TsTable

    # code2str keeps NULL-code rows (str2code preserved them; an inner
    # decode join silently dropped exactly those rows on the way back)
    df = spark.createDataFrame([("b",), (None,), ("a",)], "s string")
    coded = sources.str2code(df, "s")
    assert coded.count() == 3
    decoded = sources.code2str(
        coded.select("code"), coded.select("s", "code").distinct()
    )
    assert decoded.count() == 3
    assert decoded.filter(F.col("code").isNull()).count() == 1

    # money: valid decimal lists parse; true thousands shapes still raise
    vals = [r["val"] for r in sources.parse(spark, "money:{1.00,100.00}").collect()]
    assert [float(v) for v in vals] == [1.0, 100.0]
    vals = [r["val"] for r in sources.parse(spark, "money:{100.99,999.01}").collect()]
    assert [float(v) for v in vals] == [100.99, 999.01]
    with pytest.raises(ValueError, match="ambiguous"):
        sources.parse(spark, "money:{$1,000.50}")
    with pytest.raises(ValueError, match="ambiguous"):
        sources.parse(spark, "money:{12,345}")
    vals = [r["val"] for r in sources.parse(spark, 'money:{"$1,000.50",2.00}').collect()]
    assert [float(v) for v in vals] == [1000.50, 2.0]

    # from_array: multi-row frames need a discriminator
    multi = spark.createDataFrame([([1, 2],), ([3, 4],)], "a array<int>")
    with pytest.raises(ValueError, match="multi-row"):
        sources.from_array(multi, "a")
    keyed = spark.createDataFrame([(1, [1, 2]), (2, [3, 4])], "k int, a array<int>")
    out = sources.from_array(keyed, "a", id_col="k")
    assert out.count() == 4 and set(out.columns) == {"k", "pos", "val"}

    # delete on an id-less table must not silently widen scope
    t = TsTable(
        spark, "g",
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "ts long, value double"),
        "ts",
    )
    with pytest.raises(ValueError, match="no id column"):
        t.delete(id_value=7, from_ts=0)
    with pytest.raises(ValueError, match="no id column"):
        t.concat(["x"])

    # concat([]) returns an empty slice instead of a schema-inference crash
    t2 = TsTable(
        spark, "g2",
        spark.createDataFrame([("a", 1, 1.0)], "id string, ts long, value double"),
        "ts", "id",
    )
    assert t2.concat([]).count() == 0

    # versioned save/open round trip through the Hadoop FS pointer
    with tempfile.TemporaryDirectory(prefix="imcs_vsave_") as tmp:
        saved = t2.save(tmp)
        reopened = TsTable.open(spark, "g2", tmp)
        assert reopened.count() == 1
        assert reopened.ts_col == "ts" and reopened.id_col == "id"
        saved.save(tmp)  # second version; open returns the newest
        assert TsTable.open(spark, "g2", tmp).count() == 1


def test_approxdc_tolerance(spark, sf_dir):
    """cs_approxdc parity: HLL++ vs exact within ±15% (FIXTURES.md §6)."""
    ev = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = ev.agg(
        agg.approxdc("l_orderkey").alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.15 * row["exact"]


def test_windowed_agg_stream_watermark_drops_late_row(spark):
    """Event-time tumbling windows with watermark (SURVEY §2.8): a row
    arriving behind the watermark is silently dropped, and append mode
    emits each window exactly once, finalized."""
    import json
    import time as _time

    from imcs_spark.streaming import windowed_agg_stream

    tmp = tempfile.mkdtemp(prefix="imcs_wstream_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    name = f"wagg_{int(_time.time() * 1000)}"

    def feed(fname, rows):
        p = os.path.join(src, fname)
        with open(p + ".tmp", "w") as f:
            for ts, v in rows:
                f.write(json.dumps({"ts": ts, "v": v}) + "\n")
        os.rename(p + ".tmp", p)

    try:
        feed("b1.json", [("2024-01-01 10:00:10", 1.0), ("2024-01-01 10:00:50", 2.0),
                         ("2024-01-01 10:01:40", 3.0)])
        stream = (
            spark.readStream.schema("ts timestamp, v double").json(src)
        )
        agged = windowed_agg_stream(
            stream, "ts", "1 minute", "30 seconds",
            agg_exprs=[F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")],
        )
        q = (
            agged.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        # watermark is now 10:01:40 - 30s = 10:01:10, past the end of
        # the [10:00,10:01) window — a row landing in that window is
        # "too late" (window end <= watermark) and must be dropped.
        feed("b2.json", [("2024-01-01 10:00:20", 100.0), ("2024-01-01 10:02:10", 4.0)])
        q.processAllAvailable()
        # advance far enough to flush [10:01,10:02) and [10:02,10:03)
        feed("b3.json", [("2024-01-01 10:05:00", 5.0)])
        q.processAllAvailable()
        feed("b4.json", [("2024-01-01 10:08:00", 6.0)])
        q.processAllAvailable()
        q.stop()
        got = {
            str(r["window"]["start"]): (r["s"], r["n"])
            for r in spark.sql(f"select * from {name}").collect()
        }
        assert got["2024-01-01 10:00:00"] == (3.0, 2), got  # 1+2, late 100 dropped
        assert got["2024-01-01 10:01:00"] == (3.0, 1), got
        assert got["2024-01-01 10:02:00"] == (4.0, 1), got
        assert got["2024-01-01 10:05:00"] == (5.0, 1), got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ordered_append(spark):
    tmp = tempfile.mkdtemp(prefix="imcs_stream_")
    target = os.path.join(tmp, "table")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    try:
        base = spark.createDataFrame(
            [(1, 100, 1.0), (1, 200, 2.0), (2, 150, 3.0)], "id int, ts long, v double"
        )
        base.write.parquet(target)
        batch = spark.createDataFrame(
            [(1, 300, 4.0), (2, 250, 5.0), (2, 50, 99.0)], "id int, ts long, v double"
        )
        batch.write.parquet(src, mode="overwrite")
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(
            stream, target, "ts", "id", on_violation="drop", checkpoint=chk
        )
        q.awaitTermination(60)
        final = spark.read.parquet(target)
        rows = {(r["id"], r["ts"]) for r in final.collect()}
        assert (1, 300) in rows and (2, 250) in rows
        assert (2, 50) not in rows  # late row dropped
        assert final.count() == 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ordered_append_many_series(spark):
    """The ordering state must be a distributed parquet side table,
    not a driver dict (the old design collected and re-broadcast every
    series max per batch — O(#series) driver memory): 100k series
    across two runs; the second run's late half is dropped, and the
    side table ends with exactly one row per series."""
    tmp = tempfile.mkdtemp(prefix="imcs_stream_many_")
    target = os.path.join(tmp, "table")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    try:
        n = 100_000
        b1 = spark.range(n).select(
            F.col("id").cast("int").alias("id"),
            F.lit(100).cast("long").alias("ts"),
            F.lit(1.0).alias("v"),
        )
        b1.write.parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(300)
        # second run: first half advances (ts=200), second half is late
        # (ts=50 < stored 100) and must drop
        b2 = spark.range(n).select(
            F.col("id").cast("int").alias("id"),
            F.when(F.col("id") < n // 2, F.lit(200)).otherwise(F.lit(50))
            .cast("long").alias("ts"),
            F.lit(2.0).alias("v"),
        )
        b2.write.mode("append").parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(300)
        final = spark.read.parquet(target)
        assert final.count() == n + n // 2
        # versioned side table: latest snapshot has one row per series
        vdirs = sorted(
            d for d in os.listdir(target + "_maxes") if d.startswith("v")
        )
        latest = spark.read.parquet(f"{target}_maxes/{vdirs[-1]}")
        assert latest.count() == n
        got = {r["id"]: r["_maxts"] for r in latest.filter(F.col("id").isin(0, n - 1)).collect()}
        assert got[0] == 200 and got[n - 1] == 100
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_append_replay_uses_pre_snapshot(spark):
    """Crash-replay safety: when a batch's data append landed but its
    post-batch snapshot did not, the replay must check against the
    persisted PRE-append state (v{batch}pre) — not re-derive maxes
    from a table already containing the failed attempt's rows, which
    poisoned 'error' mode permanently."""
    tmp = tempfile.mkdtemp(prefix="imcs_stream_replay_")
    target = os.path.join(tmp, "table")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    try:
        base = spark.createDataFrame(
            [(1, 100, 1.0), (2, 100, 1.0)], "id int, ts long, v double"
        )
        batch_rows = spark.createDataFrame(
            [(1, 200, 2.0), (2, 250, 2.0)], "id int, ts long, v double"
        )
        # simulate the crashed attempt: data table = base + the failed
        # attempt's append; pre-snapshot = the true pre-append maxes
        base.unionByName(batch_rows).write.parquet(target)
        base.groupBy("id").agg(F.max("ts").alias("_maxts")).write.parquet(
            target + "_maxes/v0pre"
        )
        batch_rows.write.parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        # fresh checkpoint -> this run IS batch 0, i.e. the replay.
        # Without the pre-snapshot the derived maxes would be 200/250
        # and error mode would reject the batch's own rows forever.
        q = append_stream(stream, target, "ts", "id", on_violation="error", checkpoint=chk)
        q.awaitTermination(120)
        final = spark.read.parquet(target)
        assert final.count() == 6  # base 2 + failed append 2 + replay 2
        vdirs = sorted(d for d in os.listdir(target + "_maxes"))
        # v0pre survives ITS OWN batch: the stream checkpoint commits
        # only after the batch returns, so the pre snapshot must stay
        # available as the replay fallback until the NEXT batch's GC
        # (deleting it in-batch re-opened the poisoned-target window)
        assert "v0" in vdirs and "v0pre" in vdirs
        maxes = {
            r["id"]: r["_maxts"]
            for r in spark.read.parquet(target + "_maxes/v0").collect()
        }
        assert maxes == {1: 200, 2: 250}
        # the next committed batch reclaims the pre snapshot
        spark.createDataFrame(
            [(1, 300, 3.0)], "id int, ts long, v double"
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="error", checkpoint=chk)
        q.awaitTermination(120)
        vdirs = sorted(d for d in os.listdir(target + "_maxes"))
        assert "v1" in vdirs and "v0pre" not in vdirs
        assert spark.read.parquet(target).count() == 7
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionize_stream_stateful(spark):
    """applyInPandasWithState sessionizer: sessions survive across
    micro-batches in keyed state, close on gap (mid-batch AND
    cross-batch), and the event-time timeout flushes an idle open
    session once the watermark passes."""
    import json
    import time as _time

    from imcs_spark.streaming import sessionize_stream

    tmp = tempfile.mkdtemp(prefix="imcs_sess_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    name = f"sess_{int(_time.time() * 1000)}"

    def feed(fname, rows):
        p = os.path.join(src, fname)
        with open(p + ".tmp", "w") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")
        os.rename(p + ".tmp", p)

    try:
        # user 1: two events 10s apart (one session), then a mid-batch
        # gap >60s opens a second session. user 2: one event.
        feed("b1.json", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:10"),
                         (1, "2024-01-01 10:02:00"), (2, "2024-01-01 10:00:30")])
        stream = spark.readStream.schema("user_id long, ts timestamp").json(src)
        sess = sessionize_stream(stream, "ts", "user_id",
                                 gap_seconds=60, watermark="0 seconds")
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        # batch 2: user 1 continues the OPEN session (state carried
        # across batches); user 2's session stays open.
        feed("b2.json", [(1, "2024-01-01 10:02:30")])
        q.processAllAvailable()
        # batch 3: user 2's event arrives PAST the gap from their open
        # session — the cross-batch-gap close path (regression: this
        # used to also emit a phantom 0-event session). Also advances
        # event time past user 1's open session + gap -> timeout flush.
        feed("b3.json", [(2, "2024-01-01 11:00:00")])
        q.processAllAvailable()
        feed("b4.json", [(3, "2024-01-01 12:00:00")])
        q.processAllAvailable()
        q.stop()
        rows = spark.sql(f"select * from {name}").collect()
        got = {
            (r["user_id"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
            for r in rows
        }
        # user 1 session A: closed by the mid-batch gap in b1
        assert got[(1, "2024-01-01 10:00:00")] == ("2024-01-01 10:00:10", 2), got
        # user 1 session B: extended in b2 (cross-batch state), closed by timeout
        assert got[(1, "2024-01-01 10:02:00")] == ("2024-01-01 10:02:30", 2), got
        # user 2 session A: closed by the CROSS-BATCH gap in b3
        assert got[(2, "2024-01-01 10:00:30")] == ("2024-01-01 10:00:30", 1), got
        # user 2 session B: opened by b3's event, closed by timeout after b4
        assert got[(2, "2024-01-01 11:00:00")] == ("2024-01-01 11:00:00", 1), got
        # no phantom sessions: every emitted session has >= 1 event,
        # and exactly the four closed sessions above were emitted
        # (user 3's session is still open at stop, so never emitted)
        assert all(r["n_events"] >= 1 for r in rows), rows
        assert len(rows) == 4, rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_stream_drops_cross_batch_duplicates(spark):
    """Streaming exact dedup: duplicate content arriving in a LATER
    micro-batch (within the watermark) is dropped; novel content
    passes."""
    import json
    import time as _time

    from imcs_spark.streaming import dedup_stream

    tmp = tempfile.mkdtemp(prefix="imcs_dstream_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    name = f"ddup_{int(_time.time() * 1000)}"

    def feed(fname, rows):
        p = os.path.join(src, fname)
        with open(p + ".tmp", "w") as f:
            for ts, i, t in rows:
                f.write(json.dumps({"ts": ts, "doc_id": i, "text": t}) + "\n")
        os.rename(p + ".tmp", p)

    try:
        feed("b1.json", [("2024-01-01 10:00:00", 0, "hello world"),
                         ("2024-01-01 10:00:01", 1, "Hello   world")])  # dup of 0 after normalize
        stream = spark.readStream.schema("ts timestamp, doc_id long, text string").json(src)
        out = dedup_stream(stream, "text", ts_col="ts", watermark="1 hour")
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        )
        q.processAllAvailable()
        feed("b2.json", [("2024-01-01 10:00:05", 2, "hello world"),   # cross-batch dup
                         ("2024-01-01 10:00:06", 3, "novel content")])
        q.processAllAvailable()
        q.stop()
        ids = sorted(r["doc_id"] for r in spark.sql(f"SELECT * FROM {name}").collect())
        assert ids == [0, 3]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionize_stream_native_boundaries(spark):
    """Pin the built-in session_window conventions the
    streaming_sessionize oracle depends on: (a) an event arriving
    EXACTLY gap seconds after the previous one MERGES into the same
    session (touching windows merge; split only on diff > gap), and
    (b) append mode emits exactly the sessions whose end + gap is <=
    the final watermark (max event ts - delay) — boundary inclusive."""
    import datetime as dt

    from imcs_spark.streaming import sessionize_stream_native

    base = dt.datetime(2024, 1, 1)
    last = base + dt.timedelta(days=30)
    rows = [
        # user 1: exact-gap chain -> ONE session of 3 events
        (1, base),
        (1, base + dt.timedelta(seconds=3600)),
        (1, base + dt.timedelta(seconds=5400)),
        # user 4: gap + 1us -> TWO sessions
        (4, base),
        (4, base + dt.timedelta(seconds=3600, microseconds=1)),
        # emission boundary (watermark = last - 1h):
        (5, last - dt.timedelta(hours=2)),             # end+gap == wm -> emitted
        (6, last - dt.timedelta(hours=2, seconds=-1)), # end+gap == wm+1s -> held
        (7, last - dt.timedelta(hours=2, seconds=1)),  # end+gap == wm-1s -> emitted
        (9, last),
    ]
    tmp = tempfile.mkdtemp(prefix="imcs_sessnat_")
    try:
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        df.repartition(1).write.mode("overwrite").parquet(tmp + "/src")
        stream = spark.readStream.schema(df.schema).parquet(tmp + "/src")
        out = sessionize_stream_native(stream, "ts", "user_id", 3600, "1 hour")
        name = "sessnat_pin"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["user_id"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        # (a) exact-gap chain merged into one 3-event session
        assert got[(1, "2024-01-01 00:00:00")] == ("2024-01-01 01:30:00", 3), got
        # gap + 1us split: both singleton sessions emitted
        assert got[(4, "2024-01-01 00:00:00")][1] == 1, got
        assert got[(4, "2024-01-01 01:00:00.000001")][1] == 1, got
        # (b) emission boundary inclusive at end + gap == watermark
        emitted_users = {u for (u, _s) in got}
        assert 5 in emitted_users and 7 in emitted_users, got
        assert 6 not in emitted_users and 9 not in emitted_users, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionize_stream_late_event_keeps_boundaries(spark):
    """A late-but-in-watermark event that sorts BEFORE the stored
    session must extend session_start backwards and must NOT regress
    the stored end/timeout (which used to close the session early with
    session_end = the late timestamp)."""
    import json
    import time as _time

    from imcs_spark.streaming import sessionize_stream

    tmp = tempfile.mkdtemp(prefix="imcs_sess_late_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    name = f"sess_late_{int(_time.time() * 1000)}"

    def feed(fname, rows):
        p = os.path.join(src, fname)
        with open(p + ".tmp", "w") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")
        os.rename(p + ".tmp", p)

    try:
        feed("b1.json", [(1, "2024-01-01 10:00:00")])
        stream = spark.readStream.schema("user_id long, ts timestamp").json(src)
        sess = sessionize_stream(stream, "ts", "user_id",
                                 gap_seconds=60, watermark="30 minutes")
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        # late event 30 s BEFORE the stored session start (in watermark,
        # within gap): extends the session backwards
        feed("b2.json", [(1, "2024-01-01 09:59:30")])
        q.processAllAvailable()
        # advance event time far enough that watermark (max - 30min)
        # passes the session timeout (end + 60s)
        feed("b3.json", [(9, "2024-01-01 12:00:00")])
        q.processAllAvailable()
        feed("b4.json", [(9, "2024-01-01 13:00:00")])
        q.processAllAvailable()
        q.stop()
        rows = [r for r in spark.sql(f"select * from {name}").collect()
                if r["user_id"] == 1]
        assert len(rows) == 1, rows
        r = rows[0]
        assert str(r["session_start"]) == "2024-01-01 09:59:30", r
        assert str(r["session_end"]) == "2024-01-01 10:00:00", r  # no regress
        assert r["n_events"] == 2, r
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionize_stream_late_event_beyond_gap_is_own_session(spark):
    """A late in-watermark event arriving more than a gap BEFORE the
    stored session must form its OWN earlier session (the old end-only
    comparison merged it unconditionally into one wrong span)."""
    import json
    import time as _time

    from imcs_spark.streaming import sessionize_stream

    tmp = tempfile.mkdtemp(prefix="imcs_sess_late2_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    name = f"sess_late2_{int(_time.time() * 1000)}"

    def feed(fname, rows):
        p = os.path.join(src, fname)
        with open(p + ".tmp", "w") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")
        os.rename(p + ".tmp", p)

    try:
        feed("b1.json", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00")])
        stream = spark.readStream.schema("user_id long, ts timestamp").json(src)
        sess = sessionize_stream(stream, "ts", "user_id",
                                 gap_seconds=60, watermark="2 hours")
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        # b1 formed two sessions (10:00 and 10:10 are > 60s apart); the
        # 10:00 one closed, 10:10 stays open. Now a late event one hour
        # earlier (in the 2h watermark) must be ITS OWN closed session,
        # not a merge into [09:00, 10:10].
        feed("b2.json", [(1, "2024-01-01 09:00:00")])
        q.processAllAvailable()
        # flush the open session via timeout
        feed("b3.json", [(9, "2024-01-01 15:00:00")])
        q.processAllAvailable()
        feed("b4.json", [(9, "2024-01-01 16:00:00")])
        q.processAllAvailable()
        q.stop()
        rows = [r for r in spark.sql(f"select * from {name}").collect()
                if r["user_id"] == 1]
        got = {str(r["session_start"]): (str(r["session_end"]), r["n_events"])
               for r in rows}
        assert got == {
            "2024-01-01 09:00:00": ("2024-01-01 09:00:00", 1),
            "2024-01-01 10:00:00": ("2024-01-01 10:00:00", 1),
            "2024-01-01 10:10:00": ("2024-01-01 10:10:00", 1),
        }, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionize_stream_rejects_string_key(spark):
    from imcs_spark.streaming import sessionize_stream

    stream = spark.readStream.schema("user_id string, ts timestamp").format("rate").load() \
        if False else None
    df = spark.createDataFrame([], "user_id string, ts timestamp")
    with pytest.raises(TypeError, match="integer type"):
        sessionize_stream(df, "ts", "user_id")


def test_streaming_near_dedup(spark):
    """near_dedup_stream must equal the batch greedy candidate rule
    (drop any doc sharing an LSH band bucket with a smaller-id doc)
    when ids are assigned in arrival order — across TWO stream runs
    (cross-batch state via the versioned bucket side table), and the
    sim_threshold gate must pass everything when set above 1.0."""
    import random

    from pyspark.sql import functions as F

    from imcs_spark.pipeline import dedup as D
    from imcs_spark.streaming import near_dedup_stream

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]

    def text(seed_words, mutate_at=None):
        ws = list(seed_words)
        if mutate_at is not None:
            ws[mutate_at] = "mut" + str(mutate_at)
        return " ".join(ws)

    bases = [[rng.choice(vocab) for _ in range(30)] for _ in range(8)]
    run1, run2 = [], []
    nid = 0
    for b in range(6):
        run1.append((nid, text(bases[b]))); nid += 1
    # near-dups of bases 0 and 1 inside run 1
    run1.append((nid, text(bases[0], 3))); nid += 1
    run1.append((nid, text(bases[1], 7))); nid += 1
    for b in range(6, 8):
        run2.append((nid, text(bases[b]))); nid += 1
    # cross-batch near-dups of bases 0 and 5
    run2.append((nid, text(bases[0], 11))); nid += 1
    run2.append((nid, text(bases[5], 2))); nid += 1

    tmp = tempfile.mkdtemp(prefix="imcs_neardup_")
    target = os.path.join(tmp, "kept")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    try:
        spark.createDataFrame(run1, "doc_id long, text string").coalesce(1).write.parquet(
            src, mode="append"
        )
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = near_dedup_stream(stream, target, checkpoint=chk, bands=16)
        q.awaitTermination(120)
        spark.createDataFrame(run2, "doc_id long, text string").coalesce(1).write.parquet(
            src, mode="append"
        )
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = near_dedup_stream(stream, target, checkpoint=chk, bands=16)
        q.awaitTermination(120)

        kept = {r["doc_id"] for r in spark.read.parquet(target).collect()}

        # batch reference: arrival order == id order, so the greedy
        # rule is exactly "no bucket with a smaller-id occupant"
        all_docs = spark.createDataFrame(run1 + run2, "doc_id long, text string")
        sigs = D.minhash_signatures(all_docs, num_hashes=32)
        bb = D.band_buckets(sigs, "doc_id", 32, 16)
        mins = bb.groupBy("band", "bucket").agg(F.min("doc_id").alias("m"))
        dropped = (
            bb.join(mins, ["band", "bucket"])
            .filter(F.col("doc_id") > F.col("m"))
            .select("doc_id").distinct()
        )
        ref = {r["doc_id"] for r in all_docs.join(dropped, "doc_id", "left_anti").collect()}
        assert kept == ref
        # sanity: the planted near-dups actually collided and dropped
        assert 6 not in kept and 7 not in kept  # in-batch near-dups
        assert 10 not in kept and 11 not in kept  # cross-batch near-dups

        # gate above 1.0: estimated similarity can never reach it, so
        # every document survives the sim-gated variant
        target2 = os.path.join(tmp, "kept2")
        chk2 = os.path.join(tmp, "chk2")
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = near_dedup_stream(
            stream, target2, checkpoint=chk2, bands=16, sim_threshold=1.01
        )
        q.awaitTermination(120)
        kept2 = {r["doc_id"] for r in spark.read.parquet(target2).collect()}
        assert kept2 == {i for i, _ in run1 + run2}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_state_reshape_same_path(spark):
    """Round-12 ADVICE (medium) regression test: DELETE a stream's
    target+state+checkpoint and recreate it at the SAME paths with a
    DIFFERENT id type in the same driver process. The per-path state
    schema cache must be invalidated when state is created fresh —
    before the fix it served the old long-id schema and the recreated
    stream read every hub id as NULL, silently corrupting dedup state
    instead of gating cross-run near-duplicates."""
    from imcs_spark.streaming import near_dedup_stream

    words = [f"tok{i}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(words[:35] + ["mutA", *words[36:]])

    tmp = tempfile.mkdtemp(prefix="imcs_reshape_")
    target = os.path.join(tmp, "kept")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")

    def run_stream(schema):
        stream = spark.readStream.schema(schema).parquet(src)
        q = near_dedup_stream(stream, target, checkpoint=chk, bands=16)
        q.awaitTermination(120)

    try:
        # lifecycle 1: LONG ids, two runs so the second run's state
        # read populates the schema cache for this side-table path
        os.makedirs(src)
        spark.createDataFrame(
            [(0, base)], "doc_id long, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        run_stream("doc_id long, text string")
        spark.createDataFrame(
            [(1, near)], "doc_id long, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        run_stream("doc_id long, text string")
        assert {r["doc_id"] for r in spark.read.parquet(target).collect()} == {0}

        # reshape: wipe EVERYTHING and recreate at the same paths with
        # STRING ids in the same driver process
        shutil.rmtree(tmp)
        os.makedirs(src)
        spark.createDataFrame(
            [("a0", base)], "doc_id string, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        run_stream("doc_id string, text string")
        spark.createDataFrame(
            [("a1", near)], "doc_id string, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        run_stream("doc_id string, text string")

        # the cross-run near-dup must be gated — which requires the
        # second run to have read REAL string hub ids from state, not
        # the NULLs a stale long-id schema would produce
        kept = {r["doc_id"] for r in spark.read.parquet(target).collect()}
        assert kept == {"a0"}
        state_dir = target + "_buckets"
        vdirs = [d for d in os.listdir(state_dir) if d.startswith("v")]
        cells = spark.read.parquet(
            *[os.path.join(state_dir, d, "cells") for d in vdirs
              if os.path.isdir(os.path.join(state_dir, d, "cells"))]
        )
        n_null = cells.filter(F.col("hub_id").isNull()).count()
        assert n_null == 0 and cells.count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_idempotent_append_replaces_batch_output(spark):
    """The streaming data append writes each batch under deterministic
    file names: re-running the same (prefix, batch) REPLACES the prior
    attempt's files instead of appending a second copy (the crash-
    replay duplicate path of a plain mode('append')), while a new
    batch id appends alongside."""
    from imcs_spark.streaming import _idempotent_append

    tmp = tempfile.mkdtemp(prefix="imcs_idem_")
    tgt = os.path.join(tmp, "t")
    try:
        df = spark.range(10)
        _idempotent_append(spark, df, tgt, "batch-tok-0-")
        assert spark.read.parquet(tgt).count() == 10
        # replay of the same batch: replaced, not duplicated
        _idempotent_append(spark, df, tgt, "batch-tok-0-")
        assert spark.read.parquet(tgt).count() == 10
        # next batch appends
        _idempotent_append(spark, spark.range(5), tgt, "batch-tok-1-")
        assert spark.read.parquet(tgt).count() == 15
        # replay with different row distribution still replaces whole
        _idempotent_append(spark, spark.range(3), tgt, "batch-tok-1-")
        assert spark.read.parquet(tgt).count() == 13
        # per-batch scratch dirs are cleaned up (the shared _staging
        # parent is deliberately kept: deleting it would race another
        # stream's in-flight scratch write)
        assert os.listdir(tgt + "_staging") == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_sim_gate_uses_true_hub(spark, monkeypatch):
    """With sim_threshold set, a doc colliding in a cell whose hub is
    an EARLIER-batch occupant must be gated against THAT hub only —
    not against the batch-local minimum id (which over-drops: similar
    to the batch min but dissimilar to the true hub must survive under
    the star convention). Signatures are injected per doc_id so the
    collision pattern is exact: H=[1,1,2,2]; A=[1,1,9,9] and
    B=[1,1,9,8] share H's (1,1) band but est-sim(·,H)=0.5 < 0.6, while
    est-sim(B,A)=0.75 >= 0.6 — the old batch-min gate dropped B."""
    from imcs_spark.pipeline import dedup as D
    from imcs_spark.streaming import near_dedup_stream

    SIGS = {0: [1, 1, 2, 2], 1: [1, 1, 9, 9], 2: [1, 1, 9, 8]}

    def fake_sigs(df, text_col="text", id_col="doc_id", num_hashes=4, **kw):
        lit = df.sparkSession.createDataFrame(
            [(i, *s) for i, s in SIGS.items()],
            f"{id_col} long, " + ", ".join(f"mh_{k} long" for k in range(4)),
        )
        return df.select(id_col).join(lit, id_col)

    monkeypatch.setattr(D, "minhash_signatures", fake_sigs)

    tmp = tempfile.mkdtemp(prefix="imcs_hubgate_")
    target = os.path.join(tmp, "kept")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    try:
        spark.createDataFrame(
            [(0, "doc H")], "doc_id long, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = near_dedup_stream(
            stream, target, checkpoint=chk, num_hashes=4, bands=2, sim_threshold=0.6
        )
        q.awaitTermination(120)
        spark.createDataFrame(
            [(1, "doc A"), (2, "doc B")], "doc_id long, text string"
        ).coalesce(1).write.parquet(src, mode="append")
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = near_dedup_stream(
            stream, target, checkpoint=chk, num_hashes=4, bands=2, sim_threshold=0.6
        )
        q.awaitTermination(120)
        kept = {r["doc_id"] for r in spark.read.parquet(target).collect()}
        assert kept == {0, 1, 2}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_append_stream_without_success_markers(spark):
    """With mapreduce.fileoutputcommitter.marksuccessfuljobs=false (a
    common object-store tuning) Hadoop writes no _SUCCESS files; the
    protocol must still see its own snapshots via its _COMMITTED
    marker. Observable: batch 1 READS v0 instead of re-deriving state
    from the target — the derive path would have written a v1pre
    snapshot (which the corrected GC keeps until batch 2)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = conf.get(key)
    conf.set(key, "false")
    tmp = tempfile.mkdtemp(prefix="imcs_nomark_")
    target = os.path.join(tmp, "t")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "in")
    try:
        spark.createDataFrame(
            [(1, 100, 1.0)], "id int, ts long, v double"
        ).write.parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(120)
        vdir = target + "_maxes/v0"
        assert os.path.exists(vdir + "/_COMMITTED")
        assert not os.path.exists(vdir + "/_SUCCESS")  # markers really off
        # batch 1: one late row (dropped) + one fresh row
        spark.createDataFrame(
            [(1, 50, 9.0), (1, 200, 2.0)], "id int, ts long, v double"
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(120)
        got = sorted(
            r["ts"] for r in spark.read.parquet(target).collect()
        )
        assert got == [100, 200]  # late 50 dropped against the v0 state
        # the snapshot was READ, not re-derived: no v1pre was created
        assert not os.path.exists(target + "_maxes/v1pre")
        assert os.path.exists(target + "_maxes/v1/_COMMITTED")
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)
        shutil.rmtree(tmp, ignore_errors=True)


def test_append_stream_fresh_target_replay(spark):
    """Replay of a crashed FIRST batch over an initially-absent
    target: the empty pre-snapshot written before the first append
    routes the replay through the true (empty) state instead of
    deriving maxes from the failed attempt's own files — which in
    'drop' mode would silently delete every row behind its series'
    in-batch max, and the idempotent replace would shrink the table."""
    tmp = tempfile.mkdtemp(prefix="imcs_fresh_replay_")
    target = os.path.join(tmp, "t")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "in")
    try:
        spark.createDataFrame(
            [(1, 100, 1.0), (1, 200, 2.0)], "id int, ts long, v double"
        ).write.parquet(src)
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(120)
        assert spark.read.parquet(target).count() == 2
        # the fresh-target empty pre-snapshot exists and is committed
        assert os.path.exists(target + "_maxes/v0pre/_COMMITTED")
        assert spark.read.parquet(target + "_maxes/v0pre").count() == 0
        # simulate the crash window: post-snapshot written but
        # checkpoint not committed -> replay = drop v0 + checkpoint
        shutil.rmtree(chk)
        shutil.rmtree(target + "_maxes/v0")
        stream = spark.readStream.schema("id int, ts long, v double").parquet(src)
        q = append_stream(stream, target, "ts", "id", on_violation="drop", checkpoint=chk)
        q.awaitTermination(120)
        # exactly-once: rows replaced, neither duplicated (4) nor
        # self-filtered (1 - the derive-branch bug this test pins)
        got = sorted(r["ts"] for r in spark.read.parquet(target).collect())
        assert got == [100, 200]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _dir_bytes(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def test_near_dedup_stream_delta_state(spark):
    """State maintenance must be O(batch), not O(corpus): after a
    large seeding batch, each small batch writes a DELTA version whose
    size scales with the batch's new cells, not the corpus-scale
    bucket table — and no new full snapshot appears until compaction.
    Semantics stay the greedy rule across all batches."""
    from pyspark.sql import functions as F

    from imcs_spark.pipeline import dedup as D
    from imcs_spark.streaming import near_dedup_stream

    import random

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(4000)]

    def mk(i):
        return (i, " ".join(rng.choice(vocab) for _ in range(25)))

    big = [mk(i) for i in range(400)]
    smalls = [[mk(400 + 5 * b + j) for j in range(5)] for b in range(5)]

    tmp = tempfile.mkdtemp(prefix="imcs_delta_")
    target = os.path.join(tmp, "kept")
    side = target + "_buckets"
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)

    def feed(rows, fname, mtime):
        p = os.path.join(src, fname)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(p + "_stage")
        part = [f for f in os.listdir(p + "_stage") if f.startswith("part-")][0]
        os.replace(os.path.join(p + "_stage", part), p)
        shutil.rmtree(p + "_stage")
        os.utime(p, (mtime, mtime))

    try:
        base_t = 1_700_000_000
        feed(big, "b000.parquet", base_t)
        for b, rows in enumerate(smalls):
            feed(rows, f"b{b+1:03d}.parquet", base_t + 10 * (b + 1))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = near_dedup_stream(stream, target, checkpoint=chk, bands=16)
        q.awaitTermination(240)

        dirs = sorted(os.listdir(side))
        # batch 0 wrote the full v0 snapshot; batches 1..5 wrote ONLY
        # deltas (compact_every=8 not yet reached) — the O(corpus)
        # rewrite-per-batch is gone
        assert [d for d in dirs if d.startswith("v")] == ["v0"], dirs
        assert [d for d in dirs if d.startswith("d")] == [
            "d1", "d2", "d3", "d4", "d5"
        ], dirs
        v0 = _dir_bytes(os.path.join(side, "v0"))
        for b in range(1, 6):
            db = _dir_bytes(os.path.join(side, f"d{b}"))
            # 5-doc delta vs 400-doc snapshot: bytes written per batch
            # track the batch, not the corpus (parquet floor ~ a few
            # KB per file; v0 is written with the plan's parallelism
            # so compare against a generous fraction)
            assert db < v0 / 2, (b, db, v0)

        # semantics: greedy rule over the whole corpus
        all_rows = big + [r for s in smalls for r in s]
        all_docs = spark.createDataFrame(all_rows, "doc_id long, text string")
        sigs = D.minhash_signatures(all_docs, num_hashes=32)
        bb = D.band_buckets(sigs, "doc_id", 32, 16)
        mins = bb.groupBy("band", "bucket").agg(F.min("doc_id").alias("m"))
        dropped = (
            bb.join(mins, ["band", "bucket"])
            .filter(F.col("doc_id") > F.col("m"))
            .select("doc_id")
            .distinct()
        )
        ref = {
            r["doc_id"]
            for r in all_docs.join(dropped, "doc_id", "left_anti").collect()
        }
        kept = {r["doc_id"] for r in spark.read.parquet(target).collect()}
        assert kept == ref
        # state integrity: v0 ∪ deltas covers exactly the corpus cells
        # (split layout: the narrow cells sub-table is the cell set)
        state = spark.read.parquet(
            os.path.join(side, "v0", "cells"),
            *[os.path.join(side, f"d{b}", "cells") for b in range(1, 6)],
        )
        expect_cells = bb.select("band", "bucket").distinct().count()
        assert state.count() == expect_cells  # disjoint + complete
        assert state.select("band", "bucket").distinct().count() == expect_cells
        # sigs sub-table: ONE row per hub doc, never per cell — the
        # round-10 layout claim the 6-8x read cut rests on
        sig = spark.read.parquet(
            os.path.join(side, "v0", "sigs"),
            *[os.path.join(side, f"d{b}", "sigs") for b in range(1, 6)],
        )
        n_hubs = state.select("hub_id").distinct().count()
        assert sig.count() == n_hubs
        assert sig.select("hub_id").distinct().count() == n_hubs
        assert sig.count() < expect_cells  # strictly narrower than cells
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_state_v1_flat_compat(spark):
    """_read_state must read a v1 FLAT state dir (band, bucket,
    hub_id, mh_*) alongside a v2 split dir: a stream upgraded
    mid-corpus has a v1 base + v2 deltas until the next compaction.
    The v1 sigs come back with one row per CELL (deduped only at
    compaction, which the legacy flag triggers)."""
    from imcs_spark.streaming import _read_state, _write_state

    tmp = tempfile.mkdtemp(prefix="imcs_v1compat_")
    try:
        flat = spark.createDataFrame(
            [(0, 10, 100, 7, 8), (1, 11, 100, 7, 8), (0, 12, 101, 5, 6)],
            "band int, bucket long, hub_id long, mh_0 long, mh_1 long",
        )
        v1 = os.path.join(tmp, "v0")
        flat.write.parquet(v1)
        v2 = os.path.join(tmp, "d1")
        _write_state(
            spark,
            spark.createDataFrame([(0, 13, 102)], "band int, bucket long, hub_id long"),
            spark.createDataFrame([(102, 1, 2)], "hub_id long, mh_0 long, mh_1 long"),
            v2,
            n_files=1,
        )
        cells, sigs, legacy = _read_state(spark, [v1, v2])
        assert legacy is True
        assert cells.count() == 4
        got = {
            (r["hub_id"], r["mh_0"], r["mh_1"]) for r in sigs.collect()
        }
        assert got == {(100, 7, 8), (101, 5, 6), (102, 1, 2)}
        # v1 sigs are per-cell: hub 100 occupies two cells -> 2 rows
        assert sigs.count() == 4
        # v2-only read carries no legacy flag
        _, _, legacy2 = _read_state(spark, [v2])
        assert legacy2 is False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_stream_compaction_gc(spark):
    """compact_every=3: batches 1-2 write deltas, batch 3 compacts to
    v3 (keeping v0+d1+d2 as its replay fallback until the NEXT batch),
    batch 4 writes d4 and GCs the superseded v0/d1/d2."""
    from imcs_spark.streaming import near_dedup_stream

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(10)]
    tmp = tempfile.mkdtemp(prefix="imcs_compact_")
    target = os.path.join(tmp, "kept")
    side = target + "_buckets"
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)

    def feed(rs, fname, mtime):
        p = os.path.join(src, fname)
        spark.createDataFrame(rs, "doc_id long, text string").coalesce(
            1
        ).write.parquet(p + "_stage")
        part = [f for f in os.listdir(p + "_stage") if f.startswith("part-")][0]
        os.replace(os.path.join(p + "_stage", part), p)
        shutil.rmtree(p + "_stage")
        os.utime(p, (mtime, mtime))

    try:
        t0 = 1_700_000_000
        for b in range(5):
            feed(rows[2 * b : 2 * b + 2], f"b{b:03d}.parquet", t0 + 10 * b)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = near_dedup_stream(
            stream, target, checkpoint=chk, bands=16, compact_every=3
        )
        q.awaitTermination(240)
        dirs = sorted(os.listdir(side))
        assert [d for d in dirs if d.startswith("v")] == ["v3"], dirs
        assert [d for d in dirs if d.startswith("d")] == ["d4"], dirs
        # compacted state + trailing delta still cover every doc's cells
        state = spark.read.parquet(
            os.path.join(side, "v3", "cells"), os.path.join(side, "d4", "cells")
        )
        assert state.count() == state.select("band", "bucket").distinct().count()
        kept = {r["doc_id"] for r in spark.read.parquet(target).collect()}
        assert kept == {i for i, _ in rows}  # all texts distinct-ish
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_stream_query_leg(spark, sf_dir):
    """The driver leg: documents replayed as three id-ordered
    micro-batches through near_dedup_stream. The build asserts >= 2
    micro-batches internally (cross-batch state must actually be
    exercised); here we pin that the kept-set is a strict, non-empty
    subset reproducible from the artifact cache. Full cross-engine
    value verification runs in the driver against the DuckDB minhash
    twin (oracle_minhash.minhash_kept_ctes)."""
    from imcs_spark.queries import QUERIES

    df = QUERIES["near_dedup_stream"](spark, sf_dir)
    kept = {r["doc_id"] for r in df.collect()}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept and kept < all_ids  # something kept, something dropped
    # artifact-cached second call returns the same set with no new run
    again = {r["doc_id"] for r in QUERIES["near_dedup_stream"](spark, sf_dir).collect()}
    assert again == kept


def test_state_scan_in_pushdown_reaches_parquet(spark):
    """The trickle-batch fast path's machinery, plan-asserted: with
    the inFilterThreshold raised (as handle_batch does for a <=512
    bucket batch), an isin() over the range-sorted cells sub-table is
    pushed to the parquet scan as an In predicate — the sorted layout's
    row-group/page stats can then skip most of a corpus-scale state
    for a handful of late documents. Without the raise Spark degrades
    the pushed filter to a min/max range, useless for uniform hash
    buckets (this test pins the conf interplay, not just our code)."""
    from pyspark.sql import functions as F

    from imcs_spark.streaming import _write_state

    tmp = tempfile.mkdtemp(prefix="imcs_inpush_")
    try:
        cells = spark.range(5000).select(
            (F.col("id") % 8).cast("int").alias("band"),
            F.xxhash64("id").alias("bucket"),
            F.col("id").alias("hub_id"),
        )
        sigs = spark.range(0).select(
            F.col("id").alias("hub_id"), F.col("id").alias("mh_0")
        )
        _write_state(spark, cells, sigs, os.path.join(tmp, "v0"), sort=True)
        vals = [r[0] for r in
                spark.read.parquet(os.path.join(tmp, "v0", "cells"))
                .select("bucket").limit(40).collect()]
        prev = spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "10")
        try:
            spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
            df = spark.read.parquet(os.path.join(tmp, "v0", "cells")).filter(
                F.col("bucket").isin(vals)
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "PushedFilters" in plan
            # the In predicate itself must reach the scan (not a
            # degraded >=min/<=max range pair)
            assert "In(bucket" in plan, plan[:2000]
            assert df.count() == len(set(vals)) or df.count() >= len(vals) - 1
        finally:
            spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", prev)
        # a pushed predicate only SKIPS if the stats are tight: the
        # bucket-major sort must keep every row group's bucket span a
        # small fraction of the 64-bit range (round-10 review finding:
        # band-major sorting left spans at 0.25-1.0 of the range and
        # nothing skipped despite the pushed In)
        import glob

        import pyarrow.parquet as pq

        full = float(2**64)
        spans = []
        for f in glob.glob(os.path.join(tmp, "v0", "cells", "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                st = md.row_group(rg).column(names.index("bucket")).statistics
                spans.append((st.max - st.min) / full)
        assert spans and max(spans) < 0.15, spans
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_trickle_batch_restores_in_filter_threshold(spark):
    """A trickle batch raises inFilterThreshold to 1024 for its own
    plans; handle_batch's finally must restore the SESSION value
    afterwards (round-10 review: the restore guard had been placed in
    append_stream — which never touches the conf — so every trickle
    batch leaked a session-wide planner change)."""
    from pyspark.sql import functions as F

    from imcs_spark.pipeline import dedup as D
    from imcs_spark.streaming import near_dedup_stream

    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    tmp = tempfile.mkdtemp(prefix="imcs_trickle_conf_")
    target = os.path.join(tmp, "kept")
    chk = os.path.join(tmp, "chk")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(300)]

    def text():
        return " ".join(rng.choice(vocab) for _ in range(30))

    run1 = [(i, text()) for i in range(3)]
    run2 = [(10 + i, text()) for i in range(3)]
    prev = spark.conf.get(key, "10")
    try:
        # sentinel: any leak of the raised value is distinguishable
        # from both the default and the raise
        spark.conf.set(key, "7")
        # precondition pin: run 2's batch takes the trickle path
        # (<= 512 distinct buckets), else this test checks nothing
        sigs = D.minhash_signatures(
            spark.createDataFrame(run2, "doc_id long, text string"),
            num_hashes=32,
        )
        nb = (
            D.band_buckets(sigs, "doc_id", 32, 16)
            .select("bucket").distinct().count()
        )
        assert nb <= 512, nb

        for run in (run1, run2):
            spark.createDataFrame(
                run, "doc_id long, text string"
            ).coalesce(1).write.parquet(src, mode="append")
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(src)
            q = near_dedup_stream(stream, target, checkpoint=chk, bands=16)
            q.awaitTermination(120)
        assert spark.conf.get(key) == "7"
        assert spark.read.parquet(target).count() == 6
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(tmp, ignore_errors=True)


def test_uncommitted_v2_version_ignored(spark):
    """Crash between the cells and sigs writes of a v2 state version:
    the version-level _COMMITTED marker is stamped only after BOTH
    sub-tables land, so a half-written version (cells present, sigs +
    marker missing) must be invisible to _versions — the replay
    rewrites it instead of reading garbage. A committed neighbor stays
    visible. (Hadoop's _SUCCESS lives inside the SUBDIRS in v2, so it
    can never make the version dir look committed.)"""
    from pyspark.sql import functions as F

    from imcs_spark.streaming import _versions, _write_state

    tmp = tempfile.mkdtemp(prefix="imcs_v2crash_")
    try:
        cells = spark.range(10).select(
            F.lit(0).alias("band"), F.col("id").alias("bucket"),
            F.col("id").alias("hub_id"),
        )
        sigs = spark.range(10).select(
            F.col("id").alias("hub_id"), F.col("id").alias("mh_0")
        )
        _write_state(spark, cells, sigs, os.path.join(tmp, "v0"), n_files=1)
        # simulate the crash: v1 has only the cells subdir, no marker
        cells.coalesce(1).write.parquet(os.path.join(tmp, "v1", "cells"))
        assert _versions(spark, tmp) == [0]
        # the replay completes v1; it becomes visible
        _write_state(spark, cells, sigs, os.path.join(tmp, "v1"), n_files=1)
        assert _versions(spark, tmp) == [0, 1]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_stream_evict_after(spark):
    """evict_after=K ("near-dup within the last K batches"): a
    duplicate arriving while its original's cells are within the
    horizon is dropped; the SAME duplicate arriving after the horizon
    is kept (the state aged out); compaction physically drops evicted
    cells and their orphaned signatures. Twin run without eviction
    drops both duplicates."""
    from pyspark.sql import functions as F  # noqa: F401

    from imcs_spark.streaming import near_dedup_stream

    base = " ".join(f"tok{i}" for i in range(30))
    filler = lambda i: " ".join(f"f{i}_{j}" for j in range(25))  # noqa: E731
    # batch 0: original A; batch 1: duplicate of A (within horizon 2);
    # batches 2-4: fillers; batch 5: duplicate of A again (beyond
    # horizon: cell born in batch 0, 5 - 2 = 3 > 0 -> evicted)
    batches = [
        [(0, base)],
        [(10, base)],
        [(20, filler(20))],
        [(30, filler(30))],
        [(40, filler(40))],
        [(50, base)],
    ]

    def run(tmp, **kw):
        target = os.path.join(tmp, "kept")
        chk = os.path.join(tmp, "chk")
        src = os.path.join(tmp, "incoming")
        os.makedirs(src)
        t0 = 1_700_000_000
        for b, rows in enumerate(batches):
            p = os.path.join(src, f"b{b:03d}.parquet")
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.parquet(p + "_stage")
            part = [f for f in os.listdir(p + "_stage") if f.startswith("part-")][0]
            os.replace(os.path.join(p + "_stage", part), p)
            shutil.rmtree(p + "_stage")
            os.utime(p, (t0 + 10 * b, t0 + 10 * b))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = near_dedup_stream(stream, target, checkpoint=chk, bands=16, **kw)
        q.awaitTermination(240)
        return {r["doc_id"] for r in spark.read.parquet(target).collect()}

    tmp1 = tempfile.mkdtemp(prefix="imcs_evict_")
    tmp2 = tempfile.mkdtemp(prefix="imcs_noevict_")
    try:
        kept_ttl = run(tmp1, evict_after=2, compact_every=3)
        # in-horizon dup (10) dropped; aged-out dup (50) kept
        assert kept_ttl == {0, 20, 30, 40, 50}, kept_ttl
        kept_all = run(tmp2)
        assert kept_all == {0, 20, 30, 40}, kept_all
        # physical eviction: the TTL run's final state holds no cell
        # older than the horizon of the last compaction (batch 3 at
        # compact_every=3 -> horizon 1; batch-0 cells gone from v3)
        side = os.path.join(tmp1, "kept_buckets")
        vdirs = [d for d in os.listdir(side) if d.startswith("v") and not d.endswith("pre")]
        assert vdirs, os.listdir(side)
        snap = spark.read.parquet(
            *[os.path.join(side, v, "cells") for v in vdirs]
        )
        assert snap.filter(F.col("_v") == 0).count() == 0
    finally:
        shutil.rmtree(tmp1, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)


def test_write_state_clears_stale_v1_markers(spark):
    """Overwriting a v1 FLAT version dir in place (the upgrade-replay
    path _read_state documents) must clear the old top-level _SUCCESS
    and flat part files first: _committed() accepts _SUCCESS, so a
    crash after the cells write would otherwise leave a
    committed-looking half-version (cells/ + stale _SUCCESS, no sigs/)
    that wedges every later read on the missing sigs table (round-10
    review finding — deleting only _COMMITTED was not enough)."""
    from pyspark.sql import functions as F

    from imcs_spark.streaming import _versions, _write_snapshot, _write_state

    tmp = tempfile.mkdtemp(prefix="imcs_v1stale_")
    try:
        flat = spark.range(5).select(
            F.lit(0).alias("band"), F.col("id").alias("bucket"),
            F.col("id").alias("hub_id"), F.col("id").alias("mh_0"),
        )
        # v1 flat layout: part files + Hadoop _SUCCESS + _COMMITTED at
        # the version-dir level
        _write_snapshot(spark, flat, os.path.join(tmp, "v0"), n_files=1)
        top = set(os.listdir(os.path.join(tmp, "v0")))
        assert "_SUCCESS" in top and any(n.startswith("part-") for n in top)
        assert _versions(spark, tmp) == [0]

        # the upgrade replay overwrites the same dir with the v2 split
        cells = flat.select("band", "bucket", "hub_id")
        sigs = flat.select("hub_id", "mh_0")
        _write_state(spark, cells, sigs, os.path.join(tmp, "v0"), n_files=1)
        top = set(os.listdir(os.path.join(tmp, "v0")))
        assert "_SUCCESS" not in top, top
        assert not any(n.startswith("part-") for n in top), top
        assert {"cells", "sigs", "_COMMITTED"} <= top
        assert _versions(spark, tmp) == [0]

        # and the crash it guards against: cells written, sigs + marker
        # missing -> the version must be invisible
        shutil.rmtree(os.path.join(tmp, "v0", "sigs"))
        os.remove(os.path.join(tmp, "v0", "_COMMITTED"))
        assert _versions(spark, tmp) == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_crash_replay_matrix(spark, monkeypatch):
    """End-to-end crash injection at each durable-write boundary of a
    NON-first micro-batch (the batch shape with prior state): whatever
    the crash point — before the kept-rows append, after the append but
    before the state delta, or after the state delta but before the
    checkpoint commit — a restart over the same checkpoint + state dir
    must converge to EXACTLY the no-crash twin's kept set: no duplicate
    appends, no lost documents, no wedged state. (The unit tests cover
    each mechanism — pre-snapshots, idempotent replace, uncommitted
    versions, replay reading only versions < batch_id — this pins the
    composition.)"""
    import imcs_spark.streaming as ST
    from imcs_spark.streaming import near_dedup_stream

    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"oth{i}" for i in range(30))
    batches = [
        [(0, base), (1, other)],            # batch 0: seeds
        [(10, base), (11, "x " + other)],   # batch 1: dup of 0 + near-new
        [(20, other), (21, base)],          # batch 2: dups of both seeds
    ]

    def run_to_end(src, target, chk):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return near_dedup_stream(stream, target, checkpoint=chk, bands=16)

    def feed_all(src):
        os.makedirs(src)
        t0 = 1_700_000_000
        for b, rows in enumerate(batches):
            p = os.path.join(src, f"b{b:03d}.parquet")
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.parquet(p + "_stage")
            part = [
                f for f in os.listdir(p + "_stage") if f.startswith("part-")
            ][0]
            os.replace(os.path.join(p + "_stage", part), p)
            shutil.rmtree(p + "_stage")
            os.utime(p, (t0 + 10 * b, t0 + 10 * b))

    # no-crash twin
    twin_tmp = tempfile.mkdtemp(prefix="imcs_crashtwin_")
    try:
        feed_all(os.path.join(twin_tmp, "incoming"))
        q = run_to_end(
            os.path.join(twin_tmp, "incoming"),
            os.path.join(twin_tmp, "kept"),
            os.path.join(twin_tmp, "chk"),
        )
        q.awaitTermination(240)
        twin_kept = {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(twin_tmp, "kept")).collect()
        }
    finally:
        shutil.rmtree(twin_tmp, ignore_errors=True)
    assert twin_kept  # the scenario must keep something to be a test

    real_append = ST._idempotent_append
    real_ws = ST._write_state
    arm = {"point": None}

    def inj_append(spark_, df, path, prefix):
        if arm["point"] == "append_before" and prefix.endswith("-1-"):
            arm["point"] = None
            raise RuntimeError("injected crash before batch-1 append")
        real_append(spark_, df, path, prefix)
        if arm["point"] == "append_after" and prefix.endswith("-1-"):
            arm["point"] = None
            raise RuntimeError("injected crash after batch-1 append")

    def inj_ws(spark_, cells, sigs, path, **kw):
        real_ws(spark_, cells, sigs, path, **kw)
        if arm["point"] == "state_after" and (
            path.endswith("/d1") or path.endswith("/v1")
        ):
            arm["point"] = None
            raise RuntimeError("injected crash after batch-1 state write")

    monkeypatch.setattr(ST, "_idempotent_append", inj_append)
    monkeypatch.setattr(ST, "_write_state", inj_ws)

    for point in ("append_before", "append_after", "state_after"):
        tmp = tempfile.mkdtemp(prefix=f"imcs_crash_{point}_")
        try:
            feed_all(os.path.join(tmp, "incoming"))
            arm["point"] = point
            q = run_to_end(
                os.path.join(tmp, "incoming"),
                os.path.join(tmp, "kept"),
                os.path.join(tmp, "chk"),
            )
            try:
                q.awaitTermination(240)
                crashed = False
            except Exception:
                crashed = True
            assert crashed, f"{point}: the injected crash did not fire"
            # restart over the same checkpoint + state: must converge
            arm["point"] = None
            q2 = run_to_end(
                os.path.join(tmp, "incoming"),
                os.path.join(tmp, "kept"),
                os.path.join(tmp, "chk"),
            )
            q2.awaitTermination(240)
            kept = {
                r["doc_id"]
                for r in spark.read.parquet(os.path.join(tmp, "kept")).collect()
            }
            assert kept == twin_kept, (point, kept, twin_kept)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_state_read_error_reaches_the_stream(spark, monkeypatch):
    """A failed state read in a non-first batch surfaces as the stream's
    own exception: the read runs on a planning thread, which must hand
    its error back across the join instead of leaving the batch to die
    on a missing result."""
    import imcs_spark.streaming as ST
    from imcs_spark.streaming import near_dedup_stream

    real_read = ST._read_state

    def failing_read(spark_, paths):
        # batch 1 is the first batch that reads committed state (v0)
        if any(p.endswith("/v0") for p in paths):
            raise RuntimeError("injected state read failure")
        return real_read(spark_, paths)

    monkeypatch.setattr(ST, "_read_state", failing_read)
    tmp = tempfile.mkdtemp(prefix="imcs_readerr_")
    try:
        src = os.path.join(tmp, "incoming")
        os.makedirs(src)
        t0 = 1_700_000_000
        for b in range(2):
            p = os.path.join(src, f"b{b:03d}.parquet")
            spark.createDataFrame(
                [(b, " ".join(f"w{b}_{j}" for j in range(12)))],
                "doc_id long, text string",
            ).coalesce(1).write.parquet(p + "_stage")
            part = [
                f for f in os.listdir(p + "_stage") if f.startswith("part-")
            ][0]
            os.replace(os.path.join(p + "_stage", part), p)
            shutil.rmtree(p + "_stage")
            os.utime(p, (t0 + 10 * b, t0 + 10 * b))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = near_dedup_stream(
            stream, os.path.join(tmp, "kept"),
            checkpoint=os.path.join(tmp, "chk"), bands=16,
        )
        with pytest.raises(Exception) as exc:
            q.awaitTermination(240)
        assert "injected state read failure" in str(exc.value)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_dedup_random_arrival_greedy_model(spark):
    """Randomized ARRIVAL-ORDER semantics: every other stream-vs-batch
    equality test feeds batches in id order (where the stream's kept
    set provably equals the batch greedy rule). Here docs are shuffled
    into random batches — smaller ids can arrive later — and the kept
    set is checked against a pure-Python model of the documented
    protocol: (a) a doc drops iff one of its (band, bucket) cells has
    an occupant from an EARLIER batch; (b) within a batch, on cells
    with no earlier occupant, the batch-min-id doc wins and larger ids
    drop; state update: every fresh cell takes the batch's min-id
    occupant ACROSS ALL batch docs (a dropped doc can still become a
    cell's hub — exactly the batch greedy convention)."""
    import random

    from imcs_spark.pipeline import dedup as D
    from imcs_spark.streaming import near_dedup_stream

    rng = random.Random(77)
    vocab = [f"tok{i}" for i in range(800)]

    def text():
        return " ".join(rng.choice(vocab) for _ in range(25))

    # 30 base docs + 10 exact dups of random bases (dup ids interleave
    # the base id range so random batching puts dups before originals)
    docs = {i: text() for i in range(0, 60, 2)}
    bases = sorted(docs)
    for j in range(10):
        docs[2 * j + 1] = docs[rng.choice(bases)]
    ids = sorted(docs)

    # ground cells from the BATCH api (the minhash itself has its own
    # bit-exact oracle; under test here is the streaming protocol)
    all_df = spark.createDataFrame(
        [(i, docs[i]) for i in ids], "doc_id long, text string"
    )
    sigs = D.minhash_signatures(all_df, num_hashes=32)
    bbp = D.band_buckets(sigs, "doc_id", 32, 16).collect()
    cells: dict[int, set] = {i: set() for i in ids}
    for r in bbp:
        cells[r["doc_id"]].add((r["band"], r["bucket"]))

    for trial in range(2):
        shuffled = ids[:]
        rng.shuffle(shuffled)
        cuts = sorted(rng.sample(range(1, len(shuffled)), 3))
        batches = [
            shuffled[a:b]
            for a, b in zip([0] + cuts, cuts + [len(shuffled)])
        ]

        # python model of the protocol
        state: dict[tuple, int] = {}
        model_kept: set[int] = set()
        for b in batches:
            dropped = set()
            for d in b:
                if any(c in state for c in cells[d]):
                    dropped.add(d)
            fresh: dict[tuple, int] = {}
            for d in b:
                for c in cells[d]:
                    if c not in state:
                        fresh[c] = min(fresh.get(c, d), d)
            for d in b:
                if d in dropped:
                    continue
                if any(fresh[c] < d for c in cells[d] if c not in state):
                    dropped.add(d)
            model_kept |= set(b) - dropped
            state.update(fresh)

        tmp = tempfile.mkdtemp(prefix=f"imcs_randarr{trial}_")
        src = os.path.join(tmp, "incoming")
        os.makedirs(src)
        try:
            t0 = 1_700_000_000
            for bi, b in enumerate(batches):
                p = os.path.join(src, f"b{bi:03d}.parquet")
                spark.createDataFrame(
                    [(i, docs[i]) for i in b], "doc_id long, text string"
                ).coalesce(1).write.parquet(p + "_stage")
                part = [
                    f for f in os.listdir(p + "_stage")
                    if f.startswith("part-")
                ][0]
                os.replace(os.path.join(p + "_stage", part), p)
                shutil.rmtree(p + "_stage")
                os.utime(p, (t0 + 10 * bi, t0 + 10 * bi))
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = near_dedup_stream(
                stream,
                os.path.join(tmp, "kept"),
                checkpoint=os.path.join(tmp, "chk"),
                bands=16,
            )
            q.awaitTermination(240)
            kept = {
                r["doc_id"]
                for r in spark.read.parquet(os.path.join(tmp, "kept")).collect()
            }
            assert kept == model_kept, (
                trial, sorted(kept ^ model_kept), batches,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_state_schema_cache_key_normalized_trailing_slash(spark):
    """Round-13 ADVICE (low) regression: a user-supplied side path with
    a trailing slash ('.../buckets/') used to produce version paths
    '.../buckets//vNNNN' whose rsplit parent KEPT the slash, so the
    schema cache was written under a slashed key while
    clear_state_schema_cache pops the rstripped key — the helper
    missed exactly the stale entry it exists to clear. The key is now
    normalized once at the _read_state keying site."""
    from imcs_spark import streaming as stx

    tmp = tempfile.mkdtemp(prefix="imcs_slashkey_")
    side = os.path.join(tmp, "buckets")
    try:
        cells = spark.createDataFrame(
            [(0, 1, 7, 0)], "band int, bucket long, hub_id long, _v int"
        )
        sigs = spark.createDataFrame(
            [(7, 11, 12)], "hub_id long, mh_0 long, mh_1 long"
        )
        stx._write_state(spark, cells, sigs, f"{side}/v0000")

        stx.clear_state_schema_cache()
        # the slashed construction a trailing-slash state_path produces
        c, s, legacy = stx._read_state(spark, [f"{side}//v0000"])
        assert c.count() == 1 and s.count() == 1 and not legacy
        assert side in stx._STATE_SCHEMA_CACHE, (
            f"cache key not normalized: {list(stx._STATE_SCHEMA_CACHE)}"
        )
        # and the public helper (rstripped or slashed arg) clears it
        stx.clear_state_schema_cache(side + "/")
        assert side not in stx._STATE_SCHEMA_CACHE
    finally:
        stx.clear_state_schema_cache()
        shutil.rmtree(tmp, ignore_errors=True)
