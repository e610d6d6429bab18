"""Structured Streaming tests: watermarked tumbling rollup equals the batch
window operator; foreachBatch parquet sink; applyInPandasWithState custom
stateful operator equals a batch groupBy."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
from retail_etl_pipeline_spark.operators import windows as win
from retail_etl_pipeline_spark import streaming as st

TMP = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".tmp", "streaming")


@pytest.fixture(autouse=True, scope="module")
def _tmpdir():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    yield
    shutil.rmtree(TMP, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    events = st.stream_events(spark, sf_dir)
    assert events.isStreaming
    q = st.run_available_now(
        st.stream_tumbling_counts(events), "stream_tumbling"
    )
    try:
        streamed = spark.table("stream_tumbling")
        batch = win.tumbling(fx.events_stream(spark, sf_dir))
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
    finally:
        q.stop()


def test_stream_rollup_parquet_sink(spark, sf_dir):
    events = st.stream_events(spark, sf_dir)
    out = os.path.join(TMP, "rollup_out")
    ckpt = os.path.join(TMP, "ckpt")
    st.stream_weekly_rollup_to_parquet(events, out, ckpt)
    back = spark.read.parquet(out)
    batch = win.tumbling(fx.events_stream(spark, sf_dir))
    # update-mode emissions may rewrite windows; the final state per window
    # must cover every batch window
    assert back.select("window_start").distinct().count() == (
        batch.select("window_start").distinct().count()
    )


def test_stateful_user_totals(spark, sf_dir):
    events = st.stream_events(spark, sf_dir)
    q = st.run_available_now(
        st.stateful_user_totals(events), "user_totals", output_mode="update"
    )
    try:
        got = spark.table("user_totals")
        # last emission per user == full-batch totals
        expected = (
            fx.events_stream(spark, sf_dir)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        joined = got.join(expected.withColumnRenamed("n_events", "exp_n"), "user_id")
        bad = joined.where(F.col("n_events") != F.col("exp_n")).count()
        assert bad == 0
        assert got.count() == expected.count()
    finally:
        q.stop()


def test_stream_session_windows_equals_batch(spark, sf_dir):
    """Watermarked streaming session windows drain to the same sessions the
    batch operator computes (all data arrives in one AvailableNow batch, so
    no session is dropped by the watermark)."""
    from pyspark.sql import functions as F

    events = st.stream_events(spark, sf_dir)
    from retail_etl_pipeline_spark.functions.metrics import money_sum

    sessions = (
        events.withWatermark("ts", st.rollup.WATERMARK_DELAY)
        .groupBy("user_id", F.session_window("ts", win.SESSION_GAP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    q = st.run_available_now(sessions, "stream_sessions", output_mode="append")
    try:
        streamed = spark.table("stream_sessions")
        batch_events = fx.events_stream(spark, sf_dir)
        batch = win.sessionized(batch_events)
        # append mode emits a session only once the watermark passes its
        # end; sessions still open at end-of-input stay in state. So the
        # streamed output must be exactly the batch sessions that closed
        # before the final watermark (max ts - delay).
        assert streamed.exceptAll(batch).count() == 0
        # 1s slack: Spark's internal watermark is millisecond-truncated and
        # the emission comparison is strict at the boundary
        cutoff = batch_events.agg(
            F.max("ts")
            - F.expr(f"INTERVAL {st.rollup.WATERMARK_DELAY}")
            - F.expr("INTERVAL 1 SECOND")
        ).first()[0]
        missing = batch.exceptAll(streamed)
        # <=1 tolerance: the AvailableNow final flush occasionally leaves a
        # single just-closed session in state (observed Spark emission-
        # timing variance); anything more means sessions are being dropped
        assert missing.where(F.col("session_end") <= F.lit(cutoff)).count() <= 1
        assert streamed.count() > 0
    finally:
        q.stop()


def test_watermark_drops_late_events(spark):
    """Late-data semantics: with maxFilesPerTrigger=1 the second file's
    events that fall behind the watermark established by the first file
    must be excluded from their (already finalized) windows."""
    import os as _os
    import shutil as _shutil
    import pandas as _pd

    base = _os.path.join(TMP, "late")
    src = _os.path.join(base, "src")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(src)

    def _write(name, rows):
        pdf = _pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = _pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(base, "tmp_" + name)
        )
        part = [
            f for f in _os.listdir(_os.path.join(base, "tmp_" + name))
            if f.endswith(".parquet")
        ][0]
        dst = _os.path.join(src, name + ".parquet")
        _os.rename(_os.path.join(base, "tmp_" + name, part), dst)
        return dst

    from pyspark.sql import functions as F

    ckpt = _os.path.join(base, "ckpt")

    def _run(qname):
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, value double"
        ).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .select(F.col("w.start").alias("ws"), "n", "v")
        )
        emitted: list = []

        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return emitted

    # run 1: events up to 12:00 -> checkpointed watermark 11:50
    _write("b1", [("2024-01-01 09:30:00", 1, 1.0),
                  ("2024-01-01 12:00:00", 1, 1.0)])
    _run("late_run1")

    # run 2 resumes from the checkpoint: the watermark survives the
    # restart, so the very late 08:15 event (< 11:50) is dropped while the
    # on-time 12:10 event updates its window
    _write("b2", [("2024-01-01 12:10:00", 1, 1.0),
                  ("2024-01-01 08:15:00", 1, 100.0)])
    run2 = _run("late_run2")
    try:
        rows2 = {str(r["ws"]): (r["n"], r["v"]) for r in run2}
        assert all(v < 100.0 for (_n, v) in rows2.values()), rows2
        assert "2024-01-01 08:00:00" not in rows2, rows2
        assert rows2.get("2024-01-01 12:00:00") == (2, 2.0), rows2
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join drains to the same pairs a batch join
    produces (single AvailableNow batch -> no state eviction losses)."""
    from retail_etl_pipeline_spark.streaming.rollup import (
        stream_stream_purchase_join,
    )

    events = st.stream_events(spark, sf_dir)
    joined = stream_stream_purchase_join(events)
    q = st.run_available_now(joined, "ss_join", output_mode="append")
    try:
        streamed = spark.table("ss_join")
        # the same join logic over the static frame is the expected output
        batch = stream_stream_purchase_join(fx.events_stream(spark, sf_dir))
        assert streamed.count() > 0
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
    finally:
        q.stop()


def test_stateful_sessions_event_time_timeout(spark):
    """applyInPandasWithState + EventTimeTimeout: a session closes (and is
    emitted exactly once) only when the watermark passes its last event +
    gap; still-active sessions stay in state and emit nothing."""
    import os as _os
    import shutil as _shutil
    import time as _time
    import pandas as _pd

    from retail_etl_pipeline_spark.streaming import stateful_sessions

    base = _os.path.join(TMP, "sess_timeout")
    src = _os.path.join(base, "src")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(src)

    def _write(name, rows, mtime):
        pdf = _pd.DataFrame(rows, columns=["ts", "user_id"])
        pdf["ts"] = _pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        tmp = _os.path.join(base, "tmp_" + name)
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = _os.path.join(src, name + ".parquet")
        _os.rename(_os.path.join(tmp, part), dst)
        _os.utime(dst, (mtime, mtime))  # file-source batches order by modTime

    now = _time.time()
    # batch 1: user 1 active 09:00-09:10 (gap closes at 09:40)
    _write("b1", [("2024-01-01 09:00:00", 1), ("2024-01-01 09:10:00", 1)], now - 30)
    # batch 2: advances the watermark to ~19:00 AFTER the batch
    _write("b2", [("2024-01-01 19:00:00", 2)], now - 20)
    # batch 3: while it runs, watermark ~19:00 > 09:40 -> user 1 times out
    _write("b3", [("2024-01-01 23:00:00", 3)], now - 10)

    stream = spark.readStream.schema("ts timestamp, user_id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    emitted: list = []

    def _sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    q = (
        stateful_sessions(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
        _shutil.rmtree(base, ignore_errors=True)

    by_user = {r["user_id"]: r for r in emitted}
    # user 1 times out mid-stream (watermark 19:00 > 09:40); user 2 closes
    # in the AvailableNow final flush (watermark 23:00 > 19:30); user 3's
    # timeout (23:30) is past the last watermark -> stays open, emits nothing
    assert set(by_user) == {1, 2}, emitted
    s1 = by_user[1]
    assert s1["n_events"] == 2
    assert str(s1["session_start"]) == "2024-01-01 09:00:00"
    assert str(s1["session_end"]) == "2024-01-01 09:10:00"
    assert by_user[2]["n_events"] == 1


def test_foreachbatch_upsert_latest(spark):
    """foreachBatch merge-into emulation: after streaming two out-of-order
    micro-batches, the keyed table holds exactly the latest value per user,
    and only touched bucket partitions were rewritten."""
    import os as _os
    import shutil as _shutil
    import time as _time
    import pandas as _pd

    from pyspark.sql import functions as F
    from retail_etl_pipeline_spark.streaming.rollup import stream_upsert_latest

    base = _os.path.join(TMP, "upsert")
    src = _os.path.join(base, "src")
    out = _os.path.join(base, "table")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(src)

    def _write(name, rows, mtime):
        pdf = _pd.DataFrame(rows, columns=["ts", "user_id", "value"])
        pdf["ts"] = _pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        tmp = _os.path.join(base, "tmp_" + name)
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = _os.path.join(src, name + ".parquet")
        _os.rename(_os.path.join(tmp, part), dst)
        _os.utime(dst, (mtime, mtime))

    now = _time.time()
    _write("b1", [("2024-01-01 10:00:00", 1, 10.0),
                  ("2024-01-01 11:00:00", 2, 20.0)], now - 20)
    # user 1 updated with a NEWER ts; user 2 gets an OLDER (stale) event
    # that must NOT win; user 3 is new
    _write("b2", [("2024-01-01 12:00:00", 1, 11.0),
                  ("2024-01-01 09:00:00", 2, 99.0),
                  ("2024-01-01 10:30:00", 3, 30.0)], now - 10)

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_upsert_latest(spark, stream, out, _os.path.join(base, "ckpt"))
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = {
        r["user_id"]: r["value"]
        for r in spark.read.parquet(out).select("user_id", "value").collect()
    }
    _shutil.rmtree(base, ignore_errors=True)
    assert got == {1: 11.0, 2: 20.0, 3: 30.0}, got


def test_custom_streaming_datasource_exactly_once(spark):
    """The custom connector's stream reader: offset-tracked micro-batches
    from the deterministic generator arrive gap-free and duplicate-free,
    matching the batch reader's rows for the same index range."""
    import os as _os
    import shutil as _shutil

    from retail_etl_pipeline_spark.sources import register_synthetic_source

    register_synthetic_source(spark)
    base = _os.path.join(TMP, "synthstream")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(base)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rowsPerBatch", 250)
        .load()
    )
    emitted: list = []

    def _sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time as _time

        deadline = _time.time() + 60
        while len(emitted) < 500 and _time.time() < deadline:
            _time.sleep(1)
    finally:
        q.stop()
        _shutil.rmtree(base, ignore_errors=True)

    assert len(emitted) >= 500
    ids = sorted(r["event_id"] for r in emitted)
    assert ids == list(range(len(ids))), "gaps or duplicates in offsets"
    by_id = {r["event_id"]: r for r in emitted}
    assert by_id[7]["kind"] == "odd" and by_id[7]["user_id"] == 7


def test_stream_dedup_within_watermark(spark):
    """Redelivered events (same event_id, two files -> separate
    micro-batches) must come out exactly once; distinct ids all survive."""
    import datetime as dt

    src = os.path.join(TMP, "dedup_src")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (i, base + dt.timedelta(seconds=i), i % 7, "view", float(i))
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double",
    )
    # same rows twice: the second file is the "redelivery"
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")  # force separate micro-batches
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = st.run_available_now(
        st.stream_dedup(stream), "deduped_events", output_mode="append"
    )
    try:
        got = spark.table("deduped_events")
        assert got.count() == 500
        assert got.select("event_id").distinct().count() == 500
    finally:
        q.stop()


def test_streaming_incremental_state_equals_batch(spark, sf_dir):
    """Batch and streaming share ONE merge algebra: a foreachBatch sink
    that folds each micro-batch's partials into a parquet state table
    (operators/incremental.py) converges to exactly the direct batch
    rollup — the decimal partials make the fold independent of how the
    input was micro-batched."""
    from retail_etl_pipeline_spark.operators import retail
    from retail_etl_pipeline_spark.operators.incremental import (
        finalize_rollup,
        merge_partials,
        rollup_partials,
    )

    s = retail.add_week(fx.sales(spark, sf_dir), "trans_dt")
    src = os.path.join(TMP, "incr_src")
    state_dir = os.path.join(TMP, "incr_state")
    ckpt = os.path.join(TMP, "incr_ckpt")
    # three separate files -> three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        s.filter(F.col("trans_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    schema = spark.read.parquet(src).schema

    def fold(batch_df, batch_id):
        delta = rollup_partials(batch_df)
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            state = merge_partials(batch_df.sparkSession.read.parquet(state_dir), delta)
        else:
            state = delta
        # test-scale shortcut: materialize through the driver so the
        # same path can be overwritten in place; a production fold
        # writes to alternating A/B state paths (or the bucketed
        # foreachBatch upsert) and never collects
        out = state.collect()
        batch_df.sparkSession.createDataFrame(out, state.schema).write.mode(
            "overwrite"
        ).parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r)
        for r in finalize_rollup(spark.read.parquet(state_dir)).collect()
    )
    want = sorted(
        tuple(r) for r in finalize_rollup(rollup_partials(s)).collect()
    )
    assert got == want


def test_stream_stream_left_outer_join_emits_on_eviction(spark):
    """Left-outer stream-stream semantics: NULL-padded results for
    unmatched events appear only AFTER the watermark passes their join
    window (state eviction = outer emission); events still inside the
    watermark horizon emit nothing at all."""
    import os as _os
    import shutil as _shutil
    import pandas as _pd

    from retail_etl_pipeline_spark.streaming.rollup import (
        stream_stream_purchase_join_outer,
    )

    base = _os.path.join(TMP, "ssoj")
    src = _os.path.join(base, "src")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(src)

    def _write(name, rows):
        pdf = _pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = _pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        tmp = _os.path.join(base, "tmp_" + name)
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
        _os.rename(
            _os.path.join(tmp, part), _os.path.join(src, name + ".parquet")
        )

    # batch 1: e1 view matched by e2 purchase; e3 view unmatched;
    # e2 itself is also a LEFT row with no earlier purchase
    _write("b1", [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 09:30:00", 1, "purchase", 42.0),
        (3, "2024-01-01 10:00:00", 2, "view", 0.0),
    ])
    # batches 2-3 (separate triggers): far-future PURCHASES advance the
    # watermark past batch 1's join windows. They must be purchases:
    # the right side is filtered to purchases before its withWatermark,
    # and the global watermark is the MIN across both sides — a plain
    # view would advance only the left side and the right watermark
    # (hence the global one) would sit at batch 1 forever, never
    # flushing the outer rows. The watermark also LAGS one micro-batch
    # (batch N runs under the watermark committed after N-1), so the
    # third trigger is what actually flushes; e4/e5 themselves stay
    # inside the horizon and must emit nothing.
    _write("b2", [(4, "2024-01-02 10:00:00", 3, "purchase", 1.0)])
    _write("b3", [(5, "2024-01-03 10:00:00", 3, "purchase", 1.0)])

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    emitted: list = []

    def _sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    q = (
        stream_stream_purchase_join_outer(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    try:
        rows = {(r["l_id"], r["r_id"], r["purchase_value"]) for r in emitted}
        assert rows == {
            (1, 2, 42.0),     # matched pair
            (2, None, None),  # the purchase as a left row: no earlier purchase
            (3, None, None),  # unmatched view flushed by the advanced watermark
            (4, None, None),  # flushed by the closing no-data micro-batch
        }, rows
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def test_stream_corpus_manifest_equals_batch_repack(spark):
    """The streamed, incrementally-extended packing manifest must be
    bit-equal to one batch packing_index over everything (per-source
    prefix sums decompose; cursors are re-derived from the manifest each
    micro-batch)."""
    import os as _os
    import shutil as _shutil

    from retail_etl_pipeline_spark.corpus_pipeline import stream_corpus_manifest
    from retail_etl_pipeline_spark.operators.corpus import packing_index

    base = _os.path.join(TMP, "stream_manifest")
    src = _os.path.join(base, "src")
    _shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(src)

    rows1 = [("s%d" % (i % 2), i, "tok " * (i % 5 + 1)) for i in range(10)]
    rows2 = [("s%d" % (i % 2), i, "tok " * (i % 7 + 2)) for i in range(10, 22)]
    schema = "doc_id long, source string, text string"

    def _file(name, rows):
        df = spark.createDataFrame(
            [(d, s, t) for (s, d, t) in rows], schema
        )
        tmp = _os.path.join(base, "tmp_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
        _os.rename(_os.path.join(tmp, part), _os.path.join(src, name + ".parquet"))

    manifest_dir = _os.path.join(base, "manifest")
    ckpt = _os.path.join(base, "ckpt")
    _file("b1", rows1)
    q = stream_corpus_manifest(spark, src, manifest_dir, ckpt, block_tokens=8)
    q.awaitTermination(120)
    q.stop()
    # snapshot the checkpoint BEFORE batch 2 — restoring it later
    # simulates a crash after batch 2's writes but before its commit
    _shutil.copytree(ckpt, ckpt + "_pre_b2")
    _file("b2", rows2)
    q = stream_corpus_manifest(spark, src, manifest_dir, ckpt, block_tokens=8)
    q.awaitTermination(120)
    q.stop()
    # crash-replay: restore the pre-batch-2 checkpoint and run again —
    # batch 2 replays, REWRITES its own batch_id partition with
    # byte-identical rows (dynamic overwrite), and nothing is flagged
    # out-of-order (cursors come from the batch-1 snapshot, not from a
    # manifest already containing the crashed batch's rows)
    _shutil.rmtree(ckpt)
    _shutil.copytree(ckpt + "_pre_b2", ckpt)
    q = stream_corpus_manifest(spark, src, manifest_dir, ckpt, block_tokens=8)
    q.awaitTermination(120)
    q.stop()
    try:
        streamed = spark.read.parquet(_os.path.join(base, "manifest"))
        all_docs = spark.createDataFrame(
            [(d, s, t) for (s, d, t) in rows1 + rows2], schema
        )
        batch = packing_index(all_docs, 8)
        cols = ["source", "doc_id", "n_tokens", "start_tok",
                "first_block", "last_block", "spans_blocks"]
        a = sorted(map(tuple, streamed.select(*cols).collect()))
        b = sorted(map(tuple, batch.select(*cols).collect()))
        assert a == b
        assert streamed.where("in_order = false").count() == 0
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def test_streaming_hll_sketch_state_equals_batch(spark, sf_dir):
    """The HLL twin of test_streaming_incremental_state_equals_batch
    (VERDICT r4 item 4): a foreachBatch sink folds each micro-batch's
    per-nation HLL sketches into a parquet state table via hll_union_agg
    — sketch union is associative and commutative, so the streamed fold
    converges to exactly the one-pass batch estimate regardless of how
    the input was micro-batched. This is sketch-union incrementality:
    the state table holds bytes per group, never raw ids, and each
    micro-batch merges in O(|delta| + |groups|)."""
    import os as _os

    from retail_etl_pipeline_spark.operators import sketches as sk

    c = fx._read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    base = os.path.join(TMP, "hll_incr")
    shutil.rmtree(base, ignore_errors=True)
    src = _os.path.join(base, "src")
    state_dir = _os.path.join(base, "state")
    ckpt = _os.path.join(base, "ckpt")
    # three separate files -> three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        c.filter(F.col("c_custkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    def fold(batch_df, batch_id):
        delta = sk.hll_sketch_per_group(batch_df, "c_nationkey", "c_custkey")
        s = batch_df.sparkSession
        if _os.path.exists(_os.path.join(state_dir, "_SUCCESS")):
            merged = (
                s.read.parquet(state_dir)
                .unionByName(delta)
                .groupBy("c_nationkey")
                .agg(F.expr("hll_union_agg(sk, false)").alias("sk"))
            )
        else:
            merged = delta
        # test-scale shortcut: materialize through the driver so the
        # same path can be overwritten in place (sketches are bounded
        # bytes per group); production folds write alternating A/B
        # state paths and never collect
        out = merged.collect()
        s.createDataFrame(out, merged.schema).write.mode(
            "overwrite"
        ).parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["c_nationkey"], r["approx_distinct"])
        for r in sk.hll_merge_estimate(
            spark.read.parquet(state_dir), "c_nationkey"
        ).collect()
    }
    direct = {
        (r["c_nationkey"], r["approx_distinct"])
        for r in sk.hll_distinct(c, "c_nationkey", "c_custkey").collect()
    }
    assert streamed == direct
    shutil.rmtree(base, ignore_errors=True)


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment: the event stream inner-joined to a
    static user->segment dim before the windowed rollup must converge
    to the identical batch join+rollup — including the inner-join DROP
    of users absent from the dim (a deliberately partial dim here:
    only even user_ids are present)."""
    events = st.stream_events(spark, sf_dir)
    dim = (
        fx.events_stream(spark, sf_dir)
        .select("user_id")
        .distinct()
        .where(F.col("user_id") % 2 == 0)
        .select(
            "user_id", (F.col("user_id") % 5).cast("int").alias("segment")
        )
    )
    q = st.run_available_now(
        st.stream_static_enriched_counts(events, dim), "stream_enriched"
    )
    try:
        streamed = spark.table("stream_enriched")
        batch = (
            fx.events_stream(spark, sf_dir)
            .join(dim, "user_id")
            .groupBy(
                F.window("ts", "1 hour").alias("w"),
                "segment",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"), "segment", "n_events"
            )
        )
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        # the partial dim actually dropped something (the test is not
        # vacuous): total enriched events < total events
        total = fx.events_stream(spark, sf_dir).count()
        kept = streamed.agg(F.sum("n_events")).collect()[0][0]
        assert kept < total
    finally:
        q.stop()


def test_streaming_session_window_equals_batch(spark, sf_dir):
    """Native streaming sessionization: the SAME win.sessionized code
    (F.session_window) run over the watermarked stream must converge to
    the batch result — completing the sessionization triangle next to
    the batch query (session_windows) and the applyInPandasWithState
    custom sessionizer. Streaming session_window requires a watermark
    (merging state must be evictable); AvailableNow + append mode emits
    every closed session."""
    events = st.stream_events(spark, sf_dir)
    q = st.run_available_now(
        win.sessionized(events.withWatermark("ts", "2 hours")),
        "stream_sessions",
    )
    try:
        streamed = spark.table("stream_sessions")
        batch = win.sessionized(fx.events_stream(spark, sf_dir))
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        assert streamed.count() > 0
    finally:
        q.stop()


def test_streaming_ks_drift_state_equals_batch(spark, sf_dir):
    """Streaming drift monitoring: the KS kernel's ONLY state is the
    per-value (ca, cb) count table — counts are mergeable partials, so
    a foreachBatch fold of micro-batch count deltas reproduces the
    batch KS statistic EXACTLY (not approximately: every downstream
    step in functions/stats.ks_statistic is integer arithmetic over
    these counts). State is bounded by |distinct values|, never raw
    rows — the same reason the HLL fold above scales."""
    import os as _os

    from retail_etl_pipeline_spark.functions.stats import ks_statistic

    li = fx._read(spark, sf_dir, "lineitem")
    vals = li.select(
        (F.col("l_quantity") % 50).cast("long").alias("v"),
        (F.col("l_orderkey") % 2 == 0).alias("a"),
    )
    base = os.path.join(TMP, "ks_incr")
    shutil.rmtree(base, ignore_errors=True)
    src = _os.path.join(base, "src")
    state_dir = _os.path.join(base, "state")
    ckpt = _os.path.join(base, "ckpt")
    for i in range(3):
        vals.filter(F.col("v") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    def fold(batch_df, batch_id):
        delta = batch_df.groupBy("v").agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("a"), 0).otherwise(1)).alias("cb"),
        )
        s = batch_df.sparkSession
        if _os.path.exists(_os.path.join(state_dir, "_SUCCESS")):
            merged = (
                s.read.parquet(state_dir)
                .unionByName(delta)
                .groupBy("v")
                .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
            )
        else:
            merged = delta
        # test-scale shortcut (see HLL fold above): state is bounded by
        # |distinct v|; production writes alternating A/B state paths
        out = merged.collect()
        s.createDataFrame(out, merged.schema).write.mode(
            "overwrite"
        ).parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # re-expand the folded counts into the kernel's (v, flag) shape:
    # KS only ever sees counts, so feeding it count-weighted rows is
    # exactly equivalent — done relationally via explode(sequence()).
    state = spark.read.parquet(state_dir)
    streamed_rows = state.select(
        "v",
        F.explode(
            F.concat(
                F.expr("array_repeat(true, CAST(ca AS INT))"),
                F.expr("array_repeat(false, CAST(cb AS INT))"),
            )
        ).alias("a"),
    )
    streamed = ks_statistic(streamed_rows, "v", "a").collect()[0]
    direct = ks_statistic(vals, "v", "a").collect()[0]
    assert tuple(streamed) == tuple(direct)

    # the SAME folded state serves the whole rank-based drift family:
    # Mann-Whitney (functions/stats.mann_whitney_u2) also consumes only
    # per-value counts, so the fold built for KS reproduces it exactly
    # too — one incremental state table, two exact statistics.
    from retail_etl_pipeline_spark.functions.stats import mann_whitney_u2

    mwu_streamed = mann_whitney_u2(streamed_rows, "v", "a").collect()[0]
    mwu_direct = mann_whitney_u2(vals, "v", "a").collect()[0]
    spark.catalog.clearCache()
    assert tuple(mwu_streamed) == tuple(mwu_direct)
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_cusum_from_folded_daily_state(spark, sf_dir):
    """Incremental CUSUM monitoring: the alarm itself is prefix-
    dependent (not mergeable), but its INPUT state — per-day UNROUNDED
    decimal revenue sums — is exactly mergeable (the
    incremental_weekly_rollup discipline: rounding must happen at read
    time, after the merge, or partial-rounded cents would drift).
    foreachBatch folds day-sum deltas; recomputing the CUSUM breach set
    over the bounded folded state (|days| rows) reproduces the batch
    answer EXACTLY, because every downstream step (μ, k, prefix sum,
    prefix min) is integer/decimal arithmetic over those sums."""
    import os as _os

    from pyspark.sql.window import Window

    from retail_etl_pipeline_spark.functions.stats import with_cusum_by

    o = fx._read(spark, sf_dir, "orders")
    vals = o.select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").cast("decimal(30,6)").alias("amt"),
        "o_orderkey",
    )

    def breaches(daily):
        """(d, cents) -> sorted breach days, shared by both paths.
        Single global series: group key is a constant — fine for the
        TEST's plain-window variant via with_cusum_by on a literal
        key (the staged query partitions by store; the global query
        uses the two-level with_cusum)."""
        ann = daily.withColumn("g", F.lit(1))
        wg = Window.partitionBy("g")
        ann = ann.withColumn(
            "tot", F.sum(F.col("cents").cast("decimal(38,0)")).over(wg)
        ).withColumn("nd", F.count(F.lit(1)).over(wg))
        dev = ann.select(
            "g",
            "d",
            F.expr("CAST(tot div nd AS DECIMAL(38,0))").alias("mu"),
            "cents",
        ).select(
            "g",
            "d",
            "mu",
            (
                F.col("cents").cast("decimal(38,0)")
                - F.col("mu")
                - F.expr("mu div 20")
            )
            .cast("decimal(38,0)")
            .alias("dev"),
        )
        c = with_cusum_by(dev, ["g"], [F.col("d")], "dev")
        return sorted(
            (r.d, int(r.cusum))
            for r in c.where(F.col("cusum") > F.col("mu")).collect()
        )

    base = os.path.join(TMP, "cusum_incr")
    shutil.rmtree(base, ignore_errors=True)
    src = _os.path.join(base, "src")
    state_dir = _os.path.join(base, "state")
    ckpt = _os.path.join(base, "ckpt")
    for i in range(3):
        vals.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    def fold(batch_df, batch_id):
        delta = batch_df.groupBy("d").agg(
            F.sum("amt").cast("decimal(38,6)").alias("amt")
        )
        s = batch_df.sparkSession
        if _os.path.exists(_os.path.join(state_dir, "_SUCCESS")):
            merged = (
                s.read.parquet(state_dir)
                .unionByName(delta)
                .groupBy("d")
                .agg(F.sum("amt").cast("decimal(38,6)").alias("amt"))
            )
        else:
            merged = delta
        out = merged.collect()  # test-scale shortcut (see KS fold above)
        s.createDataFrame(out, merged.schema).write.mode(
            "overwrite"
        ).parquet(state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    to_cents = (F.round(F.col("amt"), 2) * 100).cast("bigint").alias("cents")
    streamed_daily = spark.read.parquet(state_dir).select("d", to_cents)
    direct_daily = vals.groupBy("d").agg(
        F.sum("amt").cast("decimal(38,6)").alias("amt")
    ).select("d", to_cents)
    assert breaches(streamed_daily) == breaches(direct_daily)
    assert len(breaches(direct_daily)) > 0  # the fixture does breach
    spark.catalog.clearCache()
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_lsh_fold_equals_batch_candidates(spark, sf_dir):
    """The incremental MinHash-LSH fold (streaming/neardup.py) must
    converge to EXACTLY the batch minhash_lsh_candidates pair set
    regardless of how the corpus was micro-batched — the LSH analog of
    the incremental-HLL equivalence (VERDICT r5 item 4). Three files ->
    three micro-batches via maxFilesPerTrigger=1; new docs hash only
    against accumulated band buckets plus themselves."""
    from retail_etl_pipeline_spark.operators import dedup as dd
    from retail_etl_pipeline_spark.streaming import neardup as nd

    docs = fx._read(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(TMP, "lsh_incr")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    state_dir = os.path.join(base, "state")
    pairs_dir = os.path.join(base, "pairs")
    ckpt = os.path.join(base, "ckpt")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        nd.stream_lsh_candidates(stream, state_dir, pairs_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r["doc_a"], r["doc_b"])
        for r in nd.read_candidates(spark, pairs_dir).collect()
    }
    batch = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates(docs).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0  # the fixture does contain near-dups
    # state table == the batch band index (same relation by construction)
    st_rows = spark.read.parquet(state_dir).count()
    assert st_rows == dd.band_index(docs).count()
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_cc_fold_equals_batch_components(spark, sf_dir):
    """The incremental connected-components fold (streaming/neardup.py
    cc_fold_batch) must converge to EXACTLY the batch
    connected_components labels no matter how the pair list was
    micro-batched — edges that only become connected through LATER
    batches are the hard case the label-contraction step exists for."""
    from retail_etl_pipeline_spark.operators import dedup as dd
    from retail_etl_pipeline_spark.streaming import neardup as nd

    docs = fx._read(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_neardup_verified(docs).select("doc_a", "doc_b")
    base = os.path.join(TMP, "cc_incr")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    labels_dir = os.path.join(base, "labels")
    ckpt = os.path.join(base, "ckpt")
    # split by a hash of the PAIR (not the doc) so one component's edges
    # scatter across batches — forcing cross-batch merges
    for i in range(3):
        pairs.filter((F.col("doc_a") + F.col("doc_b")) % 3 == i).coalesce(
            1
        ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        nd.stream_cc_labels(stream, labels_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r["doc_id"], r["component"])
        for r in spark.read.parquet(labels_dir).collect()
    }
    batch = {
        (r["doc_id"], r["component"])
        for r in dd.connected_components(pairs).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0
    # components must actually span batches for the test to mean much
    n_comp = len({c for _, c in batch})
    assert n_comp < len(batch)  # at least one non-singleton cluster
    shutil.rmtree(base, ignore_errors=True)


def test_cc_fold_cross_batch_merges_unit(spark):
    """Direct fold calls on a synthetic sequence where components exist
    BEFORE the edge that merges them arrives — the contraction + label
    remap path, exercised deterministically: {1,2} and {3,4} form in
    fold 1, fold 2's (2,3) must collapse all four onto component 1,
    and fold 3 must attach a brand-new doc to the merged component."""
    from retail_etl_pipeline_spark.streaming import neardup as nd

    base = os.path.join(TMP, "cc_unit")
    shutil.rmtree(base, ignore_errors=True)
    labels_dir = os.path.join(base, "labels")

    def fold(edges):
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        nd.cc_fold_batch(df, labels_dir)
        return {
            (r["doc_id"], r["component"])
            for r in spark.read.parquet(labels_dir).collect()
        }

    assert fold([(1, 2), (3, 4)]) == {(1, 1), (2, 1), (3, 3), (4, 3)}
    assert fold([(2, 3)]) == {(1, 1), (2, 1), (3, 1), (4, 1)}
    assert fold([(5, 4)]) == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_pipeline_canonical_equals_batch(spark, sf_dir):
    """The FULL incremental dedup pipeline (docs -> quality/shingle
    stores -> LSH band fold -> per-batch pairs -> exact-Jaccard verify
    -> CC fold -> canonical fold) must end with a canonical table equal
    to the batch chain computed from scratch: components over
    minhash_neardup_verified + best-quality member per component
    (quality desc, doc_id asc tie-break). This is the VERIFIED
    contract: band collisions propose, exact intersection disposes —
    identical on both sides."""
    from pyspark.sql import Window

    from retail_etl_pipeline_spark.operators import dedup as dd
    from retail_etl_pipeline_spark.operators import text as tx
    from retail_etl_pipeline_spark.streaming import neardup as nd

    docs = fx._read(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(TMP, "dedup_pipe")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        nd.stream_dedup_pipeline(stream, base)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    streamed = {
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(base, "canonical")
        ).collect()
    }

    # batch chain from scratch on the same VERIFIED pair set
    comp = dd.connected_components(
        dd.minhash_neardup_verified(docs).select("doc_a", "doc_b")
    )
    quality = tx.quality_score(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = comp.join(quality, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    best = ranked.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("kept_doc"),
        F.col("quality_score").alias("kept_quality"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    batch = {
        tuple(r)
        for r in best.join(sizes, "component")
        .select("component", "kept_doc", "kept_quality", "n_members")
        .collect()
    }
    assert streamed == batch
    assert len(streamed) > 0
    shutil.rmtree(base, ignore_errors=True)


def test_dedup_pipeline_fold_zero_pair_batch(spark):
    """ADVICE r6 (medium): a first micro-batch that produces ZERO
    candidate pairs used to leave a _SUCCESS-only pairs directory whose
    schema inference crashed the stream (UNABLE_TO_INFER_SCHEMA). The
    fold must tolerate pair-less batches at any position — stores and
    band state advance, cluster tables appear only once a pair exists."""
    from retail_etl_pipeline_spark.streaming import neardup as nd

    base = os.path.join(TMP, "zero_pair")
    shutil.rmtree(base, ignore_errors=True)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # batch 0: three documents with nothing in common -> no candidates
    nd.dedup_pipeline_fold(
        docs(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven"),
                (3, "red orange yellow green blue indigo"),
            ]
        ),
        0,
        base,
    )
    assert not os.path.exists(os.path.join(base, "labels"))
    # batch 1: a near-duplicate of doc 1 arrives -> cross-batch pair
    nd.dedup_pipeline_fold(
        docs([(4, "alpha beta gamma delta epsilon zeta eta")]), 1, base
    )
    labels = {
        (r["doc_id"], r["component"])
        for r in spark.read.parquet(os.path.join(base, "labels")).collect()
    }
    assert labels == {(1, 1), (4, 1)}
    canon = spark.read.parquet(os.path.join(base, "canonical")).collect()
    assert len(canon) == 1 and canon[0]["n_members"] == 2
    # batch 2: another pair-less batch AFTER state exists — still fine
    nd.dedup_pipeline_fold(
        docs([(5, "completely different words here entirely")]), 2, base
    )
    assert spark.read.parquet(os.path.join(base, "labels")).count() == 2
    shutil.rmtree(base, ignore_errors=True)


def test_dedup_pipeline_fold_replay_idempotent(spark):
    """ADVICE r6 (medium): foreachBatch is at-least-once — re-running a
    batch_id must leave EVERY table byte-identical in content, most
    importantly the quality store (a plain append double-counted
    n_members forever). The per-batch stores use dynamic partition
    overwrite; the label/canonical folds are idempotent by
    construction."""
    from retail_etl_pipeline_spark.streaming import neardup as nd

    base = os.path.join(TMP, "replay_idem")
    shutil.rmtree(base, ignore_errors=True)
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (3, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def snapshot():
        out = {}
        for t in ("quality", "shingles", "pairs", "labels", "canonical"):
            p = os.path.join(base, t)
            if os.path.exists(p):
                out[t] = sorted(
                    tuple(r) for r in spark.read.parquet(p).collect()
                )
        return out

    nd.dedup_pipeline_fold(df, 0, base)
    first = snapshot()
    assert "canonical" in first and len(first["canonical"]) == 1
    # replay the SAME batch (same batch_id, same data)
    nd.dedup_pipeline_fold(df, 0, base)
    assert snapshot() == first
    # quality store specifically: one row per doc, not two
    q = spark.read.parquet(os.path.join(base, "quality"))
    assert q.count() == 3
    canon = spark.read.parquet(os.path.join(base, "canonical")).collect()
    assert canon[0]["n_members"] == 2
    shutil.rmtree(base, ignore_errors=True)


def test_dedup_pipeline_fold_verify_refutes_band_collisions(
    spark, monkeypatch
):
    """The verify stage must DROP candidate pairs whose exact Jaccard is
    below threshold even though they collide on an LSH band — the
    difference between the verified contract and verify=False. At the
    production threshold (0.1) a band collision below threshold is a
    ~1e-5 event, so the refute path is forced deterministically by
    raising the threshold above a real pair's exact Jaccard: the texts
    below share 4 of 5 distinct shingles (J = 4/5 = 0.8) and DO collide
    on a band under the fixed MINHASH_HASHERS (hash-deterministic, the
    sanity asserts pin it) — refuted at 0.9, kept at 0.1."""
    from retail_etl_pipeline_spark.operators import dedup as dd
    from retail_etl_pipeline_spark.streaming import neardup as nd

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta"),
        ],
        "doc_id long, text string",
    )
    base = os.path.join(TMP, "verify_refute")
    shutil.rmtree(base, ignore_errors=True)
    # sanity: the pair IS an LSH candidate and IS kept at the real
    # threshold — only the raised bar may refute it
    assert dd.minhash_lsh_candidates(df).count() == 1
    assert dd.minhash_neardup_verified(df).count() == 1

    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.9)
    nd.dedup_pipeline_fold(df, 0, os.path.join(base, "refuted"), verify=True)
    # candidate refuted -> no cluster state at all
    assert not os.path.exists(os.path.join(base, "refuted", "labels"))
    # same batch with verify=False: the raw band collision clusters
    nd.dedup_pipeline_fold(df, 0, os.path.join(base, "raw"), verify=False)
    labels = {
        (r["doc_id"], r["component"])
        for r in spark.read.parquet(
            os.path.join(base, "raw", "labels")
        ).collect()
    }
    assert labels == {(1, 1), (2, 1)}
    shutil.rmtree(base, ignore_errors=True)


def test_compact_batches_preserves_fold_semantics(spark):
    """Compacting the batch-partitioned bands/pairs stores into the
    reserved batch_id=-1 partition must change NOTHING the readers see:
    same candidate set, same band rows, and later folds still join new
    docs against the compacted state (the small-files countermeasure
    for long-running folds). Includes a second compaction that absorbs
    the previous batch_id=-1 partition."""
    from retail_etl_pipeline_spark.streaming import neardup as nd

    base = os.path.join(TMP, "compact")
    shutil.rmtree(base, ignore_errors=True)
    bands = os.path.join(base, "bands")
    pairs = os.path.join(base, "pairs")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    nd.lsh_fold_batch(
        docs(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon zeta eta"),
            ]
        ),
        bands,
        pairs,
        batch_id=0,
    )
    nd.lsh_fold_batch(
        docs([(3, "one two three four five six seven")]),
        bands,
        pairs,
        batch_id=1,
    )
    cands_before = {
        tuple(r) for r in nd.read_candidates(spark, pairs).collect()
    }
    bands_before = {
        tuple(r)
        for r in spark.read.parquet(bands)
        .select("doc_id", "band_id", "band_key")
        .collect()
    }
    assert cands_before == {(1, 2)}

    assert nd.compact_batches(spark, bands, up_to_batch=1) == 2
    # batch 1 produced zero pairs -> no batch_id=1 partition to remove
    assert nd.compact_batches(spark, pairs, up_to_batch=1) == 1
    # only the reserved partition remains
    parts = {
        p for p in os.listdir(bands) if p.startswith("batch_id=")
    }
    assert parts == {"batch_id=-1"}
    assert {
        tuple(r) for r in nd.read_candidates(spark, pairs).collect()
    } == cands_before
    assert {
        tuple(r)
        for r in spark.read.parquet(bands)
        .select("doc_id", "band_id", "band_key")
        .collect()
    } == bands_before

    # a later fold still finds cross-batch pairs against compacted state
    nd.lsh_fold_batch(
        docs([(4, "alpha beta gamma delta epsilon zeta theta")]),
        bands,
        pairs,
        batch_id=2,
    )
    cands = {tuple(r) for r in nd.read_candidates(spark, pairs).collect()}
    assert (1, 4) in cands and (2, 4) in cands and (1, 2) in cands

    # second compaction absorbs the previous -1 partition + batch 2
    assert nd.compact_batches(spark, bands, up_to_batch=2) == 1
    assert nd.compact_batches(spark, pairs, up_to_batch=2) == 1
    assert {
        tuple(r) for r in nd.read_candidates(spark, pairs).collect()
    } == cands
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_gated_dedup_pipeline_equals_gated_batch(spark, sf_dir):
    """The GATED intake fold (Gopher quality gate -> verified dedup ->
    canonical) must end with (a) a canonical table equal to the batch
    chain computed from scratch on ``docs.where(keep)`` and (b) a
    quarantine store equal to the batch rule battery's keep=false rows.
    The gate is per-document and exact-integer, so micro-batching can
    never move a borderline doc across it."""
    from pyspark.sql import Window

    from retail_etl_pipeline_spark.operators import dedup as dd
    from retail_etl_pipeline_spark.operators import text as tx
    from retail_etl_pipeline_spark.streaming import neardup as nd

    docs = fx._read(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(TMP, "gated_dedup_pipe")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        nd.stream_gated_dedup_pipeline(stream, base)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    flags = tx.gopher_quality_flags(docs)
    flag_cols = [c for c in flags.columns]

    # (b) quarantine store == batch keep=false rows (ignoring batch_id)
    quarantined = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(base, "quarantine"))
        .select(*flag_cols)
        .collect()
    }
    batch_rejects = {
        tuple(r) for r in flags.where(~F.col("keep")).collect()
    }
    assert quarantined == batch_rejects
    assert len(quarantined) > 0

    # (a) canonical == batch verified chain over the KEPT docs only
    kept_docs = docs.join(
        flags.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    streamed = {
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(base, "canonical")
        ).collect()
    }
    comp = dd.connected_components(
        dd.minhash_neardup_verified(kept_docs).select("doc_a", "doc_b")
    )
    quality = tx.quality_score(kept_docs).select("doc_id", "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = comp.join(quality, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    best = ranked.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("kept_doc"),
        F.col("quality_score").alias("kept_quality"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    batch = {
        tuple(r)
        for r in best.join(sizes, "component")
        .select("component", "kept_doc", "kept_quality", "n_members")
        .collect()
    }
    assert streamed == batch
    assert len(streamed) > 0

    # no quarantined doc ever reached the shingle store or band state
    qids = {r[0] for r in quarantined}
    store_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(base, "shingles")
        ).select("doc_id").collect()
    }
    band_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(base, "bands"))
        .select("doc_id")
        .collect()
    }
    assert not (qids & store_ids)
    assert not (qids & band_ids)
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_intake_keep_rate_equals_batch_monitor(spark, sf_dir):
    """The stream-side quality-gate monitor: after the gated intake
    fold runs over micro-batches of a SOURCE-carrying document stream,
    (a) read_intake_keep_rate must equal gopher_keep_rate_by_source on
    the full corpus row-for-row (counts sum across batches; ppm derives
    from the summed counts — the reason the store persists counts, not
    rates), and (b) each batch partition's rows must equal the batch
    monitor run on that micro-batch alone (the per-batch drill-down a
    feed-health dashboard plots)."""
    from retail_etl_pipeline_spark.operators import text as tx
    from retail_etl_pipeline_spark.streaming import neardup as nd

    docs = fx._read(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    base = os.path.join(TMP, "intake_monitor")
    shutil.rmtree(base, ignore_errors=True)

    # empty/not-started store reads as an empty, schema-stable relation
    assert nd.read_intake_keep_rate(spark, base).count() == 0

    src = os.path.join(base, "src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        nd.stream_gated_dedup_pipeline(stream, base)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    # (a) global monitor == batch monitor on the concatenated corpus
    streamed = {
        tuple(r) for r in nd.read_intake_keep_rate(spark, base).collect()
    }
    batch = {
        tuple(r) for r in tx.gopher_keep_rate_by_source(docs).collect()
    }
    assert streamed == batch
    assert len(streamed) > 1  # several sources actually present

    # (b) per-batch rows == the monitor on that micro-batch alone
    stats = nd.read_intake_stats(spark, base)
    batch_ids = sorted(
        r["batch_id"] for r in stats.select("batch_id").distinct().collect()
    )
    assert len(batch_ids) == 3
    count_cols = nd._INTAKE_COUNT_COLS
    for i, bid in enumerate(batch_ids):
        got = {
            tuple(r)
            for r in stats.where(F.col("batch_id") == bid)
            .select("source", *count_cols)
            .collect()
        }
        want = {
            tuple(r)
            for r in tx.gopher_keep_rate_by_source(
                docs.filter(F.col("doc_id") % 3 == i)
            )
            .drop("keep_ppm")
            .collect()
        }
        assert got == want
    shutil.rmtree(base, ignore_errors=True)
