"""Stream=batch parity: replay the same parquet data through Structured
Streaming and require the final state to equal the batch result — the analog
of the reference's TopologyTestDriver tests (test/Streamiz.Kafka.Net.Tests/
Processors/*, which pipe records through a topology and assert final
KeyValueStore state)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyspark_engine import StreamBuilder, TumblingWindowOptions
from pyspark_engine.dsl import KStream
from pyspark_engine.runtime import normalize_event_time
from pyspark_engine.streaming import (
    StreamingBuilder,
    run_available_now,
    start_to_files,
    stateful_map,
)

SF = "/root/testdata/sf0.001"


def _events_stream(spark) -> KStream:
    sb = StreamingBuilder(spark)
    ks = sb.file_stream(f"{SF}/events.parquet", key="user_id", ts="ts")
    # same physical-type normalization as runtime.read_table
    return KStream(normalize_event_time(ks.df, "ts"), ks.key, "ts")


def _events_batch(spark) -> KStream:
    return StreamBuilder(spark, SF).stream("events", key="user_id", ts="ts")


def _sorted_pdf(df, cols):
    return (
        df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    )


def test_stateless_parity(spark):
    def topo(ks):
        return ks.filter(F.col("event_type") == "click").with_values(
            value2=F.col("value") * 2
        )

    got = run_available_now(topo(_events_stream(spark)), output_mode="append")
    want = topo(_events_batch(spark)).df
    cols = ["event_id", "user_id", "value2"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_grouped_count_parity(spark):
    got = run_available_now(
        _events_stream(spark).group_by_key().count(), output_mode="complete"
    )
    want = _events_batch(spark).group_by_key().count().df
    cols = ["user_id", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_to_table_parity(spark):
    """Streaming KTable (incremental max_by) == batch KTable (window pass)."""
    got = run_available_now(
        _events_stream(spark).to_table(order=("ts", "event_id")),
        output_mode="complete",
    )
    want = _events_batch(spark).to_table(order=("ts", "event_id")).df
    cols = ["user_id", "event_id", "event_type", "value"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_windowed_grace_watermark_parity(spark):
    """Tumbling+grace compiles to withWatermark in streaming; with all data
    on time (single replay batch) final window counts equal the batch result."""
    w = TumblingWindowOptions.of(3_600_000, grace_ms=600_000)

    got = run_available_now(
        _events_stream(spark).group_by_key().windowed_by(w).count(),
        output_mode="complete",
    )
    want = (
        _events_batch(spark)
        .group_by_key()
        .windowed_by(TumblingWindowOptions.of(3_600_000))
        .count()
        .df
    )
    cols = ["user_id", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_session_window_parity(spark):
    """Streaming session windows (merging session state) == batch sessions."""
    from pyspark_engine import SessionWindowOptions

    w = SessionWindowOptions.of(30 * 60 * 1000)
    got = run_available_now(
        _events_stream(spark).with_watermark("0 seconds").group_by_key().windowed_by(w).count(),
        output_mode="append",
    )
    batch = _events_batch(spark)
    want = batch.group_by_key().windowed_by(w).count().df
    # append mode emits a session once the watermark passes its end; sessions
    # still open at the final watermark (= global max ts) stay in state
    cutoff = batch.df.agg(F.max("ts")).collect()[0][0]
    want = want.filter(F.col("w_end") <= F.lit(cutoff))
    cols = ["user_id", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_session_window_streaming_parity(spark, tmp_path):
    """Session windows maintained across MULTIPLE microbatches (merging
    session state store) == batch session aggregation.  The source is split
    into time-ordered thirds so the watermark only moves forward between
    batches and no row is late-dropped; sessions spanning a batch boundary
    exercise the state-merge path.  Append mode emits a session once the
    watermark passes its end; sessions still open at the final watermark
    (= global max ts with the 0s delay) stay in state — the batch twin is
    filtered to the same closed set."""
    import time

    from pyspark.sql.window import Window as W

    from pyspark_engine import SessionWindowOptions
    from pyspark_engine.streaming import StreamingBuilder

    w = SessionWindowOptions.of(30 * 60 * 1000)
    df = _events_batch(spark).df.select("user_id", "ts", "event_id")
    split = df.withColumn("__t", F.ntile(3).over(W.orderBy("ts")))
    src = str(tmp_path / "src")
    for i in (1, 2, 3):  # oldest third first; mod-time order = replay order
        split.filter(F.col("__t") == i).drop("__t").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.05)

    ks = StreamingBuilder(spark).file_stream(
        src, key="user_id", ts="ts", max_files_per_trigger=1
    ).with_watermark("0 seconds")
    got = run_available_now(
        ks.group_by_key().windowed_by(w).count(), output_mode="append"
    )

    batch = KStream(spark.read.parquet(src), ("user_id",), "ts")
    want = batch.group_by_key().windowed_by(w).count().df
    cutoff = batch.df.agg(F.max("ts")).collect()[0][0]
    want = want.filter(F.col("w_end") <= F.lit(cutoff))
    cols = ["user_id", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    assert got.count() > 0


def test_sessionize_streaming_parity(spark, tmp_path):
    """True streaming event-level sessionize (applyInPandasWithState,
    bounded open-session state, event-time timers): across a 3-microbatch
    time-ordered replay the emitted rows equal the batch
    analytics.sessionize restricted to sessions the final watermark closed
    (last event + gap strictly before it); each emitted event appears
    exactly once; still-open sessions stay in state."""
    import time

    from pyspark.sql.window import Window as W

    from pyspark_engine import analytics
    from pyspark_engine.streaming import StreamingBuilder, sessionize_streaming

    GAP = 30 * 60_000
    df = _events_batch(spark).df.select("user_id", "ts", "event_id")
    split = df.withColumn("__t", F.ntile(3).over(W.orderBy("ts")))
    src = str(tmp_path / "src")
    for i in (1, 2, 3):  # oldest third first; watermark only moves forward
        split.filter(F.col("__t") == i).drop("__t").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.05)

    ks = StreamingBuilder(spark).file_stream(
        src, key="user_id", ts="ts", max_files_per_trigger=1
    ).with_watermark("0 seconds")
    got = run_available_now(sessionize_streaming(ks, "event_id", GAP), output_mode="append")

    batch_df = spark.read.parquet(src)
    want_all = analytics.sessionize(batch_df, "ts", "user_id", "event_id", GAP)
    from pyspark_engine.runtime import epoch_ms

    wm = batch_df.agg(F.max(epoch_ms(F.col("ts")))).collect()[0][0]
    sess_last = want_all.groupBy("user_id", "session_idx").agg(F.max("t_ms").alias("__last"))
    want = (
        want_all.join(
            sess_last.filter(F.col("__last") + GAP < F.lit(wm)),
            ["user_id", "session_idx"],
        ).drop("__last")
    )
    cols = ["user_id", "event_id", "t_ms", "session_idx", "pos"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    # a meaningful split: sessions actually closed AND sessions stayed open
    assert got.count() > 0
    assert got.count() < want_all.count()
    # exactly-once emission per event
    assert got.select("user_id", "event_id").distinct().count() == got.count()


def test_suppress_streaming_emit_final(spark, tmp_path):
    """KTable.suppress under streaming (KIP-328 untilWindowCloses; the
    reference's roadmap Suppress): append mode on the watermarked windowed
    aggregation emits ONLY windows the watermark has closed — the window
    still open at the final watermark is withheld, and the emitted set
    equals the batch result restricted to closed windows.  Draining a
    suppressed table in a non-append mode is rejected."""
    import datetime as dt
    import os
    import time

    from pyspark_engine import TumblingWindowOptions
    from pyspark_engine.streaming import StreamingBuilder

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
    src = tmp_path / "src"
    os.makedirs(src)
    pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "ts": [
                t0 + dt.timedelta(minutes=5),
                t0 + dt.timedelta(minutes=65),
                t0 + dt.timedelta(minutes=10),
            ],
        }
    ).to_parquet(src / "f1.parquet", coerce_timestamps="us")
    time.sleep(1.05)
    # second microbatch advances the watermark to 2:55 (grace 10 min)
    pd.DataFrame({"k": ["a"], "ts": [t0 + dt.timedelta(hours=3, minutes=5)]}).to_parquet(
        src / "f2.parquet", coerce_timestamps="us"
    )

    w = TumblingWindowOptions.of(3_600_000, grace_ms=600_000)
    ks = StreamingBuilder(spark).file_stream(str(src), key="k", ts="ts", max_files_per_trigger=1)
    sup = ks.group_by_key().windowed_by(w).count().suppress()
    with pytest.raises(ValueError, match="emit-final"):
        run_available_now(sup, output_mode="complete")
    got = run_available_now(sup)  # append — emit-on-window-close

    batch = KStream(spark.read.parquet(str(src)), ("k",), "ts")
    all_windows = batch.group_by_key().windowed_by(TumblingWindowOptions.of(3_600_000)).count().df
    closed = all_windows.filter(
        F.col("w_end") <= F.lit(t0 + dt.timedelta(hours=2, minutes=55))
    )
    cols = ["k", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(closed, cols))
    # the open hour-3 window exists in batch state but was suppressed
    assert all_windows.count() == closed.count() + 1


def test_suppress_contract_guards(spark, tmp_path):
    """The emit-final contract is enforced at EVERY sink with descriptive
    errors: a suppressed aggregation without a watermark is rejected before
    Spark's opaque analysis exception, and the Kafka sink rejects non-append
    modes exactly like the file/memory sinks."""
    from pyspark_engine import TumblingWindowOptions
    from pyspark_engine.streaming import StreamingBuilder, start_to_kafka

    ks = _events_stream(spark)
    # no grace -> no watermark -> suppress cannot define window closure
    bare = ks.group_by_key().windowed_by(TumblingWindowOptions.of(3_600_000)).count().suppress()
    with pytest.raises(ValueError, match="watermark"):
        run_available_now(bare)
    # Kafka sink: non-append drain of a suppressed table is the same violation
    graced = (
        ks.group_by_key()
        .windowed_by(TumblingWindowOptions.of(3_600_000, grace_ms=60_000))
        .count()
        .suppress()
    )
    with pytest.raises(ValueError, match="emit-final"):
        start_to_kafka(graced, "localhost:9092", topic="t", key_col="user_id",
                       output_mode="update")


def test_suppress_marker_survives_downstream_operators(spark, tmp_path):
    """Regression (round-7 ADVICE dsl.py:919): emit_final is sticky through
    _with_df — filter/map_values AFTER suppress() still drain emit-final,
    so a non-append drain of the derived table is rejected instead of
    silently un-suppressing; and suppress()/map_values preserve subclass
    identity (GlobalKTable stays a GlobalKTable)."""
    from pyspark_engine import TumblingWindowOptions
    from pyspark_engine.dsl import GlobalKTable

    ks = _events_stream(spark)
    graced = (
        ks.group_by_key()
        .windowed_by(TumblingWindowOptions.of(3_600_000, grace_ms=60_000))
        .count()
        .suppress()
    )
    derived = graced.filter(F.col("cnt") > 0).map_values(cnt2=F.col("cnt") * 2)
    assert getattr(derived, "emit_final", False)
    with pytest.raises(ValueError, match="emit-final"):
        run_available_now(derived, output_mode="update")
    # subclass identity through _with_df / map_values / suppress
    g = GlobalKTable(
        spark.createDataFrame([(1, "x")], "k long, v string"), ("k",)
    )
    assert type(g.map_values(v2=F.upper(F.col("v")))) is GlobalKTable
    assert type(g.suppress()) is GlobalKTable


def test_sessionize_timer_fires_at_exact_close_boundary(spark, tmp_path):
    """Regression (round-7 ADVICE streaming.py:623): the per-session timer
    sits AT the close boundary last+gap — Spark fires EventTimeTimeout when
    the watermark STRICTLY exceeds the timer, so a terminating run whose
    final watermark lands exactly at last+gap+1 must still flush the
    session.  With the old last+gap+1 timer, user A's session (closed per
    the step rule) was silently lost when only user B's later event
    advanced the watermark to precisely that boundary."""
    from pyspark_engine.streaming import (
        StreamingBuilder,
        _sessionize_step,
        sessionize_streaming,
    )

    GAP = 500
    # unit pin: timer == last+gap whenever that exceeds the current watermark
    _, _, _, timeout = _sessionize_step([], 0, [(1000, 7)], 0, GAP)
    assert timeout == 1000 + GAP

    t_a = 1_000_000  # A's only event; close boundary = t_a + GAP
    rows = [(1, t_a, 10), (2, t_a + GAP + 1, 20)]  # B's event IS the final wm
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "user_id long, t long, event_id long").select(
        "user_id", F.timestamp_millis(F.col("t")).alias("ts"), "event_id"
    ).coalesce(1).write.parquet(src)

    ks = StreamingBuilder(spark).file_stream(src, key="user_id", ts="ts").with_watermark(
        "0 seconds"
    )
    got = run_available_now(sessionize_streaming(ks, "event_id", GAP), output_mode="append")
    out = [(r.user_id, r.event_id, r.t_ms, r.session_idx, r.pos) for r in got.collect()]
    # A closed (final wm t_a+GAP+1 > t_a+GAP boundary) and flushed by TIMER
    # (A got no data in the final microbatch); B's session is still open.
    assert out == [(1, 10, t_a, 1, 1)]


def test_sessionize_streaming_kill_resume(spark, tmp_path):
    """Checkpoint kill/resume for the stateful sessionizer (round-7 VERDICT
    item 3): drain run 1, stop the query, resume from the SAME checkpoint
    with more data — open-session buffers, the closed-session counter
    (session_idx continuity), and timers must survive, already-closed
    sessions must NOT re-emit, and the final sink must equal the
    uninterrupted closed-session set."""
    import os

    from pyspark_engine.streaming import sessionize_streaming

    GAP = 10_000  # 10s
    t0 = 1_700_000_000_000

    def write(name, rows):
        spark.createDataFrame(rows, "user_id long, t long, event_id long").select(
            "user_id", F.timestamp_millis(F.col("t")).alias("ts"), "event_id"
        ).coalesce(1).write.mode("append").parquet(src)

    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src)
    # run 1: u1 session 1 (0s, 1s) CLOSES (wm 105s); session 2 (100s) stays
    # OPEN (close boundary 110s > wm); u2's 105s event is the wm pusher
    write("f1", [(1, t0, 10), (1, t0 + 1_000, 11), (1, t0 + 100_000, 12),
                 (2, t0 + 105_000, 20)])

    def run():
        ks = StreamingBuilder(spark).file_stream(src, key="user_id", ts="ts").with_watermark(
            "0 seconds"
        )
        q = start_to_files(
            sessionize_streaming(ks, "event_id", GAP), out, checkpoint=ck,
            available_now=True,
        )
        q.awaitTermination()
        return {
            (r.user_id, r.event_id, r.session_idx, r.pos)
            for r in spark.read.parquet(out).collect()
        }

    got1 = run()
    assert got1 == {(1, 10, 1, 1), (1, 11, 1, 2)}  # session 2 still open

    # run 2 (same checkpoint): the 106s event MERGES into u1's open
    # session 2 (6s gap; NOT below the persisted 105s watermark — an event
    # at 103s would be dropped as late data, correct streaming semantics),
    # u2@400s pushes the watermark past everything else
    write("f2", [(1, t0 + 106_000, 13), (2, t0 + 400_000, 21)])
    got2 = run()
    assert got2 == {
        (1, 10, 1, 1), (1, 11, 1, 2),          # run-1 emission, NOT duplicated
        (1, 12, 2, 1), (1, 13, 2, 2),          # resumed open session, idx continues at 2
        (2, 20, 1, 1),                          # u2's first session closed by 400s
    }
    # u2's 400s event is still open -> withheld; exactly-once per event
    rows = spark.read.parquet(out)
    assert rows.count() == 5
    assert rows.select("user_id", "event_id").distinct().count() == 5


def test_suppress_emit_final_kill_resume(spark, tmp_path):
    """Checkpoint kill/resume under suppress() (round-7 VERDICT item 3):
    windowed-count state and the emit-final (append) contract survive a
    query restart — the window closed in run 1 is not re-emitted, the
    window closed by run 2's data emits exactly once with counts that span
    BOTH runs, and the still-open window stays withheld."""
    import datetime as dt
    import os

    from pyspark_engine import TumblingWindowOptions

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src)

    def write(name, minutes):
        pd.DataFrame(
            {"k": ["a"] * len(minutes),
             "ts": [t0 + dt.timedelta(minutes=m) for m in minutes]}
        ).to_parquet(f"{src}/{name}.parquet", coerce_timestamps="us")

    def run():
        ks = StreamingBuilder(spark).file_stream(src, key="k", ts="ts")
        sup = (
            ks.group_by_key()
            .windowed_by(TumblingWindowOptions.of(3_600_000, grace_ms=600_000))
            .count()
            .suppress()
        )
        q = start_to_files(sup, out, checkpoint=ck, available_now=True)
        q.awaitTermination()
        return {
            (r.k, r.w_start.minute + 60 * r.w_start.hour, r.cnt)
            for r in spark.read.parquet(out).collect()
        }

    # run 1: events at 0:05, 1:05, 1:15 -> wm 0:55... then 1:05 (grace 10m)
    # closes nothing until the LAST file; final wm = 1:15-0:10 = 1:05 >
    # 1:00 -> hour-0 window emitted; hour-1 window (2 events) still open
    write("f1", [5, 65, 75])
    assert run() == {("a", 0, 1)}

    # run 2 (same checkpoint): one event at 3:05 -> wm 2:55 closes hour-1;
    # its count spans run 1's state (2 events); hour-3 stays open
    write("f2", [185])
    assert run() == {("a", 0, 1), ("a", 60, 2)}
    # exactly-once: no duplicate window rows in the sink
    assert spark.read.parquet(out).count() == 2


def test_audio_pipeline_streaming_parity(spark, tmp_path):
    """Stream/batch parity for the MULTIMODAL codec surface (round-7 VERDICT
    item 6): the q163 audio chain — synth (planted endpoint silence) →
    trim → decimate → decode, three Arrow mapInPandas stages — runs
    unchanged under Structured Streaming; replaying the same parameter
    rows through file_stream in availableNow mode yields byte-identical
    features to the batch plan."""
    from pyspark_engine import llmops

    params = spark.range(40).select(
        F.col("id").alias("doc_id"),
        (F.lit(80) + F.col("id") % 40).alias("n"),
        F.when(F.col("id") % 2 == 0, 8000).otherwise(16000).alias("rate"),
        (F.lit(1) + F.col("id") % 7).alias("a"),
        (F.col("id") % 997).alias("b"),
        (F.col("id") % 37).alias("pre"),
        (F.col("id") % 23).alias("post"),
    )
    src = str(tmp_path / "params")
    params.coalesce(1).write.parquet(src)

    def chain(df):
        wav = llmops.synth_wav(df, "doc_id", "n", "rate", "a", "b",
                               pre_col="pre", post_col="post")
        trimmed = llmops.wav_trim_silence(wav, "doc_id", "payload", frame_len=16, max_peak=0)
        small = llmops.wav_downsample(trimmed, "doc_id", "payload", factor=2)
        return llmops.decode_wav_features(small, "doc_id", "payload")

    stream_in = StreamingBuilder(spark).file_stream(src, key="doc_id")
    got = run_available_now(
        KStream(chain(stream_in.df), ("doc_id",), None), output_mode="append"
    )
    want = chain(spark.read.parquet(src))
    cols = want.columns
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    assert got.count() == 40


def test_image_transcode_streaming_parity(spark, tmp_path):
    """Stream/batch parity for the cross-codec image chain: synth PNG ->
    transcode to 4:2:0 JPEG -> decode features, replayed through
    file_stream availableNow, equals the batch plan byte-for-byte (PNG and
    JPEG are deterministic here: fixed filters-by-row, mtime-free, Annex-K
    tables)."""
    from pyspark_engine import llmops

    params = spark.range(30).select(
        F.col("id").alias("doc_id"),
        (F.lit(16) + F.col("id") % 9).alias("w"),
        (F.lit(12) + F.col("id") % 7).alias("h"),
        (F.lit(1) + F.col("id") % 5).alias("a"),
        (F.col("id") % 251).alias("b"),
    )
    src = str(tmp_path / "params")
    params.coalesce(1).write.parquet(src)

    def chain(df):
        png = llmops.synth_png(df, "doc_id", "w", "h", "a", "b")
        jpg = llmops.transcode_png_jpeg(png, "doc_id", "payload")
        return llmops.decode_jpeg_features(jpg, "doc_id", "payload")

    stream_in = StreamingBuilder(spark).file_stream(src, key="doc_id")
    got = run_available_now(
        KStream(chain(stream_in.df), ("doc_id",), None), output_mode="append"
    )
    want = chain(spark.read.parquet(src))
    cols = want.columns
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    assert got.count() == 30


def test_read_gen_refuses_stale_state_without_marker(tmp_path):
    """A state dir holding generation data WITHOUT a readable _GEN marker is
    refused (guessing 0 would merge into a stale ping-pong slot)."""
    import os

    from pyspark_engine.streaming import _read_gen, _write_gen

    root = tmp_path / "state"
    os.makedirs(root / "g-0")
    with pytest.raises(ValueError, match="_GEN"):
        _read_gen(str(root))
    _write_gen(str(root), 3, 0)
    assert _read_gen(str(root)) == 3
    # empty dir (fresh start) is fine
    fresh = tmp_path / "fresh"
    os.makedirs(fresh)
    assert _read_gen(str(fresh)) == 0


def test_sessionize_streaming_requires_watermark_and_evicts(spark, tmp_path):
    """sessionize_streaming rejects un-watermarked input at call time with a
    descriptive error; with evict_closed=True an idle user's state row is
    fully removed, so a much-later return restarts session numbering at 1
    (the documented retention trade-off), while the default keeps the
    counter and numbers the new session 2."""
    import datetime as dt
    import os
    import time

    from pyspark_engine.streaming import StreamingBuilder, sessionize_streaming

    src = tmp_path / "src"
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    # k=1 at t0; two k=2 batches advance the watermark so k=1's first
    # session closes via TIMER while k=1 is idle (eviction point); k=1
    # returns at 5h; final k=2 batch closes the second session
    batches = [
        {"k": [1], "eid": [10], "ts": [t0]},
        {"k": [2], "eid": [90], "ts": [t0 + dt.timedelta(hours=2)]},
        {"k": [2], "eid": [91], "ts": [t0 + dt.timedelta(hours=3)]},
        {"k": [1], "eid": [11], "ts": [t0 + dt.timedelta(hours=5)]},
        {"k": [2], "eid": [92], "ts": [t0 + dt.timedelta(hours=10)]},
    ]
    for i, b in enumerate(batches):
        pd.DataFrame(b).to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
        time.sleep(1.05)

    def run(evict):
        ks = StreamingBuilder(spark).file_stream(
            str(src), key="k", ts="ts", max_files_per_trigger=1
        ).with_watermark("0 seconds")
        out = run_available_now(
            sessionize_streaming(ks, "eid", 30 * 60_000, evict_closed=evict),
            output_mode="append",
        )
        return {r.eid: r.session_idx for r in out.filter(F.col("k") == 1).collect()}

    no_wm = StreamingBuilder(spark).file_stream(str(src), key="k", ts="ts")
    with pytest.raises(ValueError, match="watermark"):
        sessionize_streaming(no_wm, "eid", 30 * 60_000)

    assert run(evict=False) == {10: 1, 11: 2}   # counter survives idle gap
    # fresh checkpoint via a new state: wipe nothing — evict run needs its
    # own checkpoint; run() creates a fresh one implicitly each call
    assert run(evict=True) == {10: 1, 11: 1}    # numbering restarts after eviction


def test_sessionize_step_property_fuzz():
    """Spark-free property test of the streaming sessionizer's PURE
    transition (_sessionize_step): for random per-key event sets, random
    time-ordered batch splits, and a monotone watermark schedule (wm =
    max event time seen so far, i.e. delay 0 — so late-drop never
    triggers), chaining the step function must (a) emit every session
    whose end the final watermark passed exactly once with batch-identical
    numbering/positions, (b) keep exactly the still-open sessions' events
    in the buffer, and (c) never emit an event twice or out of session
    order.  This pounds boundary cases the integration test can't
    enumerate: events exactly gap apart (must merge), sessions ending
    exactly at the watermark (must stay open), timer-only steps."""
    from hypothesis import given, settings, strategies as st

    from pyspark_engine.streaming import _sessionize_step

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=25, unique=True),
        st.integers(min_value=1, max_value=60),
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=0, max_value=10**6),
    )
    def check(times, gap, n_batches, seed):
        import random

        rng = random.Random(seed)
        events = sorted((t, 1000 + j) for j, t in enumerate(sorted(times)))
        # time-ordered batch split (watermark only moves forward)
        cuts = sorted(rng.sample(range(len(events)), min(n_batches - 1, len(events) - 1))) if len(events) > 1 else []
        batches, prev = [], 0
        for c in cuts + [len(events)]:
            batches.append(events[prev:c])
            prev = c
        batches = [b for b in batches if b]

        buf, closed, emitted = [], 0, []
        wm = 0
        for b in batches:
            wm = max([wm] + [t for t, _ in b])  # delay-0 watermark, post-batch
            rows, buf, closed, _timeout = _sessionize_step(buf, closed, b, wm, gap)
            emitted.extend(rows)
        # final timer-only flush at the terminal watermark
        rows, buf, closed, _ = _sessionize_step(buf, closed, [], wm, gap)
        emitted.extend(rows)

        # reference batch sessionization
        sessions, cur = [], []
        for t, o in events:
            if cur and t - cur[-1][0] > gap:
                sessions.append(cur)
                cur = []
            cur.append((t, o))
        if cur:
            sessions.append(cur)
        want = [
            (t, o, i + 1, pos)
            for i, s in enumerate(sessions)
            if s[-1][0] + gap < wm
            for pos, (t, o) in enumerate(s, 1)
        ]
        open_events = [ev for s in sessions if not s[-1][0] + gap < wm for ev in s]

        assert emitted == want  # exact rows, numbering, positions, order
        assert sorted(buf) == sorted(open_events)  # state holds exactly the open tail
        assert len({(t, o) for t, o, *_ in emitted}) == len(emitted)  # no double emission

    check()


def test_stateful_map_running_count(spark):
    """applyInPandasWithState escape hatch: running per-key count; final
    emitted state == batch grouped count."""

    def fn(key, pdfs, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [cnt]})

    ks = _events_stream(spark)
    got = run_available_now(
        stateful_map(
            ks.group_by_key(), fn, "user_id bigint, cnt bigint", "cnt bigint"
        ),
        output_mode="update",
    )
    # one availableNow replay may still split into several microbatches; the
    # last emitted row per key is the final state
    final = (
        got.groupBy("user_id").agg(F.max("cnt").alias("cnt"))
    )
    want = _events_batch(spark).group_by_key().count().df
    cols = ["user_id", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(final, cols), _sorted_pdf(want, cols))


def test_stream_stream_interval_join_parity(spark):
    """The SAME dsl.join() call runs as a watermarked stream-stream interval
    join in streaming mode; inner-join results equal the batch interval join."""
    from pyspark_engine import JoinWindowOptions

    def sides(ks):
        clicks = ks.filter(F.col("event_type") == "click").map(
            key={"user_id": F.col("user_id")}, values={"l_id": F.col("event_id")}
        )
        purchases = ks.filter(F.col("event_type") == "purchase").map(
            key={"r_user": F.col("user_id")}, values={"r_id": F.col("event_id")}
        ).rename(ts="r_ts")
        return clicks, purchases

    lc, rp = sides(_events_stream(spark))
    got = run_available_now(
        lc.with_watermark("1 hour").join(
            rp.with_watermark("1 hour"), JoinWindowOptions.of(30 * 60 * 1000), how="inner"
        ),
        output_mode="append",
    )
    blc, brp = sides(_events_batch(spark))
    want = blc.join(brp, JoinWindowOptions.of(30 * 60 * 1000), how="inner").df
    cols = ["user_id", "l_id", "r_id"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_ss_join_hook_bypassed_by_explicit_watermark(spark):
    """r9 verdict item 6 / f35e008 hook scope: the async driver's eager
    stream-stream join hook must NOT hijack a plan carrying an explicit
    user watermark — that watermark asks for the native watermark-gated
    (emit-at-window-close) semantics.  One watermarked side suffices to
    bypass; an unwatermarked join under the same hook IS routed to it; and
    the bypassed native inner join still matches the batch interval join."""
    from pyspark_engine import JoinWindowOptions
    from pyspark_engine.dsl import _SS_JOIN_HOOK

    def sides(ks):
        clicks = ks.filter(F.col("event_type") == "click").map(
            key={"user_id": F.col("user_id")}, values={"l_id": F.col("event_id")}
        )
        purchases = ks.filter(F.col("event_type") == "purchase").map(
            key={"r_user": F.col("user_id")}, values={"r_id": F.col("event_id")}
        ).rename(ts="r_ts")
        return clicks, purchases

    w = JoinWindowOptions.of(30 * 60 * 1000)
    taken = []

    def fake_hook(left, right, window, how, ts_alias):
        taken.append(how)
        raise RuntimeError("hook taken")

    lc, rp = sides(_events_stream(spark))
    tok = _SS_JOIN_HOOK.set(fake_hook)
    try:
        # one explicitly watermarked side bypasses the hook for every how
        for how in ("inner", "left", "full"):
            joined = lc.with_watermark("1 hour").join(rp, w, how=how)
            assert joined.df.isStreaming
        # no user watermark: the hook is the async conformance path
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="hook taken"):
            lc.join(rp, w, how="left")
        assert taken == ["left"]
        native = lc.with_watermark("1 hour").join(rp.with_watermark("1 hour"), w, how="inner")
    finally:
        _SS_JOIN_HOOK.reset(tok)
    got = run_available_now(native, output_mode="append")
    blc, brp = sides(_events_batch(spark))
    want = blc.join(brp, w, how="inner").df
    cols = ["user_id", "l_id", "r_id"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_streaming_dedup_within_watermark(spark):
    """Replay events twice (planted exact dups); state-bounded streaming
    dedup must recover the single-copy batch row set."""
    src = _events_stream(spark)
    doubled = src.merge(src)
    got = run_available_now(
        doubled.with_watermark("1 hour").drop_duplicates(["event_id"], within_watermark=True),
        output_mode="append",
    )
    want = _events_batch(spark).df
    assert got.count() == want.count()
    cols = ["event_id", "user_id"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_materialize_stream_interactive_query(spark):
    """Streaming state drained into a queryable named store (§2.7 twin)."""
    from pyspark_engine.runtime import StoreRegistry
    from pyspark_engine.streaming import materialize_stream

    materialize_stream(
        _events_stream(spark).group_by_key().count(), "stream_user_counts"
    )
    reg = StoreRegistry(spark)
    total = reg.store("stream_user_counts").count()
    want = _events_batch(spark).group_by_key().count().df.count()
    assert total == want
    # point lookup path
    first = _events_batch(spark).group_by_key().count().df.first()
    assert reg.get("stream_user_counts", user_id=first.user_id)[0].cnt == first.cnt


def test_file_sink_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out")
    q = start_to_files(
        _events_stream(spark).filter(F.col("event_type") == "purchase"),
        out,
        available_now=True,
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    want = _events_batch(spark).filter(F.col("event_type") == "purchase").df
    assert got.count() == want.count()
    cols = ["event_id", "user_id"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_tt_join_streaming_parity(spark, tmp_path, engine):
    """Streaming KTable⋈KTable over multi-microbatch changelogs == batch
    KTable.join — the continuous analog of KTableKTableJoinProcessor.cs:
    20-48 — from BOTH engines: the tws per-key engine (O(changed keys)
    per batch) and the exact ping-pong loop (SURVEY §7.3.2)."""
    from pyspark_engine.streaming import join_tables_streaming

    ev = (
        StreamBuilder(spark, SF)
        .stream("events", key="user_id", ts="ts")
        .df.select("user_id", "ts", "event_id", F.col("event_type").alias("a_type"))
    )
    ev.repartition(3).write.parquet(str(tmp_path / "ev"))  # 3 files -> 3 microbatches
    od = (
        StreamBuilder(spark, SF)
        .stream("orders", key="o_custkey", ts="o_orderdate")
        .df.select("o_custkey", "o_orderdate", "o_orderkey", F.col("o_totalprice").alias("b_total"))
    )
    od.write.parquet(str(tmp_path / "od"))

    sb = StreamingBuilder(spark)
    lks = sb.file_stream(str(tmp_path / "ev"), key="user_id", ts="ts", max_files_per_trigger=1)
    rks = sb.file_stream(str(tmp_path / "od"), key="o_custkey", ts="o_orderdate")
    got = join_tables_streaming(
        lks,
        rks,
        how="full",
        l_order=("ts", "event_id"),
        r_order=("o_orderdate", "o_orderkey"),
        ts_alias="jts",
        store_name="tt_join_store",
        engine=engine,
    )

    lb = KStream(spark.read.parquet(str(tmp_path / "ev")), ("user_id",), "ts").to_table(
        order=("ts", "event_id")
    )
    rb = KStream(spark.read.parquet(str(tmp_path / "od")), ("o_custkey",), "o_orderdate").to_table(
        order=("o_orderdate", "o_orderkey")
    )
    want = lb.join(rb, how="full", ts_alias="jts").df
    cols = ["user_id", "a_type", "b_total", "jts"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    # interactive-query surface: the final snapshot is registered as a view
    assert spark.table("tt_join_store").count() == got.count()


def _write_source_file(spark, rows, schema, src_dir, seq):
    """One parquet file per microbatch, mtime-ordered so the file source
    replays them as separate batches (maxFilesPerTrigger=1) — the engine's
    canonical staging protocol."""
    from pyspark_engine.testing import stage_generation_file

    stage_generation_file(spark.createDataFrame(rows, schema), src_dir, seq)


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_until_time_limit_streaming(spark, tmp_path, engine):
    """KIP-328 Suppressed.untilTimeLimit over real microbatches: entries
    emit exactly when stream time passes entry_time + limit; an
    intermediate update REPLACES the value but does NOT reset the clock
    (the update's own ts would not be due yet — only the preserved entry
    time makes it due); undelivered entries stay buffered at drain end.
    Identical emissions — values, reasons, AND batch ids — from BOTH
    engines: the tws per-key engine and the exact ping-pong buffer."""
    import datetime as dt

    from pyspark_engine.streaming import suppress_buffered

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 10, m, s)

    src = str(tmp_path / "src")
    schema = "k string, v int, ts timestamp"
    _write_source_file(spark, [("a", 1, t(0)), ("b", 1, t(0, 10))], schema, src, 0)
    # a updates at 10:01:00: clock-reset would put its due time at 10:02:00,
    # AFTER this batch's stream time 10:01:30 — emission proves no reset
    _write_source_file(spark, [("a", 2, t(1)), ("c", 1, t(1, 30))], schema, src, 1)
    _write_source_file(spark, [("d", 1, t(3))], schema, src, 2)

    sb = StreamingBuilder(spark)
    tbl = (
        sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
        .to_table()
        .suppress(until_time_limit_ms=60_000)
    )
    got = suppress_buffered(tbl, time_col="ts", store_name="sup_buf", engine=engine)
    rows = {r["k"]: r for r in got.collect()}
    assert set(rows) == {"a", "b", "c"}  # d still inside its limit
    assert rows["a"]["v"] == 2  # updated value, original clock
    assert all(r["__emit_reason"] == "time" for r in rows.values())
    # a and b became due in batch 1 (stream time 10:01:30), c in batch 2
    assert rows["a"]["__emit_batch"] == 1 and rows["b"]["__emit_batch"] == 1
    assert rows["c"]["__emit_batch"] == 2
    assert [r["k"] for r in spark.table("sup_buf").collect()] == ["d"]


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_nullable_bigint_precision(spark, tmp_path, engine):
    """A bigint value column containing REAL nulls in data rows, beside
    the clock-copy null padding, must survive the per-key state exactly:
    any float64 hop would corrupt values past 2^53.  Both engines must
    round-trip 2^53+1 exactly alongside null values and null-bearing rows
    must emit with their nulls intact."""
    import datetime as dt

    from pyspark_engine.streaming import suppress_buffered

    big = (1 << 53) + 1  # int(float(big)) == big - 1: detects any float hop
    neg_big = -(1 << 53) - 3

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 10, m, s)

    src = str(tmp_path / "src")
    schema = "k string, v bigint, n int, ts timestamp"
    _write_source_file(
        spark,
        [
            ("a", big, None, t(0)),
            ("b", None, 7, t(0, 10)),
            ("c", neg_big, None, t(0, 20)),
            # e mixes a NULL and a >2^53 value in the SAME key's Arrow
            # column slice — the exact float64-conversion trigger
            ("e", None, 1, t(0, 30)),
            ("e", big, 2, t(0, 40)),
        ],
        schema,
        src,
        0,
    )
    _write_source_file(spark, [("d", 1, 1, t(3))], schema, src, 1)

    sb = StreamingBuilder(spark)
    tbl = (
        sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
        .to_table()
        .suppress(until_time_limit_ms=60_000)
    )
    got = suppress_buffered(tbl, time_col="ts", store_name=f"bigint_buf_{engine}", engine=engine)
    rows = {r["k"]: r for r in got.collect()}
    assert set(rows) == {"a", "b", "c", "e"}
    assert rows["a"]["v"] == big and rows["a"]["n"] is None
    assert rows["b"]["v"] is None and rows["b"]["n"] == 7
    assert rows["c"]["v"] == neg_big
    assert rows["e"]["v"] == big and rows["e"]["n"] == 2
    assert dict(got.dtypes)["v"] == "bigint" and dict(got.dtypes)["n"] == "int"
    # the interactive-query store view must round-trip types and values too
    # (the tws engine reads them back out of its value state)
    buf = spark.table(f"bigint_buf_{engine}")
    assert dict(buf.dtypes)["v"] == "bigint"
    assert [(r["k"], r["v"]) for r in buf.collect()] == [("d", 1)]


def test_suppress_keyed_rejects_pre_epoch_event_times(spark, tmp_path):
    """engine=None auto-selects the per-key tws engine, whose Spark
    watermark is floored at 0 — pre-epoch (< 1970) event times would sit
    buffered forever and the drain would return silently empty.  The
    processor raises loudly instead, pointing at engine='exact' (which
    handles them: its stream-time fold is plain Python ints)."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_engine.streaming import suppress_buffered

    src = str(tmp_path / "src")
    schema = "k string, v int, ts timestamp"
    rows = [("a", 1, dt.datetime(1960, 1, 1)), ("b", 1, dt.datetime(1960, 1, 2))]
    _write_source_file(spark, rows, schema, src, 0)
    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts")
            .to_table()
            .suppress(until_time_limit_ms=60_000)
        )

    with _pytest.raises(Exception, match="pre-epoch"):
        suppress_buffered(mk(), time_col="ts", engine="tws")

    # epoch 0 EXACTLY is just as undeliverable (the engine reads watermark
    # 0 as "none yet"), so the guard is <= 0
    src0 = str(tmp_path / "src0")
    _write_source_file(spark, [("z", 1, dt.datetime(1970, 1, 1))], schema, src0, 0)
    tbl0 = (
        sb.file_stream(src0, key="k", ts="ts")
        .to_table()
        .suppress(until_time_limit_ms=60_000)
    )
    with _pytest.raises(Exception, match="pre-epoch"):
        suppress_buffered(tbl0, time_col="ts", engine="tws")
    # the exact engine handles the same changelog: both due at drain end?
    # no — nothing advances past entry+limit (only two pre-epoch points a
    # day apart, limit 60 s): 1960-01-02 stream time makes 'a' due
    got = suppress_buffered(mk(), time_col="ts", engine="exact")
    assert [r["k"] for r in got.collect()] == ["a"]


def test_suppress_buffer_bounds_emit_early_and_shutdown(spark, tmp_path):
    """BufferConfig bounds: maxRecords overflow with emitEarlyWhenFull
    evicts-and-emits the EARLIEST entries exactly when the bound trips;
    the shutDownWhenFull default raises instead.  Batch identity oracle:
    suppress(until_time_limit_ms) on a batch table changes nothing."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_engine.streaming import suppress_buffered

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    schema = "k string, v int, ts timestamp"
    src = str(tmp_path / "src2")
    _write_source_file(spark, [("a", 1, t(0)), ("b", 1, t(1))], schema, src, 0)
    _write_source_file(spark, [("c", 1, t(2)), ("d", 1, t(3))], schema, src, 1)

    sb = StreamingBuilder(spark)

    def mk():
        return sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1).to_table()

    got = suppress_buffered(
        mk().suppress(until_time_limit_ms=3_600_000, max_records=2, emit_early_when_full=True),
        time_col="ts",
        store_name="sup_bound_buf",
    )
    early = sorted((r["k"], r["__emit_reason"], r["__emit_batch"]) for r in got.collect())
    assert early == [("a", "early", 1), ("b", "early", 1)]  # oldest two, at the tripping batch
    assert sorted(r["k"] for r in spark.table("sup_bound_buf").collect()) == ["c", "d"]

    # shutDownWhenFull (the default): the query dies at the overflow batch
    with _pytest.raises(Exception, match="shutDownWhenFull|buffer full"):
        suppress_buffered(
            mk().suppress(until_time_limit_ms=3_600_000, max_records=2),
            time_col="ts",
        )

    # max_bytes path: tiny byte budget, newest-suffix keep, oldest emitted
    got_b = suppress_buffered(
        mk().suppress(until_time_limit_ms=3_600_000, max_bytes=1, emit_early_when_full=True),
        time_col="ts",
    )
    assert {r["__emit_reason"] for r in got_b.collect()} == {"early"}

    # batch identity: the suppressed batch table IS the plain table
    batch_tbl = KStream(spark.read.parquet(src), ("k",), "ts").to_table()
    sup = batch_tbl.suppress(until_time_limit_ms=60_000)
    assert sorted(map(tuple, sup.df.collect())) == sorted(map(tuple, batch_tbl.df.collect()))
    # and the streaming sink guard points time-limit tables at the buffer
    from pyspark_engine.streaming import run_available_now

    with _pytest.raises(ValueError, match="suppress_buffered"):
        run_available_now(mk().suppress(until_time_limit_ms=60_000), output_mode="update")


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_fk_join_streaming_parity(spark, tmp_path, engine):
    """Streaming KTable.join_fk over multi-microbatch changelogs == batch
    KTable.join_fk — INCLUDING an FK-change step: customer 1 re-points its
    fk from 10 to 20 in a later changelog record, which must retract the
    old join row and emit the new one (the re-subscription round-trip
    KIP-213's subscription/response topics exist to provide) — from BOTH
    engines: the tws two-stage subscription/response realization and the
    exact changelog-state recompute loop."""
    import datetime as dt

    from pyspark_engine.streaming import join_fk_streaming

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left_rows = [
        (1, 10, t(0)),
        (2, 20, t(0)),
        (3, 30, t(0)),
        (1, 20, t(5)),   # FK CHANGE: key 1 re-subscribes 10 -> 20
        (4, 99, t(5)),   # dangling fk: inner drops, left keeps
        (2, 20, t(9)),   # same-fk refresh (no-op re-subscription)
    ]
    right_rows = [
        (10, "ten", t(0)),
        (20, "twenty", t(0)),
        (30, "thirty", t(0)),
        (20, "TWENTY", t(7)),  # right-side update after the flip
    ]
    ldf = spark.createDataFrame(left_rows, "pk int, fk int, lts timestamp")
    rdf = spark.createDataFrame(right_rows, "rk int, rname string, rts timestamp")
    ldf.repartition(3).write.parquet(str(tmp_path / "l"))  # 3 files -> 3 microbatches
    rdf.repartition(2).write.parquet(str(tmp_path / "r"))

    sb = StreamingBuilder(spark)
    for how in ("inner", "left"):
        lks = sb.file_stream(str(tmp_path / "l"), key="pk", ts="lts", max_files_per_trigger=1)
        rks = sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts", max_files_per_trigger=1)
        got = join_fk_streaming(
            lks, rks, fk="fk", how=how, store_name=f"fk_join_{how}", engine=engine
        )

        lb = KStream(spark.read.parquet(str(tmp_path / "l")), ("pk",), "lts").to_table()
        rb = KStream(spark.read.parquet(str(tmp_path / "r")), ("rk",), "rts").to_table()
        want = lb.join_fk(rb, "fk", how=how).df
        cols = ["pk", "fk", "rname"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
        # the FK flip itself: key 1 must be joined to the key-20 row (and,
        # with the later right-side update, to its LATEST value)
        m = {r["pk"]: r["rname"] for r in got.collect()}
        assert m[1] == "TWENTY" and m[2] == "TWENTY" and m[3] == "thirty"
        assert (4 in m) == (how == "left") and (m.get(4) is None if how == "left" else True)
        assert spark.table(f"fk_join_{how}").count() == got.count()


def test_window_store_fetch_range_and_order(spark):
    """IWindowStore.Fetch analog: key + [from, to] on window START, ordered
    by start (core/State/QueryableStoreTypes.cs:24-41)."""
    import datetime as dt

    from pyspark_engine.runtime import StoreRegistry

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(minutes=m)) for m in (5, 65, 125, 185)
    ] + [("b", t0 + dt.timedelta(minutes=65))]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    (
        KStream(df, key=("k",), ts="ts")
        .group_by_key()
        .windowed_by(TumblingWindowOptions.of(3_600_000))
        .count("cnt")
        .materialize("ws_test")
    )
    reg = StoreRegistry(spark)
    base_ms = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    # windows for 'a' start at +0h,+1h,+2h,+3h; fetch [+1h, +2h] inclusive
    got = reg.fetch("ws_test", {"k": "a"}, t_from_ms=base_ms + 3_600_000, t_to_ms=base_ms + 7_200_000)
    starts = [int(r.w_start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) - base_ms for r in got]
    assert starts == [3_600_000, 7_200_000]  # in-range only, ordered by start
    assert all(r.k == "a" and r.cnt == 1 for r in got)


def test_observe_metrics_batch_and_streaming(spark, tmp_path):
    """Metrics surface (KafkaStream metrics analog): batch reads a
    pyspark Observation after the action; streaming reads the named observe
    values from the query progress (observed_metrics)."""
    from pyspark.sql import Observation

    from pyspark_engine.streaming import observed_metrics, start_to_files

    obs = Observation("sink_metrics")
    s = _events_batch(spark).observe(obs, F.count(F.lit(1)).alias("records"), F.sum("value").alias("v"))
    n = s.df.count()
    assert obs.get["records"] == n

    stream = _events_stream(spark).peek("stream_metrics", F.count(F.lit(1)).alias("records"))
    q = start_to_files(stream, str(tmp_path / "out"), checkpoint=str(tmp_path / "ck"), available_now=True)
    q.awaitTermination()
    m = observed_metrics(q)
    assert m["stream_metrics"]["records"] == n


def test_rocksdb_state_store_provider(spark, tmp_path):
    """StreamConfig state_store='rocksdb' runs stateful aggregation on
    Spark's RocksDB state-store provider (the RocksDbKeyValueStore analog,
    core/State/RocksDb/RocksDbKeyValueStore.cs:58) with changelog
    checkpointing (the changelog-topic analog) — results must equal the
    heap-provider batch truth, and the query's state operator must report
    RocksDB metrics (proof the backend actually switched)."""
    from pyspark_engine.runtime import StreamConfig

    cfg = StreamConfig("rocks-app", state_store="rocksdb", rocksdb_changelog=True)
    cfg.apply_state_store(spark)
    try:
        s = _events_stream(spark).group_by_key().count()
        q = (
            s.df.writeStream.format("memory")
            .queryName("rocks_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("rocks_counts")
        want = _events_batch(spark).group_by_key().count().df
        cols = ["user_id", "cnt"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
        ops = q.lastProgress["stateOperators"]
        assert ops and any("rocksdb" in k.lower() for k in ops[0].get("customMetrics", {}))
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")


def test_state_data_source_interactive_query(spark, tmp_path):
    """Interactive query over the query's INTERNAL state store (not its
    output): Spark's state data source reads the aggregation buffers straight
    from the checkpoint — the KafkaStream.Store(QueryableStoreTypes.KeyValueStore)
    analog (core/State/QueryableStoreTypes.cs:24-41) — and state-metadata is
    the store-registry discovery half.  The keyed state must equal the batch
    truth."""
    from pyspark_engine.streaming import read_state_metadata, read_state_store

    ck = str(tmp_path / "ck")
    s = _events_stream(spark).group_by_key().count()
    q = (
        s.df.writeStream.format("memory")
        .queryName("state_src_out")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    meta = read_state_metadata(spark, ck)
    ops = {r.operatorName for r in meta.collect()}
    assert "stateStoreSave" in ops

    state = read_state_store(spark, ck).select(
        F.col("key.user_id").alias("user_id"), F.col("value.count").alias("cnt")
    )
    want = _events_batch(spark).group_by_key().count().df
    cols = ["user_id", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(state, cols), _sorted_pdf(want, cols))


def test_stream_global_table_join_streaming_parity(spark):
    """KStream⋈GlobalKTable in STREAMING mode: Spark's stream-static join —
    the static (broadcast) side is the replicated store looked up per record
    (KStreamKTableJoinProcessor with the global getter); final output equals
    the batch broadcast join."""
    from pyspark_engine import StreamBuilder
    from pyspark_engine.dsl import GlobalKTable

    cust = StreamBuilder(spark, SF).global_table("customer", key="c_custkey", order=("c_custkey",))

    def topo(ks):
        return ks.join_global(cust, F.col("user_id") % 100 + 1, how="inner")

    got = run_available_now(topo(_events_stream(spark)), output_mode="append")
    want = topo(_events_batch(spark)).df
    cols = ["event_id", "user_id", "c_name"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_stateful_map_event_time_ttl_eviction(spark, tmp_path):
    """State TTL via EventTimeTimeout — the analog of the reference's store
    retention / expired-state eviction (core/State/ RocksDb & InMemory window
    stores evict by retention; Processor API punctuation-based cleanup).

    Key "a" sees one event then goes silent; key "b" keeps sending.  Once the
    watermark passes a's timeout (+10 min), the no-data microbatch fires the
    timer and the processor emits an eviction record and removes the state.
    """
    import datetime as dt
    import os
    import time

    from pyspark_engine.streaming import StreamingBuilder

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    src = tmp_path / "ttl-src"
    os.makedirs(src)
    # file 1: both keys at t0; file 2 (later batch): only b, two hours on
    pd.DataFrame({"k": ["a", "b"], "ts": [t0, t0]}).to_parquet(
        src / "f1.parquet", coerce_timestamps="us"
    )
    time.sleep(1.05)  # distinct mtimes -> file source preserves batch order
    pd.DataFrame({"k": ["b"], "ts": [t0 + dt.timedelta(hours=2)]}).to_parquet(
        src / "f2.parquet", coerce_timestamps="us"
    )

    TTL_MS = 10 * 60 * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (cnt,) = state.get
            state.remove()
            yield pd.DataFrame({"k": [key[0]], "cnt": [cnt], "evicted": [True]})
            return
        cnt = state.get[0] if state.exists else 0
        last_ms = 0
        for pdf in pdfs:
            cnt += len(pdf)
            last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
        state.update((cnt,))
        state.setTimeoutTimestamp(last_ms + TTL_MS)
        yield pd.DataFrame({"k": [key[0]], "cnt": [cnt], "evicted": [False]})

    ks = StreamingBuilder(spark).file_stream(
        str(src), key="k", ts="ts", max_files_per_trigger=1
    ).with_watermark("1 minute")
    got = run_available_now(
        stateful_map(
            ks.group_by_key(),
            fn,
            "k string, cnt bigint, evicted boolean",
            "cnt bigint",
            timeout="EventTimeTimeout",
        ),
        output_mode="update",
    ).collect()

    evicted = {r["k"] for r in got if r["evicted"]}
    assert evicted == {"a"}  # a expired; b's timer is beyond the final watermark
    a_evict = [r for r in got if r["k"] == "a" and r["evicted"]]
    assert a_evict[0]["cnt"] == 1  # eviction carries the final state
    assert max(r["cnt"] for r in got if r["k"] == "b") == 2


def test_lakehouse_sink_gated(spark, tmp_path):
    """Delta/Iceberg sinks are honest capability gates (like Avro/Protobuf):
    with the runtime jar absent they raise NotImplementedError up front —
    with it present the same call writes through start_to_files."""
    import pytest as _pytest

    from pyspark_engine.streaming import (
        lakehouse_available,
        start_to_lakehouse,
        write_lakehouse,
    )

    ks = _events_stream(spark)
    for fmt in ("delta", "iceberg"):
        if lakehouse_available(spark, fmt):  # pragma: no cover - not bundled
            continue
        with _pytest.raises(NotImplementedError):
            start_to_lakehouse(ks, str(tmp_path / fmt), fmt=fmt)
        with _pytest.raises(NotImplementedError):
            write_lakehouse(_events_batch(spark), str(tmp_path / f"b-{fmt}"), fmt=fmt)
    with _pytest.raises(ValueError):
        write_lakehouse(_events_batch(spark), str(tmp_path / "x"), fmt="hudi")


def test_curation_pipeline_streaming_parity(spark):
    """The stateless LLM-curation stages (quality filter → PII scrub →
    chunking) are pure Column expressions, so the SAME calls run unchanged
    over a streaming source — documents replayed through the file source
    produce exactly the batch pipeline's chunks.  (The stateful stage —
    cross-corpus paragraph dedup — needs the batch/foreachBatch path, like
    any global-history operator.)"""
    from pyspark_engine import llmops
    from pyspark_engine.streaming import StreamingBuilder

    def pipeline(docs_df):
        kept = (
            llmops.quality_filter(
                docs_df, "doc_id", "text",
                min_words=20, max_words=80,
                min_mean_word_len=3.0, max_mean_word_len=8.0,
                max_symbol_ratio=0.1, min_stop_hits=1,
            )
            .filter(F.col("keep"))
            .select("doc_id")
        )
        base = docs_df.join(kept, "doc_id")
        scrub = llmops.pii_scrub(base, "doc_id", "text")
        return llmops.chunk_text(scrub, "doc_id", "clean_text", max_tokens=32, overlap=8)

    batch = pipeline(spark.read.parquet(f"{SF}/documents.parquet"))
    ks = StreamingBuilder(spark).file_stream(f"{SF}/documents.parquet", key="doc_id")
    got = run_available_now(pipeline(ks.df), output_mode="append")
    cols = ["doc_id", "chunk_idx", "n_tokens_chunk", "chunk_text"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(batch, cols))


def test_file_sink_checkpoint_idempotent_restart(spark, tmp_path):
    """EOS analog (SURVEY §7.2): the reference gets exactly-once from Kafka
    transactions; the Spark path is checkpoint + replayable source + an
    idempotent sink.  Restarting the SAME query (same checkpoint, same
    source) after it drained everything must write nothing new — no
    duplicate records in the sink."""
    import os

    from pyspark_engine.streaming import StreamingBuilder, start_to_files

    src = tmp_path / "src"
    os.makedirs(src)
    os.symlink(f"{SF}/events.parquet", src / "events.parquet")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    for _ in range(2):  # first run drains; second finds no new offsets
        ks = StreamingBuilder(spark).file_stream(str(src), key="user_id")
        q = start_to_files(ks, out, checkpoint=ck, available_now=True)
        q.awaitTermination()

    want = spark.read.parquet(f"{SF}/events.parquet").count()
    assert spark.read.parquet(out).count() == want


def test_compact_files_reduces_file_count(spark, tmp_path):
    """Small-file compaction: a fragmented (streaming-sink-shaped) directory
    rewrites to few right-sized files with all rows intact."""
    import glob

    from pyspark_engine.runtime import compact_files

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    events = spark.read.parquet(f"{SF}/events.parquet")
    events.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64

    n_out = compact_files(spark, src, dst, target_mb=256)
    assert n_out == 1  # tiny corpus fits one target-size file
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    assert spark.read.parquet(dst).count() == events.count()


def test_find_sessions_intersection_semantics(spark):
    """Session-store range read (Kafka Streams findSessions contract:
    sessions INTERSECTING [earliest, latest]); the reference's session store
    is an unimplemented stub (IReadOnlySessionStore.cs), ours is queryable."""
    import datetime as dt

    from pyspark_engine import SessionWindowOptions
    from pyspark_engine.dsl import KStream
    from pyspark_engine.runtime import StoreRegistry

    t0 = dt.datetime(2024, 1, 1)
    # key a: two sessions (gap 10 min): [0,1min] and [30,31min]
    rows = [
        ("a", t0), ("a", t0 + dt.timedelta(minutes=1)),
        ("a", t0 + dt.timedelta(minutes=30)), ("a", t0 + dt.timedelta(minutes=31)),
        ("b", t0 + dt.timedelta(minutes=2)),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    (
        KStream(df, key=("k",), ts="ts")
        .group_by_key()
        .windowed_by(SessionWindowOptions.of(10 * 60 * 1000))
        .count("cnt")
        .materialize("sess_store")
    )
    reg = StoreRegistry(spark)
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    # range [0.5min, 5min] intersects only a's FIRST session
    got = reg.find_sessions(
        "sess_store", {"k": "a"},
        earliest_end_ms=base + 30_000, latest_start_ms=base + 300_000,
    )
    assert len(got) == 1 and got[0].cnt == 2
    # unbounded: both sessions, ordered by start
    both = reg.find_sessions("sess_store", {"k": "a"})
    assert [r.cnt for r in both] == [2, 2] and len(both) == 2


def test_hopping_window_streaming_parity(spark):
    """Hopping windows (overlapping assignment) maintained as streaming
    state == the batch hopping aggregation."""
    from pyspark_engine import HoppingWindowOptions

    w = HoppingWindowOptions.of(3_600_000, 900_000)
    got = run_available_now(
        _events_stream(spark).group_by_key().windowed_by(w).count(),
        output_mode="complete",
    )
    want = _events_batch(spark).group_by_key().windowed_by(w).count().df
    cols = ["user_id", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_custom_window_streaming_parity(spark):
    """CustomWindowOptions (user Column-expression window assignment — the
    reference's subclassed WindowOptions, e.g. the DailyTimeWindows test
    helper) under Structured Streaming: the per-row assignment is stateless,
    so the same daily-window count runs as a streaming aggregation and the
    complete-mode drain equals the batch result — the last window family
    without a streaming twin."""
    from pyspark_engine import CustomWindowOptions

    win = CustomWindowOptions(
        assign=lambda ts: (
            F.date_trunc("day", ts),
            F.date_trunc("day", ts) + F.expr("INTERVAL 1 DAY"),
        )
    )
    got = run_available_now(
        _events_stream(spark).group_by_key().windowed_by(win).count(),
        output_mode="complete",
    )
    want = _events_batch(spark).group_by_key().windowed_by(win).count().df
    cols = ["user_id", "w_start", "w_end", "cnt"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


def test_stream_stream_left_join_streaming_parity(spark, tmp_path):
    """Stream-stream LEFT interval join in streaming mode: the unmatched
    left row is held in state and emitted with nulls only after the
    watermark passes its join window (Spark's timing; the reference emits
    eagerly — KStreamKStreamJoinProcessor.cs:51-66 — same final state,
    SURVEY §7.3.4).  Two micro-batches advance the watermark; final rows
    equal the batch left join."""
    import datetime as dt
    import os
    import time

    from pyspark_engine import JoinWindowOptions
    from pyspark_engine.dsl import KStream
    from pyspark_engine.streaming import StreamingBuilder

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    ldir, rdir = tmp_path / "l", tmp_path / "r"
    os.makedirs(ldir)
    os.makedirs(rdir)
    pd.DataFrame({"k": ["a", "b"], "lv": [1, 2], "ts": [t0, t0]}).to_parquet(
        ldir / "f1.parquet", coerce_timestamps="us"
    )
    pd.DataFrame({"rk": ["a"], "rv": [10], "rts": [t0 + dt.timedelta(seconds=60)]}).to_parquet(
        rdir / "f1.parquet", coerce_timestamps="us"
    )
    time.sleep(1.05)
    late = t0 + dt.timedelta(hours=3)
    pd.DataFrame({"k": ["z"], "lv": [3], "ts": [late]}).to_parquet(
        ldir / "f2.parquet", coerce_timestamps="us"
    )
    pd.DataFrame({"rk": ["z"], "rv": [30], "rts": [late]}).to_parquet(
        rdir / "f2.parquet", coerce_timestamps="us"
    )

    w = JoinWindowOptions.of(30 * 60 * 1000)

    def topo(lks, rks):
        return lks.join(rks, w, how="left")

    sb = StreamingBuilder(spark)
    lks = sb.file_stream(str(ldir), key="k", ts="ts", max_files_per_trigger=1).with_watermark("1 minute")
    rks = KStream(
        sb.file_stream(str(rdir), key="rk", ts="rts", max_files_per_trigger=1).df,
        ("rk",), "rts",
    ).with_watermark("1 minute")
    got = run_available_now(topo(lks, rks), output_mode="append")

    lb = KStream(spark.read.parquet(str(ldir)), ("k",), "ts")
    rb = KStream(spark.read.parquet(str(rdir)), ("rk",), "rts")
    want = topo(lb, rb).df
    cols = ["k", "lv", "rv"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    # the unmatched left row is present with a null right side
    rows = {r.k: r.rv for r in got.collect()}
    assert rows["b"] is None and rows["a"] == 10 and rows["z"] == 30


def test_stream_stream_outer_join_streaming_parity(spark, tmp_path):
    """FULL OUTER interval join in streaming: both unmatched sides emit with
    nulls after watermark expiry; final state equals the batch full join."""
    import datetime as dt
    import os
    import time

    from pyspark_engine import JoinWindowOptions
    from pyspark_engine.dsl import KStream
    from pyspark_engine.streaming import StreamingBuilder

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    ldir, rdir = tmp_path / "l", tmp_path / "r"
    os.makedirs(ldir)
    os.makedirs(rdir)
    pd.DataFrame({"k": ["a", "b"], "lv": [1, 2], "ts": [t0, t0]}).to_parquet(
        ldir / "f1.parquet", coerce_timestamps="us"
    )
    pd.DataFrame(
        {"rk": ["a", "c"], "rv": [10, 20], "rts": [t0 + dt.timedelta(seconds=60)] * 2}
    ).to_parquet(rdir / "f1.parquet", coerce_timestamps="us")
    time.sleep(1.05)
    late = t0 + dt.timedelta(hours=3)
    pd.DataFrame({"k": ["z"], "lv": [3], "ts": [late]}).to_parquet(
        ldir / "f2.parquet", coerce_timestamps="us"
    )
    pd.DataFrame({"rk": ["z"], "rv": [30], "rts": [late]}).to_parquet(
        rdir / "f2.parquet", coerce_timestamps="us"
    )

    w = JoinWindowOptions.of(30 * 60 * 1000)
    sb = StreamingBuilder(spark)
    lks = sb.file_stream(str(ldir), key="k", ts="ts", max_files_per_trigger=1).with_watermark("1 minute")
    rks = KStream(
        sb.file_stream(str(rdir), key="rk", ts="rts", max_files_per_trigger=1).df,
        ("rk",), "rts",
    ).with_watermark("1 minute")
    got = run_available_now(lks.join(rks, w, how="full"), output_mode="append")

    lb = KStream(spark.read.parquet(str(ldir)), ("k",), "ts")
    rb = KStream(spark.read.parquet(str(rdir)), ("rk",), "rts")
    want = lb.join(rb, w, how="full").df
    cols = ["k", "lv", "rv"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    rows = {r.k: (r.lv, r.rv) for r in got.collect()}
    assert rows["b"] == (2, None) and rows["c"] == (None, 20)  # both null sides


@pytest.mark.parametrize("engine", ["exact", "tws"])
def test_versioned_asof_join_streaming_parity(spark, tmp_path, engine):
    """join_table_asof_streaming == batch join_table_asof, with the stream
    deliberately split across MULTIPLE microbatches (maxFilesPerTrigger=1)
    to prove the enrichment is batching-independent — the versioned-lookup
    analog of the reference's per-record KStream⋈KTable processing
    (KStreamKTableJoinProcessor.cs:38-43).  Both engines: the per-batch
    re-join loop (exact) and the per-key list-state lookup (tws, r12
    verdict task 4)."""
    from pyspark_engine import StreamBuilder as BatchBuilder
    from pyspark_engine.streaming import join_table_asof_streaming

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = normalize_event_time(ev, "ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .withColumnRenamed("event_id", "c_id")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("value").alias("p_val"), F.col("event_id").alias("p_id"))
    )
    src = tmp_path / "clicks"
    clicks.repartition(3).write.parquet(str(src))  # 3 files -> 3 microbatches
    b = BatchBuilder(spark)
    vt = b.versioned_table(purchases, key="user_id", ts="ts", order=("p_id",))

    sb = StreamingBuilder(spark)
    ks = sb.file_stream(str(src), key="user_id", ts="ts", max_files_per_trigger=1)
    got = join_table_asof_streaming(ks, vt, how="left", engine=engine)
    want = KStream(clicks, ("user_id",), "ts").join_table_asof(vt, how="left").df
    cols = ["c_id", "user_id", "p_val"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


@pytest.mark.slow
@pytest.mark.parametrize("engine", ["exact", "tws"])
def test_asof_join_streaming_differential_fuzz(spark, tmp_path, engine):
    """r11 verdict task 7: randomized differential oracle for the as-of
    join's streaming loop — the one stateful loop that had none.  Seeded
    random versioned histories and stream rows (duplicate (key, ts) pairs,
    exact version-boundary timestamps, pre-first-version rows, keys with no
    history), SHUFFLED so event time runs backwards across microbatches
    (late arrivals), drained under ≥3 random batching boundaries per seed —
    every drain must equal the one-shot batch ``join_table_asof`` snapshot
    (the operator's contract: versioned lookup is batching-independent)."""
    import datetime as dt
    import random

    from pyspark_engine import StreamBuilder as BatchBuilder
    from pyspark_engine.streaming import join_table_asof_streaming

    base = dt.datetime(2024, 1, 1)

    def ts(ms):
        return base + dt.timedelta(milliseconds=ms)

    b = BatchBuilder(spark)
    for seed in (11, 37, 73):
        rng = random.Random(seed)
        hist_rows = [
            (k, ts(rng.randint(0, 200) * 60_000), rng.randint(0, 999), i)
            for i, (k, _) in enumerate(
                (k, v) for k in range(5) for v in range(rng.randint(1, 4))
            )
        ]
        vt = b.versioned_table(
            spark.createDataFrame(hist_rows, "k long, ts timestamp, pv long, pid long"),
            key="k",
            ts="ts",
            order=("pid",),
        )
        n = rng.randint(8, 16)
        stream_rows = [
            (rng.choice([0, 1, 2, 3, 4, 9]), ts(rng.randint(0, 220) * 60_000), i)
            for i in range(n)
        ]
        # plant an exact-boundary lookup (stream ts == a version ts)
        stream_rows.append((hist_rows[0][0], hist_rows[0][1], n))
        rng.shuffle(stream_rows)  # late arrivals across batch boundaries
        how = rng.choice(["inner", "left"])
        tol = rng.choice([None, 30 * 60_000])
        schema = "k long, ts timestamp, sid long"
        want = sorted(
            map(
                tuple,
                KStream(spark.createDataFrame(stream_rows, schema), ("k",), "ts")
                .join_table_asof(vt, how=how, tolerance_ms=tol)
                .df.collect(),
            )
        )
        sb = StreamingBuilder(spark)
        for batching in range(3):
            cuts = sorted(
                rng.sample(range(1, len(stream_rows)), rng.randint(1, 4))
            )
            src = str(tmp_path / f"asof-{engine}-{seed}-{batching}")
            prev = 0
            gen = 0
            for c in cuts + [len(stream_rows)]:
                if stream_rows[prev:c]:
                    _write_source_file(spark, stream_rows[prev:c], schema, src, gen)
                    gen += 1
                prev = c
            ks = sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            got = sorted(
                map(
                    tuple,
                    join_table_asof_streaming(
                        ks, vt, how=how, tolerance_ms=tol, engine=engine
                    ).collect(),
                )
            )
            assert got == want and len(want) > 0, (
                f"seed {seed} batching {batching} ({how}, tol={tol}): "
                f"{got[:4]}... != {want[:4]}..."
            )


def test_incremental_dedup_streaming_parity(spark, tmp_path):
    """Continuous-ingestion dedup over micro-batches: a foreachBatch loop
    anti-joins each batch against the digest store and appends survivors
    (llmops.exact_dedup_incremental).  Final store invariants vs batch
    exact_dedup over the whole corpus: identical digest set, exactly one
    kept row per digest, and every kept id belongs to that digest's id
    group ('first batch seen wins' replaces 'global min id' — the
    streaming-correct contract)."""
    from pyspark_engine import llmops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    planted = docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted)
    src = str(tmp_path / "src")
    corpus.repartition(4).write.parquet(src)
    seen_path = str(tmp_path / "seen")
    spark.createDataFrame([], "fp string, doc_id long").write.parquet(seen_path)

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def upsert(batch_df, batch_id):
        s = batch_df.sparkSession
        seen = s.read.parquet(seen_path)
        out = llmops.exact_dedup_incremental(batch_df, seen, "doc_id", "text")
        out.write.mode("append").parquet(seen_path)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = spark.read.parquet(seen_path)
    want = llmops.exact_dedup(corpus, "doc_id", "text")
    assert final.count() == final.select("fp").distinct().count()   # one row per digest
    got_fps = {r.fp for r in final.select("fp").collect()}
    want_fps = {r.fp for r in want.select("fp").collect()}
    assert got_fps == want_fps
    groups = corpus.select(F.md5("text").alias("fp"), "doc_id")
    stray = final.join(groups, ["fp", "doc_id"], "left_anti")
    assert stray.count() == 0                                       # kept ids are real members


def test_incremental_minhash_streaming_parity(spark, tmp_path):
    """Continuous-ingestion NEAR-dup over micro-batches: each batch's
    signatures run against the accumulated signature store
    (llmops.minhash_lsh_incremental), then append to it — history text is
    never re-read.  Every near-dup pair the batch path finds must be found
    by some micro-batch (the batch where its later member arrived), since
    band collisions only need the earlier member present in the store."""
    from pyspark_engine import llmops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(200)
    planted = docs.filter("doc_id < 30").select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    corpus = docs.unionByName(planted)
    src = str(tmp_path / "src")
    # deterministic batch split: ids ordered so originals land before copies
    corpus.repartition(4, F.col("doc_id")).write.parquet(src)
    store_path = str(tmp_path / "sigs")
    spark.createDataFrame([], "doc_id long, sig array<bigint>").write.parquet(store_path)
    pairs_path = str(tmp_path / "pairs")
    spark.createDataFrame([], "id_a long, id_b long, sim_est double").write.parquet(pairs_path)

    stream = (
        spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )

    def upsert(batch_df, batch_id):
        s = batch_df.sparkSession
        store = s.read.parquet(store_path)
        ns = llmops.minhash_signatures(batch_df, "doc_id", "text")
        llmops.minhash_lsh_incremental(store, ns, "doc_id", threshold=0.9).write.mode(
            "append"
        ).parquet(pairs_path)
        ns.write.mode("append").parquet(store_path)
        llmops.release_cache()

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    # batch reference over the whole corpus: all near-dup pairs at 0.9
    sigs = llmops.minhash_signatures(corpus, "doc_id", "text")
    want = {
        (r.id_a, r.id_b)
        for r in llmops.minhash_lsh_incremental(
            sigs.filter("doc_id < 0"), sigs, "doc_id", threshold=0.9
        ).collect()
    }
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs_path).collect()}
    llmops.release_cache()
    assert want, "planted near-dups must produce pairs"
    assert got == want


def test_cogroup_streaming_parity(spark, tmp_path):
    """KIP-150 cogroup over live multi-microbatch changelogs (per-side
    native streaming aggregation + foreachBatch state upsert, stitched by
    the shared dsl.stitch_cogrouped) == batch CogroupedKStream.aggregate.
    Sums use integer cents so streaming's incremental accumulation order
    cannot introduce float drift vs the batch plan."""
    from pyspark_engine.streaming import StreamingBuilder, cogroup_streaming

    ev = (
        StreamBuilder(spark, SF)
        .stream("events", key="user_id", ts="ts")
        .df.filter(F.col("user_id") % 3 != 0)  # leave some orders-only keys
        .select("user_id", "ts", (F.col("value") * 100).cast("long").alias("cents"))
    )
    ev.repartition(3).write.parquet(str(tmp_path / "ev"))  # 3 files -> 3 microbatches
    od = (
        StreamBuilder(spark, SF)
        .stream("orders", key="o_custkey", ts="o_orderdate")
        .df.select("o_custkey", (F.col("o_totalprice") * 100).cast("long").alias("ocents"))
    )
    od.repartition(2).write.parquet(str(tmp_path / "od"))

    sb = StreamingBuilder(spark)
    ls = sb.file_stream(str(tmp_path / "ev"), key="user_id", ts="ts", max_files_per_trigger=1)
    rs = sb.file_stream(str(tmp_path / "od"), key="o_custkey")
    cg = (
        ls.group_by_key()
        .cogroup(n_events=F.count(F.lit(1)), total_cents=F.sum("cents"))
        .cogroup(rs.group_by_key(), n_orders=F.count(F.lit(1)), spend_cents=F.sum("ocents"))
    )
    fill = {"n_events": 0, "n_orders": 0}
    got = cogroup_streaming(cg, fill=fill, state_dir=str(tmp_path / "state"))

    lb = KStream(spark.read.parquet(str(tmp_path / "ev")), ("user_id",), "ts")
    rb = KStream(spark.read.parquet(str(tmp_path / "od")), ("o_custkey",), None)
    want = (
        lb.group_by_key()
        .cogroup(n_events=F.count(F.lit(1)), total_cents=F.sum("cents"))
        .cogroup(rb.group_by_key(), n_orders=F.count(F.lit(1)), spend_cents=F.sum("ocents"))
        .aggregate(fill=fill)
        .df
    )
    cols = ["user_id", "n_events", "total_cents", "n_orders", "spend_cents"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    # keys on only one side appear with the fill defaults, so parity above
    # covers KIP-150's initializer semantics too; sanity: the fill path fired
    assert got.filter(F.col("n_events") == 0).count() > 0


def test_cogroup_streaming_restart_recovers_generation(spark, tmp_path):
    """Restart semantics: the ping-pong generation counter persists next to
    the state dirs (_GEN marker), so re-invoking cogroup_streaming with the
    SAME durable checkpoint + state_dir continues from the committed state.
    Without recovery, a restart resets gen to 0 and the continuation merges
    into (or final-reads) a STALE generation — here run 1 executes an odd
    number of microbatches exactly so the stale read would be visible."""
    import os

    from pyspark_engine.streaming import StreamingBuilder, cogroup_streaming

    src = tmp_path / "src"
    os.makedirs(src)
    for i in range(3):  # 3 files -> 3 microbatches in run 1 (gen ends odd)
        pd.DataFrame({"k": [1, 2], "v": [10 * (i + 1), 1]}).to_parquet(src / f"f{i}.parquet")

    def run():
        ks = StreamingBuilder(spark).file_stream(str(src), key="k", max_files_per_trigger=1)
        cg = ks.group_by_key().cogroup(cnt=F.count(F.lit(1)), total=F.sum("v"))
        return cogroup_streaming(
            cg, state_dir=str(tmp_path / "state"), checkpoint=str(tmp_path / "ck")
        )

    first = {r.k: (r.cnt, r.total) for r in run().collect()}
    assert first == {1: (3, 60), 2: (3, 3)}
    # marker = "<generation> <last-applied-batch>" since the replay-skip fix
    assert open(tmp_path / "state" / "side-0" / "_GEN").read().split() == ["3", "2"]

    # new data lands; the restarted query replays ONLY the new file
    pd.DataFrame({"k": [1, 3], "v": [5, 7]}).to_parquet(src / "f3.parquet")
    got = {r.k: (r.cnt, r.total) for r in run().collect()}
    assert got == {1: (4, 65), 2: (3, 3), 3: (1, 7)}

    # no-op restart (nothing new): still reads the CURRENT generation
    again = {r.k: (r.cnt, r.total) for r in run().collect()}
    assert again == got


@pytest.mark.slow
@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_tt_join_streaming_restart_recovers_generation(spark, tmp_path, engine):
    """join_tables_streaming restart: re-invoking with the same durable
    checkpoint + state_dir after new changelog data continues from the
    committed state snapshot (the _GEN marker for the exact engine, the
    checkpointed per-key store + emission log for tws), replaying
    only the new microbatch; result == batch join over the full changelogs.
    Run 1 uses an odd microbatch count so a gen-reset would read the stale
    side."""
    import os
    import time

    from pyspark_engine.streaming import join_tables_streaming

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    os.makedirs(ldir)
    os.makedirs(rdir)
    for i in range(3):  # 3 left files -> 3 microbatches in run 1
        pd.DataFrame({"k": [1, 2], "lv": [10 * (i + 1), 1], "lo": [i, i]}).to_parquet(
            ldir / f"f{i}.parquet"
        )
        time.sleep(0.02)
    pd.DataFrame({"rk": [1], "rv": [100], "ro": [0]}).to_parquet(rdir / "f0.parquet")

    def run():
        sb = StreamingBuilder(spark)
        lks = sb.file_stream(str(ldir), key="k", max_files_per_trigger=1)
        rks = sb.file_stream(str(rdir), key="rk")
        return join_tables_streaming(
            lks, rks, how="left", l_order=("lo",), r_order=("ro",),
            state_dir=str(tmp_path / "state"), checkpoint=str(tmp_path / "ck"),
            engine=engine,
        )

    first = {r.k: (r.lv, r.rv) for r in run().collect()}
    assert first == {1: (30, 100), 2: (1, None)}

    # new data on BOTH changelogs; restart replays only the new microbatch
    pd.DataFrame({"k": [2], "lv": [7], "lo": [9]}).to_parquet(ldir / "f3.parquet")
    pd.DataFrame({"rk": [2], "rv": [200], "ro": [1]}).to_parquet(rdir / "f1.parquet")
    got = {r.k: (r.lv, r.rv) for r in run().collect()}
    assert got == {1: (30, 100), 2: (7, 200)}


def test_tt_join_tws_bigint_exact(spark, tmp_path):
    """The OTHER side's columns are null on every union row of the tws
    tt-join, so any float64 hop on the way through the per-key state would
    corrupt bigints past 2^53.  Values must round-trip exactly, nulls stay
    null, and the unmatched-left row of a left join carries typed nulls."""
    import datetime as dt

    from pyspark_engine.streaming import join_tables_streaming

    big = (1 << 53) + 1  # int(float(big)) == big - 1: detects any float hop
    neg_big = -(1 << 53) - 3

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    ldf = spark.createDataFrame(
        [(1, big, t(0)), (2, None, t(0)), (3, 7, t(0))],
        "k int, lv bigint, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [(1, neg_big, t(1)), (2, big, t(1))], "rk int, rv bigint, rts timestamp"
    )
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))
    sb = StreamingBuilder(spark)
    got = join_tables_streaming(
        sb.file_stream(str(tmp_path / "l"), key="k", ts="lts"),
        sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts"),
        how="left",
        ts_alias="jts",
        engine="tws",
    )
    assert dict(got.dtypes)["lv"] == "bigint" and dict(got.dtypes)["rv"] == "bigint"
    rows = {r["k"]: r for r in got.collect()}
    assert rows[1]["lv"] == big and rows[1]["rv"] == neg_big and rows[1]["jts"] == t(1)
    assert rows[2]["lv"] is None and rows[2]["rv"] == big
    assert rows[3]["lv"] == 7 and rows[3]["rv"] is None and rows[3]["jts"] == t(0)


def test_tt_join_engine_state_dirs_do_not_mix(spark, tmp_path):
    """A state dir written by one tt-join engine must be refused by the
    other (their layouts are incompatible: ping-pong generations + flat
    out/ vs per-key store + sink_batch partitions), and a tws dir whose
    version stamp is foreign is refused instead of hitting Spark's opaque
    state-schema failure mid-drain."""
    import datetime as dt
    import os

    from pyspark_engine.streaming import join_tables_streaming

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    ldf = spark.createDataFrame([(1, "a", t(0))], "k int, lv string, lts timestamp")
    rdf = spark.createDataFrame([(1, "x", t(0))], "rk int, rv string, rts timestamp")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))
    sb = StreamingBuilder(spark)

    def run(engine, state, ckpt):
        return join_tables_streaming(
            sb.file_stream(str(tmp_path / "l"), key="k", ts="lts"),
            sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts"),
            how="inner",
            state_dir=state,
            checkpoint=ckpt,
            engine=engine,
        )

    ex_state, ex_ck = str(tmp_path / "ex-state"), str(tmp_path / "ex-ck")
    assert run("exact", ex_state, ex_ck).count() == 1
    with pytest.raises(ValueError, match="exact ping-pong engine"):
        run("tws", ex_state, ex_ck)

    tw_state, tw_ck = str(tmp_path / "tw-state"), str(tmp_path / "tw-ck")
    assert run("tws", tw_state, tw_ck).count() == 1
    with pytest.raises(ValueError, match="no\\s+readable _GEN marker"):
        run("exact", tw_state, tw_ck)

    # version gate: a populated tws dir stamped with a foreign version
    with open(os.path.join(tw_state, "_PSE_TWS_TTJOIN_V"), "w") as f:
        f.write("0")
    with pytest.raises(ValueError, match="with version 0"):
        run("tws", tw_state, tw_ck)


def test_fk_join_tws_bigint_restart_and_guards(spark, tmp_path):
    """tws fk-join engine specifics in one staged scenario: bigint values
    past 2^53 round-trip the two-stage state exactly (with real nulls and
    a null fk riding the subscription log); a resumed drain continues from
    both checkpoints and applies an FK flip arriving AFTER the first drain
    (retract + re-subscribe across drains); and the state-dir guards fire —
    exact-loop dirs are refused, foreign version stamps are refused, and a
    Column-valued fk cannot select the tws engine."""
    import datetime as dt
    import os

    from pyspark_engine.streaming import join_fk_streaming

    big = (1 << 53) + 1

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    lschema = "pk bigint, fk bigint, lv bigint, lts timestamp"
    rschema = "rk bigint, rv bigint, rts timestamp"
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_source_file(
        spark,
        [(1, 10, big, t(0)), (2, 20, None, t(0)), (3, None, 7, t(0))],
        lschema,
        lsrc,
        0,
    )
    _write_source_file(spark, [(10, -big, t(0)), (20, 5, t(0))], rschema, rsrc, 0)

    sb = StreamingBuilder(spark)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")

    def run(how):
        return join_fk_streaming(
            sb.file_stream(lsrc, key="pk", ts="lts"),
            sb.file_stream(rsrc, key="rk", ts="rts"),
            fk="fk",
            how=how,
            state_dir=state,
            checkpoint=ckpt,
            engine="tws",
        )

    got = {r["pk"]: r for r in run("left").collect()}
    assert got[1]["lv"] == big and got[1]["rv"] == -big  # exact past 2^53
    assert got[2]["lv"] is None and got[2]["rv"] == 5
    assert got[3]["fk"] is None and got[3]["rv"] is None  # null fk, left-padded

    # resumed drain: pk 1 flips 10 -> 20 (retract + re-subscribe), and the
    # right row 20 updates afterwards (response fan-out to pk 1 AND pk 2)
    _write_source_file(spark, [(1, 20, big - 1, t(5))], lschema, lsrc, 1)
    _write_source_file(spark, [(20, big, t(6))], rschema, rsrc, 1)
    got = {r["pk"]: r for r in run("left").collect()}
    assert got[1]["fk"] == 20 and got[1]["lv"] == big - 1 and got[1]["rv"] == big
    assert got[2]["rv"] == big and got[3]["rv"] is None
    assert len(got) == 3  # the old (1 -> 10) join row was retracted

    # guards: foreign version stamp refused; exact dirs refused; Column fk
    with open(os.path.join(state, "_PSE_TWS_FKJOIN_V"), "w") as f:
        f.write("0")
    with pytest.raises(ValueError, match="with version 0"):
        run("left")
    ex_state = str(tmp_path / "ex-state")
    os.makedirs(ex_state)
    open(os.path.join(ex_state, "_GEN"), "w").write("1 0")
    with pytest.raises(ValueError, match="exact ping-pong engine"):
        join_fk_streaming(
            sb.file_stream(lsrc, key="pk", ts="lts"),
            sb.file_stream(rsrc, key="rk", ts="rts"),
            fk="fk",
            how="left",
            state_dir=ex_state,
            engine="tws",
        )
    with pytest.raises(ValueError, match="string fk column"):
        join_fk_streaming(
            sb.file_stream(lsrc, key="pk", ts="lts"),
            sb.file_stream(rsrc, key="rk", ts="rts"),
            fk=F.col("fk"),
            how="left",
            engine="tws",
        )


@pytest.mark.slow
@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_join_crash_replay_idempotent(spark, tmp_path, engine):
    """Crash-replay robustness of the tt and fk join engines (same protocol
    as the suppress replay test: delete the newest commit marker, re-drain).
    tws tt join: the replayed microbatch overwrites its own sink_batch
    partition, so the final snapshot is unchanged.  tws fk join, BOTH
    stages: a stage-B rollback recomputes from the pre-batch state version;
    a stage-A rollback rewrites its subscription partition with new file
    names, which stage B (file source) re-consumes — the re-applied U/D ops
    are idempotent against per-pk sub cursors and same-batch U-over-D ties,
    so re-emissions fold to the identical snapshot instead of resurrecting
    a retracted row.  exact: the _GEN applied-batch marker skips the
    replayed batch's fold, so the snapshot AND the generation count are
    unchanged (a second upsert of the same batch would leave the snapshot
    equal but advance the generation)."""
    import datetime as dt
    import os

    from pyspark_engine.streaming import (
        _last_committed,
        _read_gen,
        join_fk_streaming,
        join_tables_streaming,
    )
    from pyspark_engine.tws import stop_resident

    def folds(state):
        # the exact loop's generation count; tws keeps no generation
        return _read_gen(state) if engine == "exact" else None

    def crash(ckpt, state):
        # a real crash ends the process and with it the dir's resident
        # queries; a running query would never re-read its commit log
        stop_resident(state)
        last = _last_committed(ckpt)
        os.remove(os.path.join(ckpt, "commits", str(last)))
        crc = os.path.join(ckpt, "commits", f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    sb = StreamingBuilder(spark)

    # --- tt join
    lsrc, rsrc = str(tmp_path / "tt-l"), str(tmp_path / "tt-r")
    _write_source_file(spark, [(1, 10, t(0)), (2, 20, t(0))], "k int, lv int, lts timestamp", lsrc, 0)
    _write_source_file(spark, [(1, 11, t(5))], "k int, lv int, lts timestamp", lsrc, 1)
    _write_source_file(spark, [(1, 100, t(0)), (2, 200, t(0))], "rk int, rv int, rts timestamp", rsrc, 0)
    state, ckpt = str(tmp_path / "tt-state"), str(tmp_path / "tt-ck")

    def tt():
        return join_tables_streaming(
            sb.file_stream(lsrc, key="k", ts="lts", max_files_per_trigger=1),
            sb.file_stream(rsrc, key="rk", ts="rts"),
            how="inner",
            state_dir=state,
            checkpoint=ckpt,
            engine=engine,
        )

    want = {(1, 11, 100), (2, 20, 200)}
    assert {(r["k"], r["lv"], r["rv"]) for r in tt().collect()} == want
    gen = folds(state)
    crash(ckpt, state)
    assert {(r["k"], r["lv"], r["rv"]) for r in tt().collect()} == want
    assert folds(state) == gen

    # --- fk join: batch 1 contains an FK FLIP, the interesting replay case
    flsrc, frsrc = str(tmp_path / "fk-l"), str(tmp_path / "fk-r")
    lschema = "pk int, fk int, lts timestamp"
    _write_source_file(spark, [(1, 10, t(0)), (2, 20, t(0))], lschema, flsrc, 0)
    _write_source_file(spark, [(1, 20, t(5))], lschema, flsrc, 1)  # flip 10 -> 20
    _write_source_file(spark, [(10, "a", t(0)), (20, "b", t(0))], "rk int, rv string, rts timestamp", frsrc, 0)
    fstate, fck = str(tmp_path / "fk-state"), str(tmp_path / "fk-ck")

    def fkj():
        return join_fk_streaming(
            sb.file_stream(flsrc, key="pk", ts="lts", max_files_per_trigger=1),
            sb.file_stream(frsrc, key="rk", ts="rts"),
            fk="fk",
            how="inner",
            state_dir=fstate,
            checkpoint=fck,
            engine=engine,
        )

    fwant = {(1, 20, "b"), (2, 20, "b")}
    assert {(r["pk"], r["fk"], r["rv"]) for r in fkj().collect()} == fwant
    if engine == "exact":
        gen = folds(fstate)
        crash(fck, fstate)
        assert {(r["pk"], r["fk"], r["rv"]) for r in fkj().collect()} == fwant
        assert folds(fstate) == gen
        return
    crash(os.path.join(fck, "join"), fstate)  # stage-B rollback
    assert {(r["pk"], r["fk"], r["rv"]) for r in fkj().collect()} == fwant
    crash(os.path.join(fck, "sub"), fstate)  # stage-A rollback: sub log rewritten + re-consumed
    assert {(r["pk"], r["fk"], r["rv"]) for r in fkj().collect()} == fwant


@pytest.mark.slow
@pytest.mark.parametrize("loop", ["eager_join", "cogroup"])
def test_exact_loop_crash_replay_idempotent(spark, tmp_path, loop):
    """Crash-replay of the other two _GEN loops (same protocol as the join
    and suppress replay tests: delete the newest commit marker, re-drain).
    The replayed batch's fold already committed, so the _GEN applied-batch
    marker skips it: the generation count is unchanged (no batch is folded
    twice) and so is the result.  Eager join: its emission log still holds
    each emission once, and the re-drain returns exactly the replayed
    batch's emissions (the crashed drain never returned them).  Cogroup:
    the stitched snapshot is equal (an upsert folded twice would leave it
    equal too, which is why the generation is checked)."""
    import datetime as dt
    import os

    from pyspark_engine import JoinWindowOptions
    from pyspark_engine.streaming import (
        _last_committed,
        _read_gen,
        cogroup_streaming,
        join_windowed_eager,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, s)

    sb = StreamingBuilder(spark)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    if loop == "eager_join":
        lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
        schema_r = "key string, v1 string, rts timestamp"
        _write_source_file(
            spark, [("a", "l0", t(0)), ("b", "l1", t(0))], "key string, v2 string, lts timestamp",
            lsrc, 0,
        )
        _write_source_file(spark, [("x", "r0", t(1))], schema_r, rsrc, 0)
        _write_source_file(spark, [("a", "r1", t(2)), ("b", "r2", t(3))], schema_r, rsrc, 1)
        gen_root, gen_ckpt = state, ckpt

        def drain():
            got = join_windowed_eager(
                sb.file_stream(lsrc, key="key", ts="lts", max_files_per_trigger=1),
                sb.file_stream(rsrc, key="key", ts="rts", max_files_per_trigger=1),
                JoinWindowOptions.of(10_000),
                how="left",
                state_dir=state,
                checkpoint=ckpt,
            )
            return sorted(((r["key"], r["v2"], r["v1"]) for r in got.collect()), key=str)

        first_want = sorted(
            [("a", "l0", None), ("a", "l0", "r1"), ("b", "l1", None), ("b", "l1", "r2")], key=str
        )
        replay_want = [("a", "l0", "r1"), ("b", "l1", "r2")]
    else:
        src = str(tmp_path / "src")
        _write_source_file(spark, [("a", 1), ("b", 2)], "k string, v int", src, 0)
        _write_source_file(spark, [("a", 3)], "k string, v int", src, 1)
        gen_root, gen_ckpt = os.path.join(state, "side-0"), os.path.join(ckpt, "side-0")

        def drain():
            ks = sb.file_stream(src, key="k", max_files_per_trigger=1)
            got = cogroup_streaming(
                ks.group_by_key().cogroup(total=F.sum("v")), state_dir=state, checkpoint=ckpt
            )
            return sorted((r["k"], r["total"]) for r in got.collect())

        first_want = replay_want = [("a", 4), ("b", 2)]

    assert drain() == first_want
    gen = _read_gen(gen_root)
    last = _last_committed(gen_ckpt)
    assert last == 1 and gen == 2  # two batches, each folded once
    os.remove(os.path.join(gen_ckpt, "commits", str(last)))  # "crash" pre-commit
    crc = os.path.join(gen_ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert drain() == replay_want
    assert _read_gen(gen_root) == gen
    assert _last_committed(gen_ckpt) == last
    if loop == "eager_join":
        log = spark.read.parquet(os.path.join(state, "out"))
        assert sorted(((r["key"], r["v2"], r["v1"]) for r in log.collect()), key=str) == first_want


@pytest.mark.slow
def test_join_engines_differential_random_changelogs(spark, tmp_path):
    """Engine-differential fuzz for the continuous joins: seeded random
    changelogs with MULTIPLE updates per key per microbatch, out-of-order
    order-values, and random fk flips, drained through BOTH engines — the
    tws per-key engines and the exact snapshot loops must produce
    identical final snapshots (the exact loop doubles as the tws engines'
    differential oracle — RECIPES 'which engine')."""
    import random

    from pyspark_engine.streaming import join_fk_streaming, join_tables_streaming

    rng = random.Random(1105)
    n_keys, n_right = 12, 5

    # --- tt join (how=full): 3 microbatches per side, 2-digit churn each
    l_rows = [
        [(rng.randrange(n_keys), rng.randrange(1000), b * 100 + i) for i in range(18)]
        for b in range(3)
    ]
    r_rows = [
        [(rng.randrange(n_keys), rng.randrange(1000), b * 100 + i) for i in range(10)]
        for b in range(2)
    ]

    def stage(rows_per_batch, schema, name):
        d = str(tmp_path / name)
        for i, rows in enumerate(rows_per_batch):
            _write_source_file(spark, rows, schema, d, i)
        return d

    ld = stage(l_rows, "k long, lv long, lo long", "tt-l")
    rd = stage(r_rows, "rk long, rv long, ro long", "tt-r")
    sb = StreamingBuilder(spark)

    def tt(engine):
        return join_tables_streaming(
            sb.file_stream(ld, key="k", max_files_per_trigger=1),
            sb.file_stream(rd, key="rk", max_files_per_trigger=1),
            how="full",
            l_order=("lo",),
            r_order=("ro",),
            engine=engine,
        )

    exact = sorted(map(tuple, tt("exact").collect()))
    tws = sorted(map(tuple, tt("tws").collect()))
    assert tws == exact and len(exact) > 0

    # --- fk join (how=left): random fk flips across 3 microbatches
    fk_rows = [
        [
            (rng.randrange(n_keys), rng.choice([None, *range(n_right)]), rng.randrange(1000), b * 100 + i)
            for i in range(15)
        ]
        for b in range(3)
    ]
    rk_rows = [[(k, rng.randrange(1000), b * 100 + k) for k in range(n_right)] for b in range(2)]
    fld = stage(fk_rows, "pk long, fk long, lv long, lo long", "fk-l")
    frd = stage(rk_rows, "rk long, rv long, ro long", "fk-r")

    def fkj(engine):
        return join_fk_streaming(
            sb.file_stream(fld, key="pk", max_files_per_trigger=1),
            sb.file_stream(frd, key="rk", max_files_per_trigger=1),
            fk="fk",
            how="left",
            l_order=("lo",),
            r_order=("ro",),
            engine=engine,
        )

    exact_fk = sorted(map(tuple, fkj("exact").collect()))
    tws_fk = sorted(map(tuple, fkj("tws").collect()))
    assert tws_fk == exact_fk and len(exact_fk) > 0


@pytest.mark.slow
def test_join_engines_container_values_differential(spark, tmp_path):
    """r12 verdict task 2 gate: the tws engines with ``array<double>``
    VALUE columns (binary-tunneled state, NaN/None/empty elements included)
    must match the exact snapshot loops on seeded random changelogs — tt
    join, fk join, and suppress; exact is the differential oracle."""
    import math
    import random

    from pyspark_engine.streaming import (
        join_fk_streaming,
        join_tables_streaming,
        suppress_buffered,
    )

    rng = random.Random(1307)
    n_keys = 8

    def arr():
        pick = rng.randrange(5)
        if pick == 0:
            return None
        if pick == 1:
            return []
        return [
            rng.choice([None, float("nan"), round(rng.uniform(-9, 9), 3)])
            for _ in range(rng.randrange(1, 4))
        ]

    def canon(v):
        # NaN-safe deep normalization for comparisons
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        return v

    def rows_of(df):
        return sorted(tuple(canon(v) for v in r) for r in map(tuple, df.collect()))

    def stage(rows_per_batch, schema, name):
        d = str(tmp_path / name)
        for i, rows in enumerate(rows_per_batch):
            _write_source_file(spark, rows, schema, d, i)
        return d

    # --- tt join (full): array value columns on BOTH sides
    l_rows = [
        [(rng.randrange(n_keys), arr(), b * 100 + i) for i in range(12)] for b in range(3)
    ]
    r_rows = [
        [(rng.randrange(n_keys), arr(), b * 100 + i) for i in range(8)] for b in range(2)
    ]
    ld = stage(l_rows, "k long, lv array<double>, lo long", "cnt-tt-l")
    rd = stage(r_rows, "rk long, rv array<double>, ro long", "cnt-tt-r")
    sb = StreamingBuilder(spark)

    def tt(engine):
        return join_tables_streaming(
            sb.file_stream(ld, key="k", max_files_per_trigger=1),
            sb.file_stream(rd, key="rk", max_files_per_trigger=1),
            how="full",
            l_order=("lo",),
            r_order=("ro",),
            engine=engine,
        )

    exact = rows_of(tt("exact"))
    assert rows_of(tt("tws")) == exact and len(exact) > 0

    # --- fk join (left): container values ride the sub-log AND both states
    fk_rows = [
        [
            (rng.randrange(n_keys), rng.choice([None, 0, 1, 2]), arr(), b * 100 + i)
            for i in range(10)
        ]
        for b in range(3)
    ]
    rk_rows = [[(k, arr(), b * 100 + k) for k in range(3)] for b in range(2)]
    fld = stage(fk_rows, "pk long, fk long, lv array<double>, lo long", "cnt-fk-l")
    frd = stage(rk_rows, "rk long, rv array<double>, ro long", "cnt-fk-r")

    def fkj(engine):
        return join_fk_streaming(
            sb.file_stream(fld, key="pk", max_files_per_trigger=1),
            sb.file_stream(frd, key="rk", max_files_per_trigger=1),
            fk="fk",
            how="left",
            l_order=("lo",),
            r_order=("ro",),
            engine=engine,
        )

    exact_fk = rows_of(fkj("exact"))
    assert rows_of(fkj("tws")) == exact_fk and len(exact_fk) > 0

    # --- suppress: buffered container values re-emitted from state on expiry
    import datetime as dt

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    s_rows = [
        [(rng.randrange(4), arr(), t(b * 10 + i)) for i in range(6)] for b in range(3)
    ]
    sd = stage(s_rows, "k long, v array<double>, ts timestamp", "cnt-sup")

    def sup(engine):
        table = (
            sb.file_stream(sd, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=5 * 60_000)
        )
        return suppress_buffered(table, time_col="ts", engine=engine).select(
            "k", "v", "__emit_reason"
        )

    exact_sup = rows_of(sup("exact"))
    assert rows_of(sup("tws")) == exact_sup and len(exact_sup) > 0


def test_keyed_engines_reject_reserved_column_names(spark, tmp_path):
    """User columns colliding with a per-key (tws) engine's internal
    schema fields (union tags, grouping columns, the sink_batch partition
    column) would surface as opaque Arrow/parquet errors MID-DRAIN, after
    state was already written.  Every tws engine must refuse at
    construction instead."""
    import datetime as dt

    from pyspark_engine.streaming import (
        join_fk_streaming,
        join_tables_streaming,
        suppress_buffered,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    sb = StreamingBuilder(spark)

    def mk(schema, rows, key, ts, name):
        spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / name))
        return sb.file_stream(str(tmp_path / name), key=key, ts=ts)

    l1 = mk("k int, sink_batch int, lts timestamp", [(1, 1, t(0))], "k", "lts", "l1")
    r1 = mk("rk int, rv int, rts timestamp", [(1, 1, t(0))], "rk", "rts", "r1")
    with pytest.raises(ValueError, match="engine-internal"):
        join_tables_streaming(l1, r1, engine="tws")

    l2 = mk("pk int, fk int, op string, lts timestamp", [(1, 1, "x", t(0))], "pk", "lts", "l2")
    r2 = mk("rk2 int, rv2 int, rts2 timestamp", [(1, 1, t(0))], "rk2", "rts2", "r2")
    with pytest.raises(ValueError, match="engine-internal"):
        join_fk_streaming(l2, r2, fk="fk", engine="tws")

    l3 = mk("k int, __clk int, ts timestamp", [(1, 1, t(0))], "k", "ts", "l3")
    with pytest.raises(ValueError, match="engine-internal"):
        suppress_buffered(
            l3.to_table().suppress(until_time_limit_ms=60_000), time_col="ts", engine="tws"
        )

    # the exact loop's union tag is reserved too
    l4 = mk("k int, __side int, lts timestamp", [(1, 1, t(0))], "k", "lts", "l4")
    with pytest.raises(ValueError, match="engine-internal"):
        join_tables_streaming(l4, r1, engine="exact")


def test_cogroup_streaming_rejects_invalid_parts(spark, tmp_path):
    """cogroup_streaming enforces the SAME contract as the batch builder:
    duplicate aggregate column names and key-arity mismatches fail fast
    instead of silently misaligning the stitch joins."""
    from pyspark_engine.streaming import StreamingBuilder, cogroup_streaming

    src = tmp_path / "s"
    src.mkdir()
    pd.DataFrame({"k": [1], "k2": [2], "v": [3]}).to_parquet(src / "f.parquet")
    sb = StreamingBuilder(spark)
    a = sb.file_stream(str(src), key="k").group_by_key()
    b = sb.file_stream(str(src), key="k").group_by_key()
    wide = sb.file_stream(str(src), key=("k", "k2")).group_by_key()

    class RawParts:
        def __init__(self, parts):
            self._parts = parts

    with pytest.raises(ValueError, match="duplicate aggregate column"):
        cogroup_streaming(RawParts([(a, {"n": F.count(F.lit(1))}), (b, {"n": F.sum("v")})]))
    with pytest.raises(ValueError, match="key arity"):
        cogroup_streaming(RawParts([(a, {"n": F.count(F.lit(1))}), (wide, {"m": F.sum("v")})]))
    with pytest.raises(ValueError, match="at least one named aggregate"):
        cogroup_streaming(RawParts([(a, {})]))


def test_kafka_smoke_helpers_offline(spark):
    """scripts/kafka_smoke.py up to the connector gate: the topology and
    verify helpers are pure, so the smoke test's logic is provable without
    a broker — the DSL count over an offline stream must equal the script's
    expected_counts ground truth, and the wire-side verifier must pick the
    LATEST (highest-offset) record per key like a compacted changelog."""
    import importlib.util
    import os as _os

    p = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "scripts", "kafka_smoke.py")
    spec = importlib.util.spec_from_file_location("kafka_smoke", p)
    ksm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ksm)

    records = ksm.sample_records(spark, n_rows=200, n_keys=7)
    want = ksm.expected_counts(records)
    assert sum(want.values()) == 200 and len(want) == 7

    # the same topology the live path runs, driven offline
    counted = ksm.topology(KStream(records, key=("user_id",)))
    got = {int(r.user_id): int(r.cnt) for r in counted.df.collect()}
    assert got == want

    # verifier: offset 2 row supersedes offset 1 for key 5
    decoded = spark.createDataFrame(
        [(5, 1, 1), (5, 3, 2), (6, 9, 1)], "key long, cnt long, offset long"
    )
    assert ksm.latest_counts_from_wire(decoded) == {5: 3, 6: 9}


def test_kafka_smoke_stub_end_to_end(spark, tmp_path, monkeypatch):
    """r11 verdict task 3: the smoke's PROCESS + VERIFY steps EXECUTE (not
    just signature-bind) against the in-process stub transport — produce
    wire bytes through encode_kafka, consume them through kafka_stream's
    stub route, run the topology as a real bounded streaming query, produce
    the update-mode re-emissions back through start_to_kafka, and verify
    the compacted per-key counts read back from the output topic."""
    import importlib.util
    import os as _os
    import sys as _sys

    p = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "scripts", "kafka_smoke.py"
    )
    spec = importlib.util.spec_from_file_location("kafka_smoke_e2e", p)
    ksm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ksm)
    monkeypatch.setattr(
        _sys,
        "argv",
        ["kafka_smoke.py", "--bootstrap", f"stub://{tmp_path / 'broker'}", "--rows", "300"],
    )
    assert ksm.main() == 0  # prints the PASS json line


def test_kafka_stub_offsets_and_partitioning(spark, tmp_path):
    """The stub transport's broker contract: per-partition offsets are
    monotonic ACROSS appends, the same key always lands on the same
    partition, and the streaming read exposes the exact Kafka source
    schema."""
    from pyspark_engine.kafka_stub import WIRE_SCHEMA, KafkaStubBroker

    broker = KafkaStubBroker(f"stub://{tmp_path / 'b'}")
    wire = spark.createDataFrame(
        [(str(k).encode(), b"v") for k in range(20)], "key binary, value binary"
    )
    broker.append(wire, "t")
    broker.append(wire, "t")  # second append: offsets must continue, not restart
    got = broker.read_batch(spark, "t")
    assert dict(got.dtypes) == dict(
        spark.createDataFrame([], WIRE_SCHEMA).dtypes
    )
    rows = got.collect()
    assert len(rows) == 40
    # same key -> same partition on both appends
    by_key = {}
    for r in rows:
        by_key.setdefault(bytes(r["key"]), set()).add(r["partition"])
    assert all(len(parts) == 1 for parts in by_key.values())
    # offsets unique and contiguous per partition
    by_part = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_kafka_smoke_live_calls_bind_to_current_surface(spark):
    """r9 verdict item 7: the smoke script's LIVE-path invocations
    (scripts/kafka_smoke.py main(), the only part not driven offline) must
    fail a TEST on API drift, not the demo on a cluster.  Each call below
    mirrors the script's argument shape verbatim and is bound against the
    current signature (binding validates names/arity without a broker)."""
    import inspect

    from pyspark_engine import serdes
    from pyspark_engine.streaming import StreamingBuilder, start_to_kafka

    # kafka_smoke.py step 1: encode_kafka(records, key_col=, value_cols=)
    inspect.signature(serdes.encode_kafka).bind(
        object(), key_col="user_id", value_cols=["user_id", "amount"]
    )
    # step 2: sb.kafka_stream(bootstrap, topic, VALUE_SCHEMA, key_type=, ts_alias=)
    inspect.signature(StreamingBuilder.kafka_stream).bind(
        object(), "host:9092", "topic-in", "user_id long, amount double",
        key_type="long", ts_alias="ts",
    )
    # step 2: start_to_kafka(counted, bootstrap, topic=, key_col=, value_cols=,
    #                        output_mode=, available_now=)
    inspect.signature(start_to_kafka).bind(
        object(), "host:9092", topic="t-out", key_col="key", value_cols=["cnt"],
        output_mode="update", available_now=True,
    )
    # step 3: decode_kafka(raw, COUNT_SCHEMA, key_type=, include_meta=)
    inspect.signature(serdes.decode_kafka).bind(
        object(), "cnt long", key_type="long", include_meta=True
    )


def test_kafka_smoke_wire_pairing_offline(spark):
    """The smoke script's encode/decode pairing, emulated offline: batch
    records through the SAME serdes.encode_kafka call the script's PRODUCE
    step uses, synthesized broker metadata appended, decoded with the SAME
    decode_kafka(key_type='long', include_meta=True) call its VERIFY step
    uses — the long-key cast roundtrip and the offset-based latest rule
    must reproduce expected counts exactly."""
    import importlib.util
    import os as _os

    from pyspark_engine import serdes

    p = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "scripts", "kafka_smoke.py")
    spec = importlib.util.spec_from_file_location("kafka_smoke2", p)
    ksm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ksm)

    # the counted topology output (key, cnt), written to the topic per
    # microbatch: key 5 updated twice (offsets 0,2), key 6 once (offset 1)
    updates = spark.createDataFrame([(5, 1), (6, 9), (5, 3)], "key long, cnt long")
    wire = serdes.encode_kafka(updates, key_col="key", value_cols=["cnt"])
    withmeta = wire.select(
        "key",
        "value",
        F.lit("t").alias("topic"),
        F.lit(0).alias("partition"),
        (F.monotonically_increasing_id()).alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    decoded = serdes.decode_kafka(withmeta, ksm.COUNT_SCHEMA, key_type="long", include_meta=True)
    assert ksm.latest_counts_from_wire(decoded) == {5: 3, 6: 9}


def test_audio_transcode_streaming_parity(spark, tmp_path):
    """Stream/batch parity for the LOSSY audio transcodes: PCM → G.711
    µ-law → decode features, and PCM → IMA ADPCM fidelity, each replayed
    through file_stream in availableNow mode.  Both codecs are
    deterministic (fixed tables, no timestamps in the containers), so the
    streaming output equals the batch plan exactly."""
    from pyspark_engine import llmops

    params = spark.range(30).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 50).alias("n"),
        F.when(F.col("id") % 2 == 0, 8000).otherwise(16000).alias("rate"),
        (F.lit(1) + F.col("id") % 7).alias("a"),
        (F.col("id") % 997).alias("b"),
    )
    src = str(tmp_path / "params")
    params.coalesce(1).write.parquet(src)

    def ulaw_chain(df):
        pcm = llmops.synth_wav(df, "doc_id", "n", "rate", "a", "b")
        ul = llmops.wav_transcode_ulaw(pcm, "doc_id", "payload")
        return llmops.decode_wav_ulaw_features(ul, "doc_id", "payload")

    def adpcm_chain(df):
        pcm = llmops.synth_wav(df, "doc_id", "n", "rate", "a", "b")
        return llmops.wav_adpcm_fidelity(pcm, "doc_id", "payload")

    batch = spark.read.parquet(src)
    for chain in (ulaw_chain, adpcm_chain):
        stream_in = StreamingBuilder(spark).file_stream(src, key="doc_id")
        got = run_available_now(
            KStream(chain(stream_in.df), ("doc_id",), None), output_mode="append"
        )
        want = chain(batch)
        cols = want.columns
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
        assert got.count() == 30


def test_gif_codec_streaming_parity(spark, tmp_path):
    """Stream/batch parity for the GIF codec chain: synth → LZW encode →
    decode features under availableNow equals batch (LZW and the palette
    walk are fully deterministic)."""
    from pyspark_engine import llmops

    params = spark.range(30).select(
        F.col("id").alias("doc_id"),
        (F.lit(16) + F.col("id") % 9).alias("w"),
        (F.lit(12) + F.col("id") % 7).alias("h"),
        (F.lit(1) + F.col("id") % 5).alias("a"),
        (F.col("id") % 251).alias("b"),
        (F.lit(4) + F.col("id") % 13).alias("p"),
    )
    src = str(tmp_path / "gifparams")
    params.coalesce(1).write.parquet(src)

    def chain(df):
        gif = llmops.synth_gif(df, "doc_id", "w", "h", "a", "b", "p")
        return llmops.decode_gif_features(gif, "doc_id", "payload")

    stream_in = StreamingBuilder(spark).file_stream(src, key="doc_id")
    got = run_available_now(
        KStream(chain(stream_in.df), ("doc_id",), None), output_mode="append"
    )
    want = chain(spark.read.parquet(src))
    cols = want.columns
    pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
    assert got.count() == 30


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_buffered_resume_no_redelivery(spark, tmp_path, engine):
    """Review finding (r8): a drain must return only ITS OWN emissions — a
    resumed drain over the same state_dir + checkpoint must not re-deliver
    previously emitted records; and resuming a populated state_dir WITHOUT
    the original checkpoint is refused (the _GEN contract), because a fresh
    checkpoint would replay the source and double-emit.  Both engines."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_engine.streaming import suppress_buffered

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    schema = "k string, v int, ts timestamp"
    src = str(tmp_path / "src")
    _write_source_file(spark, [("a", 1, t(0)), ("b", 1, t(0))], schema, src, 0)
    _write_source_file(spark, [("c", 1, t(2))], schema, src, 1)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=60_000)
        )

    got1 = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine)
    assert sorted(r["k"] for r in got1.collect()) == ["a", "b"]  # c still buffered

    # no new data: the resumed drain must deliver NOTHING new
    got2 = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine)
    assert got2.collect() == []

    # new data advancing stream time: only the NEWLY due key emits
    _write_source_file(spark, [("d", 1, t(10))], schema, src, 2)
    got3 = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine)
    assert sorted(r["k"] for r in got3.collect()) == ["c"]

    # populated state_dir without the original checkpoint -> refused
    with _pytest.raises(ValueError, match="checkpoint"):
        suppress_buffered(mk(), time_col="ts", state_dir=state, engine=engine)


@pytest.mark.slow
@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_buffered_crash_replay_idempotent(spark, tmp_path, engine):
    """Advisor finding (r8, medium): emission must be idempotent under
    Spark's at-least-once foreachBatch replay.  Simulate a crash between
    the emission write and the checkpoint commit by deleting the latest
    commit marker: the re-drain replays that batch; the per-batch OVERWRITE
    partition must leave each emission exactly ONCE in the out log, the
    replayed batch's rows ARE re-delivered (the crashed drain never
    returned them to a caller), and the buffer state is unchanged — for
    BOTH engines (tws: state-store version rollback recomputes the batch;
    exact: the _GEN applied-batch marker skips the already-folded state
    mutation while the emission partition stands)."""
    import datetime as dt
    import os

    from pyspark_engine.streaming import _last_committed, suppress_buffered
    from pyspark_engine.tws import stop_resident

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    schema = "k string, v int, ts timestamp"
    src = str(tmp_path / "src")
    _write_source_file(spark, [("a", 1, t(0)), ("b", 1, t(0))], schema, src, 0)
    _write_source_file(spark, [("c", 1, t(2))], schema, src, 1)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=60_000)
        )

    got1 = suppress_buffered(
        mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine
    )
    first = sorted((r["k"], r["__emit_batch"]) for r in got1.collect())
    assert [k for k, _ in first] == ["a", "b"]

    # a real crash ends the process and with it the dir's resident tws
    # query; a running query would never re-read its commit log
    stop_resident(state)
    last = _last_committed(ckpt)
    os.remove(os.path.join(ckpt, "commits", str(last)))  # "crash" pre-commit
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    got2 = suppress_buffered(
        mk(),
        time_col="ts",
        state_dir=state,
        checkpoint=ckpt,
        store_name=f"replay_buf_{engine}",
        engine=engine,
    )
    redelivered = sorted(set(r["k"] for r in got2.collect()))
    assert redelivered == ["a", "b"]  # uncommitted batch re-delivered, once
    # the durable out log holds each emission exactly once (no append-dups)
    out = spark.read.parquet(os.path.join(state, "out"))
    assert sorted((r["k"], r["__emit_batch"]) for r in out.collect()) == first
    assert sorted(r["k"] for r in spark.table(f"replay_buf_{engine}").collect()) == ["c"]


def test_fk_join_streaming_accepts_shared_fk_name(spark, tmp_path):
    """Review finding (r8): the canonical FK naming — the left fk column
    named like the right table's key — must work in the streaming
    realization exactly as it does in batch KTable.join_fk."""
    import datetime as dt

    from pyspark_engine.streaming import join_fk_streaming

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    ldf = spark.createDataFrame(
        [(1, 10, t(0)), (2, 20, t(0))], "pk int, dept_id int, lts timestamp"
    )
    rdf = spark.createDataFrame(
        [(10, "eng", t(0)), (20, "ops", t(1))], "dept_id int, dname string, rts timestamp"
    )
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))
    sb = StreamingBuilder(spark)
    lks = sb.file_stream(str(tmp_path / "l"), key="pk", ts="lts")
    rks = sb.file_stream(str(tmp_path / "r"), key="dept_id", ts="rts")
    got = join_fk_streaming(lks, rks, fk="dept_id", how="inner")
    m = {r["pk"]: r["dname"] for r in got.collect()}
    assert m == {1: "eng", 2: "ops"}
    assert "__fk_rk" not in got.columns and "dept_id" in got.columns


@pytest.mark.slow
@pytest.mark.parametrize("engine", [None, "tws", "exact"])
def test_suppress_buffered_differential_fuzz(spark, tmp_path, engine):
    """Differential check of the suppress buffer against an independent
    Python simulator of the KS rules (entry clock kept across updates,
    stream time = running max event time per batch, emit when
    entry + limit <= stream time, overflow evicts earliest with
    emitEarlyWhenFull): several seeded random workloads, random generation
    splits, random buffer bounds — emitted (key, value, reason, batch)
    sets and the final buffered keys must match exactly."""
    import datetime as dt
    import random

    from pyspark_engine.streaming import suppress_buffered

    schema = "k string, v int, ts timestamp"
    base = dt.datetime(2024, 1, 1)

    def simulate(batches, limit_ms, max_records):
        buf = {}  # k -> [entry_ms, v]
        hist = {}  # k -> (max_ts, v): the to_table state (latest-by-ts EVER)
        st = -(1 << 62)
        emitted = []
        for bid, rows in enumerate(batches):
            touched = set()
            for k, v, ms in rows:
                if k not in hist or ms >= hist[k][0]:
                    hist[k] = (ms, v)
                touched.add(k)
            if rows:
                st = max(st, max(ms for _, _, ms in rows))
            # update mode emits the key's CURRENT state row (value and event
            # ts of the latest-by-ts record across history, not of the batch)
            for k in touched:
                ms, v = hist[k]
                if k in buf:
                    buf[k][1] = v  # value replaced, clock kept
                else:
                    buf[k] = [ms, v]
            due = [k for k, (e, _) in buf.items() if e + limit_ms <= st]
            for k in due:
                emitted.append((k, buf[k][1], "time", bid))
                del buf[k]
            if max_records is not None and len(buf) > max_records:
                over = len(buf) - max_records
                for k in sorted(buf, key=lambda k: (buf[k][0], k))[:over]:
                    emitted.append((k, buf[k][1], "early", bid))
                    del buf[k]
        return emitted, set(buf)

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = rng.randint(6, 14)
        rows = [
            (
                f"k{rng.randint(0, 4)}",
                rng.randint(0, 99),
                rng.randint(0, 240) * 60_000,  # minutes 0..240 as epoch-ms offsets
            )
            for _ in range(n)
        ]
        # split into 2-5 generations preserving pipe order
        n_gen = rng.randint(2, 5)
        cuts = sorted(rng.sample(range(1, n), min(n_gen - 1, n - 1)))
        batches, prev = [], 0
        for c in cuts + [n]:
            batches.append(rows[prev:c])
            prev = c
        batches = [b for b in batches if b]
        limit_ms = rng.choice([30, 60, 90]) * 60_000
        max_records = rng.choice([None, 2, 3])
        if engine == "tws":
            # capacity bounds are buffer-global (exact-engine territory, the
            # dispatcher refuses them on per-key engines); run every seed
            # unbounded so the tws leg always exercises the tws engine
            max_records = None

        src = str(tmp_path / f"src{seed}")
        for i, b in enumerate(batches):
            _write_source_file(
                spark,
                [(k, v, base + dt.timedelta(milliseconds=ms)) for k, v, ms in b],
                schema,
                src,
                i,
            )
        sb = StreamingBuilder(spark)
        tbl = (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(
                until_time_limit_ms=limit_ms,
                max_records=max_records,
                emit_early_when_full=max_records is not None,
            )
        )
        got = suppress_buffered(
            tbl, time_col="ts", store_name=f"fuzz_buf_{seed}_{engine}", engine=engine
        )
        got_set = {
            (r["k"], r["v"], r["__emit_reason"], r["__emit_batch"]) for r in got.collect()
        }
        want, want_buf = simulate(batches, limit_ms, max_records)
        assert got_set == set(want), f"seed {seed}: {sorted(got_set)} != {sorted(want)}"
        assert set(
            r["k"] for r in spark.table(f"fuzz_buf_{seed}_{engine}").collect()
        ) == want_buf, f"seed {seed} buffer mismatch"


@pytest.mark.slow
def test_compact_emission_log_tt_join(spark, tmp_path):
    """r11 advice: the emission log grows without bound across resumed
    drains; compact_emission_log folds committed partitions into one base.
    Twin-run check: a compacted dir must produce the SAME resumed-drain
    snapshot as an untouched twin fed identical batches — and an
    interrupted compaction (tmp marker left behind) must make the engine
    refuse until the idempotent compactor recovers it."""
    import os
    import shutil

    from pyspark_engine.streaming import (
        compact_emission_log,
        join_tables_streaming,
    )

    batches_l = [[(k, b * 10 + k, b) for k in range(4)] for b in range(3)]
    batches_r = [[(k, 100 + b, b) for k in range(4)] for b in range(2)]
    dirs = {}
    for name in ("a", "b"):
        ld, rd = str(tmp_path / f"l{name}"), str(tmp_path / f"r{name}")
        for i, rows in enumerate(batches_l):
            _write_source_file(spark, rows, "k long, lv long, lo long", ld, i)
        for i, rows in enumerate(batches_r):
            _write_source_file(spark, rows, "rk long, rv long, ro long", rd, i)
        dirs[name] = (ld, rd, str(tmp_path / f"st{name}"), str(tmp_path / f"ck{name}"))

    sb = StreamingBuilder(spark)

    def drain(name):
        ld, rd, st, ck = dirs[name]
        return join_tables_streaming(
            sb.file_stream(ld, key="k", max_files_per_trigger=1),
            sb.file_stream(rd, key="rk", max_files_per_trigger=1),
            how="full", l_order=("lo",), r_order=("ro",),
            state_dir=st, checkpoint=ck, engine="tws",
        )

    drain("a")
    drain("b")
    _, _, st_a, ck_a = dirs["a"]
    out_a = os.path.join(st_a, "out")
    n_parts_before = len([e for e in os.listdir(out_a) if e.startswith("sink_batch=")])
    assert n_parts_before > 1
    res = compact_emission_log(spark, st_a, ck_a, key=("k",))
    assert res["kind"] == "tt" and res["pruned"] >= 1
    n_parts_after = len([e for e in os.listdir(out_a) if e.startswith("sink_batch=")])
    assert n_parts_after == 1

    # simulate an interrupted compaction: tmp with _TARGET, base missing
    base = [e for e in os.listdir(out_a) if e.startswith("sink_batch=")][0]
    base_id = int(base.split("=")[1])
    shutil.copytree(os.path.join(out_a, base), str(tmp_path / "tmpcopy"))
    shutil.move(str(tmp_path / "tmpcopy"), os.path.join(st_a, "compact-tmp"))
    with open(os.path.join(st_a, "compact-tmp", "_TARGET"), "w") as f:
        f.write(str(base_id))
    shutil.rmtree(os.path.join(out_a, base))
    # r13 (review finding): compaction can run AUTOMATICALLY at drain entry,
    # so a crashed pass self-heals there (idempotent recovery) instead of
    # wedging the drain behind a manual compact_emission_log call
    drain("a")
    assert not any(e.startswith("compact-") for e in os.listdir(st_a))
    compact_emission_log(spark, st_a, ck_a, key=("k",))  # idempotent no-op

    # the OTHER two crash windows (round-12 review findings 1-2) must ROLL
    # BACK, never prune:
    # (A) tmp+_TARGET written but the swap never started (dest intact)
    out_parts = lambda: sorted(  # noqa: E731
        e for e in os.listdir(out_a) if e.startswith("sink_batch=")
    )
    snapshot_before = out_parts()
    shutil.copytree(os.path.join(out_a, base), os.path.join(st_a, "compact-tmp"))
    with open(os.path.join(st_a, "compact-tmp", "_TARGET"), "w") as f:
        f.write(str(base_id))
    compact_emission_log(spark, st_a, ck_a, key=("k",))
    assert out_parts() == snapshot_before  # rollback: nothing pruned
    assert not os.path.exists(os.path.join(st_a, "compact-tmp"))
    # (B) crash between _TARGET removal and the install: tmp w/o _TARGET,
    # dest displaced into trash — the old base must be RESTORED
    shutil.copytree(os.path.join(out_a, base), os.path.join(st_a, "compact-tmp"))
    shutil.move(os.path.join(out_a, base), os.path.join(st_a, f"compact-trash-{base_id}"))
    compact_emission_log(spark, st_a, ck_a, key=("k",))
    assert out_parts() == snapshot_before  # base restored, fold dropped
    assert not any(e.startswith("compact-") for e in os.listdir(st_a))

    # resumed drains over compacted vs untouched twin: identical snapshots
    for name in ("a", "b"):
        ld = dirs[name][0]
        _write_source_file(spark, [(1, 999, 9), (5, 55, 9)], "k long, lv long, lo long", ld, 3)
    got_a = sorted(map(tuple, drain("a").collect()))
    got_b = sorted(map(tuple, drain("b").collect()))
    assert got_a == got_b and any(r[1] == 999 for r in got_a)


def test_engine_none_auto_selection_honors_dirs_and_containers(spark, tmp_path):
    """engine=None resumes a dir with the engine that wrote it (an
    exact-loop dir under 'exact') and refuses a dir stamped by the removed
    pandas keyed engine with the recovery path.  Container-typed VALUE
    columns auto-select tws (binary tunnel); container columns in a hard
    position (order/key/fk) route to 'exact'."""
    import os

    from pyspark_engine.streaming import join_tables_streaming

    def mk(name, schema, rows, key):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.parquet(d)
        return StreamingBuilder(spark).file_stream(d, key=key)

    # container VALUE column + engine=None: runs on tws (tunnel), not exact
    lc = mk("lc", "k long, lv array<int>, lo long", [(1, [1, 2], 1)], "k")
    rc = mk("rc", "rk long, rv long, ro long", [(1, 9, 1)], "rk")
    stc = str(tmp_path / "st_container")
    snap = join_tables_streaming(
        lc, rc, how="inner", l_order=("lo",), r_order=("ro",), state_dir=stc,
        checkpoint=str(tmp_path / "ck_container"),
    )
    assert [tuple(r) for r in snap.collect()] == [(1, [1, 2], 1, 9, 1)]
    assert os.path.exists(os.path.join(stc, "_PSE_TWS_TTJOIN_V"))  # tws selected

    # container ORDER column (hard position) + engine=None: exact, not a raise
    lh = mk("lh", "k long, lv long, lord array<int>", [(1, 5, [1])], "k")
    rh = mk("rh", "rk long, rv long, ro long", [(1, 9, 1)], "rk")
    snap_h = join_tables_streaming(
        lh, rh, how="inner", l_order=("lord",), r_order=("ro",)
    )
    assert [tuple(r) for r in snap_h.collect()] == [(1, 5, [1], 9, 1)]

    # exact-stamped dir + engine=None: resumes under exact
    l1 = mk("l1", "k long, lv long, lo long", [(1, 5, 1)], "k")
    r1 = mk("r1", "rk long, rv long, ro long", [(1, 9, 1)], "rk")
    st, ck = str(tmp_path / "st"), str(tmp_path / "ck")
    join_tables_streaming(
        l1, r1, how="inner", l_order=("lo",), r_order=("ro",),
        state_dir=st, checkpoint=ck, engine="exact",
    )
    snap2 = join_tables_streaming(
        l1, r1, how="inner", l_order=("lo",), r_order=("ro",),
        state_dir=st, checkpoint=ck, engine=None,
    )
    assert [tuple(r) for r in snap2.collect()] == [(1, 5, 1, 9, 1)]
    assert not os.path.exists(os.path.join(st, "_PSE_TWS_TTJOIN_V"))

    # a dir stamped by the removed pandas keyed engine + engine=None: refused,
    # naming the recovery path (fresh state_dir/checkpoint, replay via tws/exact)
    legacy = tmp_path / "st_legacy"
    legacy.mkdir()
    (legacy / "_PSE_TTJOIN_V").write_text("1")
    with pytest.raises(ValueError, match="removed pandas keyed engine") as ei:
        join_tables_streaming(
            l1, r1, how="inner", l_order=("lo",), r_order=("ro",),
            state_dir=str(legacy), engine=None,
        )
    assert "fresh state_dir" in str(ei.value) and "replay the source" in str(ei.value)


def test_engine_keyed_value_raises_naming_tws_and_exact(spark, tmp_path):
    """The pandas keyed engine was removed: engine='keyed' is refused on
    every continuous-table entry point, and on the as-of join, with a
    message naming the two remaining engines."""
    import datetime as dt

    from pyspark_engine.streaming import (
        join_fk_streaming,
        join_table_asof_streaming,
        join_tables_streaming,
        suppress_buffered,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    sb = StreamingBuilder(spark)
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_source_file(spark, [(1, 10, t(0))], "k int, fk int, lts timestamp", lsrc, 0)
    _write_source_file(spark, [(10, "x", t(0))], "rk int, rv string, rts timestamp", rsrc, 0)

    def sides():
        return (
            sb.file_stream(lsrc, key="k", ts="lts"),
            sb.file_stream(rsrc, key="rk", ts="rts"),
        )

    calls = {
        "join_tables_streaming": lambda: join_tables_streaming(*sides(), engine="keyed"),
        "join_fk_streaming": lambda: join_fk_streaming(*sides(), fk="fk", engine="keyed"),
        "suppress_buffered": lambda: suppress_buffered(
            sides()[0].to_table().suppress(until_time_limit_ms=60_000),
            time_col="lts",
            engine="keyed",
        ),
        "join_table_asof_streaming": lambda: join_table_asof_streaming(
            sides()[0],
            StreamBuilder(spark).versioned_table(
                spark.createDataFrame([(1, "x", t(0))], "k int, rv string, rts timestamp"),
                key="k",
                ts="rts",
            ),
            engine="keyed",
        ),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="removed") as ei:
            call()
        msg = str(ei.value)
        assert name in msg and "'tws'" in msg and "'exact'" in msg, msg


def test_legacy_keyed_state_dirs_refused_with_recovery_path(spark, tmp_path):
    """A state dir stamped by the removed pandas keyed engine is refused —
    under engine=None, under engine='tws', and by compact_emission_log —
    with a message naming the recovery path (fresh state_dir/checkpoint,
    replay the source through tws or exact)."""
    import datetime as dt

    from pyspark_engine.streaming import (
        compact_emission_log,
        join_fk_streaming,
        join_tables_streaming,
        suppress_buffered,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    sb = StreamingBuilder(spark)
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_source_file(spark, [(1, 10, t(0))], "k int, fk int, lts timestamp", lsrc, 0)
    _write_source_file(spark, [(10, "x", t(0))], "rk int, rv string, rts timestamp", rsrc, 0)

    def sides():
        return (
            sb.file_stream(lsrc, key="k", ts="lts"),
            sb.file_stream(rsrc, key="rk", ts="rts"),
        )

    entries = {
        "_PSE_TTJOIN_V": lambda st, eng: join_tables_streaming(
            *sides(), state_dir=st, engine=eng
        ),
        "_PSE_FKJOIN_V": lambda st, eng: join_fk_streaming(
            *sides(), fk="fk", state_dir=st, engine=eng
        ),
        "_PSE_STATE_V": lambda st, eng: suppress_buffered(
            sides()[0].to_table().suppress(until_time_limit_ms=60_000),
            time_col="lts",
            state_dir=st,
            engine=eng,
        ),
    }
    for marker, call in entries.items():
        for eng in (None, "tws"):
            st = tmp_path / f"{marker}-{eng}"
            st.mkdir()
            (st / marker).write_text("1")
            with pytest.raises(ValueError, match="removed pandas keyed engine") as ei:
                call(str(st), eng)
            msg = str(ei.value)
            assert marker in msg and "fresh state_dir" in msg and "replay the source" in msg
        with pytest.raises(ValueError, match="removed pandas keyed engine"):
            compact_emission_log(spark, str(st), str(tmp_path / f"{marker}-ck"))


@pytest.mark.slow
def test_compact_emission_log_fk_and_suppress(spark, tmp_path):
    """fk-join compaction retains last-op-D keys in the base (so a crash
    can never resurrect them) and prunes consumed sub-log files; suppress
    compaction prunes delivered history below the newest committed
    partition without changing resumed-drain semantics."""
    import datetime as dt
    import os

    from pyspark_engine.streaming import (
        compact_emission_log,
        join_fk_streaming,
        suppress_buffered,
    )

    # --- fk: pk 0 flips fk 0->1, pk 1 is DELETED from the join by keying
    # it to a missing right key, producing D emissions
    ld, rd = str(tmp_path / "fl"), str(tmp_path / "fr")
    _write_source_file(
        spark, [(0, 0, 10, 0), (1, 0, 11, 0)], "pk long, fk long, lv long, lo long", ld, 0
    )
    _write_source_file(spark, [(0, 1, 20, 1)], "pk long, fk long, lv long, lo long", ld, 1)
    _write_source_file(spark, [(0, 100, 0), (1, 101, 0)], "rk long, rv long, ro long", rd, 0)
    st, ck = str(tmp_path / "fst"), str(tmp_path / "fck")
    sb = StreamingBuilder(spark)

    def fk_drain():
        return join_fk_streaming(
            sb.file_stream(ld, key="pk", max_files_per_trigger=1),
            sb.file_stream(rd, key="rk"),
            fk="fk", how="inner", l_order=("lo",), r_order=("ro",),
            state_dir=st, checkpoint=ck, engine="tws",
        )

    before = sorted(map(tuple, fk_drain().collect()))
    res = compact_emission_log(spark, st, ck, key=("pk",))
    assert res["kind"] == "fk"
    # stage B's file-source log lets the consumed sub partitions prune
    assert res.get("sub_pruned", 0) >= 1, res
    # base retains the op column; resumed drain sees the same snapshot
    after = sorted(map(tuple, fk_drain().collect()))
    assert after == before

    # --- suppress: emissions history prunes; resumed drain unaffected
    def t(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    src = str(tmp_path / "ss")
    _write_source_file(spark, [("a", 1, t(0))], "k string, v int, ts timestamp", src, 0)
    _write_source_file(spark, [("b", 2, t(10))], "k string, v int, ts timestamp", src, 1)
    _write_source_file(spark, [("c", 3, t(30))], "k string, v int, ts timestamp", src, 2)
    sst, sck = str(tmp_path / "sst"), str(tmp_path / "sck")

    def sup_drain():
        tbl = (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=5 * 60_000)
        )
        return suppress_buffered(
            tbl, time_col="ts", state_dir=sst, checkpoint=sck, engine="tws"
        )

    first = {(r["k"], r["__emit_batch"]) for r in sup_drain().collect()}
    assert first  # a and/or b emitted
    res2 = compact_emission_log(spark, sst, sck)
    assert res2["kind"] == "suppress" and res2["pruned"] >= 1
    out_parts = [
        e for e in os.listdir(os.path.join(sst, "out")) if e.startswith("sink_batch=")
    ]
    assert len(out_parts) == 1  # history pruned to the cursor partition
    # resumed drain with new data: only NEW emissions delivered — the
    # compacted history must never be re-delivered
    _write_source_file(spark, [("d", 4, t(60))], "k string, v int, ts timestamp", src, 3)
    second = {r["k"] for r in sup_drain().collect()}
    assert "a" not in second and "b" not in second


@pytest.mark.slow
def test_autocompact_bounds_partitions_across_drains(spark, tmp_path, monkeypatch):
    """r12 verdict task 5: the compact-every-N policy runs automatically at
    drain entry (_AUTOCOMPACT_EVERY), so a long-lived resumed state dir keeps
    a bounded ``out/`` partition count — and the folded snapshot stays
    identical to an untouched twin fed the same batches with auto-compaction
    disabled."""
    import os

    from pyspark_engine import streaming
    from pyspark_engine.streaming import join_tables_streaming

    n_drains = 8
    dirs = {}
    for name in ("auto", "plain"):
        ld, rd = str(tmp_path / f"l{name}"), str(tmp_path / f"r{name}")
        _write_source_file(spark, [(k, -1, -1) for k in range(4)], "k long, lv long, lo long", ld, 0)
        _write_source_file(spark, [(k, 100, 0) for k in range(4)], "rk long, rv long, ro long", rd, 0)
        dirs[name] = (ld, rd, str(tmp_path / f"st{name}"), str(tmp_path / f"ck{name}"))

    sb = StreamingBuilder(spark)

    def drain(name):
        ld, rd, st, ck = dirs[name]
        return join_tables_streaming(
            sb.file_stream(ld, key="k", max_files_per_trigger=1),
            sb.file_stream(rd, key="rk", max_files_per_trigger=1),
            how="full", l_order=("lo",), r_order=("ro",),
            state_dir=st, checkpoint=ck, engine="tws",
        )

    def parts(name):
        out = os.path.join(dirs[name][2], "out")
        return [e for e in os.listdir(out) if e.startswith("sink_batch=")]

    for i in range(1, n_drains + 1):
        # the plain twin's cadence lies beyond every partition it gathers
        for name, every in (("auto", 3), ("plain", 100 * n_drains)):
            monkeypatch.setattr(streaming, "_AUTOCOMPACT_EVERY", every)
            ld = dirs[name][0]
            _write_source_file(
                spark, [(k, i * 10 + k, i) for k in range(4)], "k long, lv long, lo long", ld, i
            )
            snap = drain(name)
            if i == n_drains:
                final = sorted(map(tuple, snap.collect()))
                if name == "auto":
                    final_auto = final
                else:
                    assert final == final_auto  # identical snapshots
    # the un-compacted twin accumulated one partition per batch; the auto
    # dir stayed bounded by the policy (base + tail < threshold + drains'
    # new batches since the last fold)
    assert len(parts("plain")) > n_drains
    assert len(parts("auto")) <= 5


@pytest.mark.slow
def test_compact_emission_log_kind_from_markers_not_columns(spark, tmp_path):
    """Round-12 advice (medium): the log kind comes from the engine's state
    -dir version marker, NOT from output-column sniffing — a tt-join whose
    USER schema carries a column named '__emit_reason' used to be
    misclassified as a suppress log and have every committed partition but
    the newest deleted outright (destroying join emission history).  Also
    pins the two companion fixes: a torn/empty _TARGET marker recovers by
    rollback instead of wedging recovery with a ValueError, and a dir with
    no recognizable marker refuses rather than guesses."""
    import os
    import shutil

    from pyspark_engine.streaming import (
        compact_emission_log,
        join_tables_streaming,
    )

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    # adversarial value-column name: '__emit_reason' is suppress's reserved
    # output column but a legal tt-join USER column
    for i in range(3):
        _write_source_file(
            spark,
            [(k, i * 10 + k, i) for k in range(4)],
            "k long, __emit_reason long, lo long",
            ld,
            i,
        )
    for i in range(2):
        _write_source_file(
            spark, [(k, 100 + i, i) for k in range(4)], "rk long, rv long, ro long", rd, i
        )
    st, ck = str(tmp_path / "st"), str(tmp_path / "ck")
    sb = StreamingBuilder(spark)
    join_tables_streaming(
        sb.file_stream(ld, key="k", max_files_per_trigger=1),
        sb.file_stream(rd, key="rk", max_files_per_trigger=1),
        how="full",
        l_order=("lo",),
        r_order=("ro",),
        state_dir=st,
        checkpoint=ck,
        engine="tws",
    )
    out = os.path.join(st, "out")
    res = compact_emission_log(spark, st, ck, key=("k",))
    assert res["kind"] == "tt"  # the column sniff would have said "suppress"
    # the fold kept every key's latest row — a suppress-style prune keeps
    # only the newest partition and loses keys not re-emitted in it
    snap = spark.read.parquet(out)
    assert sorted(r["k"] for r in snap.select("k").distinct().collect()) == [0, 1, 2, 3]

    # torn _TARGET (empty file): provably pre-swap — recover by rollback,
    # prune nothing, don't raise
    base = next(e for e in os.listdir(out) if e.startswith("sink_batch="))
    parts_before = sorted(e for e in os.listdir(out) if e.startswith("sink_batch="))
    shutil.copytree(os.path.join(out, base), os.path.join(st, "compact-tmp"))
    open(os.path.join(st, "compact-tmp", "_TARGET"), "w").close()
    compact_emission_log(spark, st, ck, key=("k",))
    assert sorted(e for e in os.listdir(out) if e.startswith("sink_batch=")) == parts_before
    assert not os.path.exists(os.path.join(st, "compact-tmp"))

    # no marker at all: refuse — guessing is exactly the data-loss bug.
    # (needs ≥2 foldable partitions or the compactor early-returns before
    # kind detection: restage the base under a lower committed batch id)
    base_id = int(base.split("=", 1)[1])
    assert base_id > 0
    shutil.copytree(os.path.join(out, base), os.path.join(out, "sink_batch=0"))
    os.remove(os.path.join(st, "_PSE_TWS_TTJOIN_V"))
    with pytest.raises(ValueError, match="cannot identify the engine"):
        compact_emission_log(spark, st, ck, key=("k",))


def test_changelog_join_refuses_resume_without_checkpoint(spark, tmp_path):
    """Review finding (r9): the replay-skip marker makes resuming a
    populated join/cogroup state_dir WITHOUT the original checkpoint
    dangerous (a fresh checkpoint renumbers batches from 0, so the skip
    would silently drop the replay — including NEW data).  Both loops must
    refuse, exactly like suppress_buffered."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_engine.streaming import (
        StreamingBuilder,
        cogroup_streaming,
        join_tables_streaming,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    ldf = spark.createDataFrame([(1, "a", t(0))], "lk int, lv string, lts timestamp")
    rdf = spark.createDataFrame([(1, "x", t(0))], "rk int, rv string, rts timestamp")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))
    sb = StreamingBuilder(spark)

    def sides():
        return (
            sb.file_stream(str(tmp_path / "l"), key="lk", ts="lts"),
            sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts"),
        )

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    l1, r1 = sides()
    got = join_tables_streaming(l1, r1, how="inner", state_dir=state, checkpoint=ckpt)
    assert got.count() == 1
    l2, r2 = sides()
    with _pytest.raises(ValueError, match="checkpoint"):
        join_tables_streaming(l2, r2, how="inner", state_dir=state)

    cstate, cckpt = str(tmp_path / "cstate"), str(tmp_path / "cck")
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 5)], "k int, v int").write.parquet(src)

    def cg():
        ks = sb.file_stream(src, key="k")
        return ks.group_by_key().cogroup(total=F.sum("v"))

    cogroup_streaming(cg(), state_dir=cstate, checkpoint=cckpt)
    with _pytest.raises(ValueError, match="checkpoint"):
        cogroup_streaming(cg(), state_dir=cstate)


@pytest.mark.slow
def test_state_dir_refuses_mismatched_checkpoint(spark, tmp_path):
    """r9 verdict item 3: a populated state dir paired with a WRONG-but-
    existing checkpoint (from a different query) must be refused on every
    state loop — batch ids from a foreign commits log would silently skip
    or re-deliver.  The reference cannot mispair them (changelog topics are
    keyed by appId+store, core/State/Logging/
    ChangeLoggingTimestampedKeyValueBytesStore.cs:8).  Also the reverse:
    a bound checkpoint offered against a fresh state dir is refused."""
    import datetime as dt
    import os

    import pytest as _pytest

    from pyspark_engine.streaming import (
        StreamingBuilder,
        cogroup_streaming,
        join_table_asof_streaming,
        join_tables_streaming,
        join_windowed_eager,
        suppress_buffered,
    )
    from pyspark_engine.windows import JoinWindowOptions

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 0, m, s)

    sb = StreamingBuilder(spark)
    ldf = spark.createDataFrame([(1, "a", t(0))], "lk int, lv string, lts timestamp")
    rdf = spark.createDataFrame([(1, "x", t(0))], "rk int, rv string, rts timestamp")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))

    def sides():
        return (
            sb.file_stream(str(tmp_path / "l"), key="lk", ts="lts"),
            sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts"),
        )

    def paths(name, run):
        return str(tmp_path / f"{name}-state-{run}"), str(tmp_path / f"{name}-ck-{run}")

    def run_loop(name, state, ckpt):
        if name == "join_tables":
            l, r = sides()
            return join_tables_streaming(l, r, how="inner", state_dir=state, checkpoint=ckpt)
        if name == "eager_join":
            l, r = sides()
            return join_windowed_eager(
                l, r, JoinWindowOptions.of(60_000), how="inner",
                state_dir=state, checkpoint=ckpt,
            )
        if name == "cogroup":
            ks = sb.file_stream(str(tmp_path / "l"), key="lk")
            cg = ks.group_by_key().cogroup(total=F.count("lv"))
            return cogroup_streaming(cg, state_dir=state, checkpoint=ckpt)
        if name == "asof":
            from pyspark_engine import StreamBuilder as BatchBuilder

            ks = sb.file_stream(str(tmp_path / "l"), key="lk", ts="lts")
            hist = spark.createDataFrame([(1, "x", t(0))], "lk int, rv string, rts timestamp")
            vt = BatchBuilder(spark).versioned_table(hist, key="lk", ts="rts")
            return join_table_asof_streaming(ks, vt, how="left", out_dir=state, checkpoint=ckpt)
        # suppress engines
        src = str(tmp_path / "sup-src")
        if not os.path.isdir(src):
            _write_source_file(
                spark, [("a", 1, t(0)), ("b", 1, t(3))], "k string, v int, ts timestamp", src, 0
            )
        tbl = sb.file_stream(src, key="k", ts="ts").to_table().suppress(until_time_limit_ms=60_000)
        return suppress_buffered(
            tbl, time_col="ts", state_dir=state, checkpoint=ckpt,
            engine="tws" if name == "sup_tws" else "exact",
        )

    loops = ["join_tables", "eager_join", "cogroup", "asof", "sup_tws", "sup_exact"]
    for name in loops:
        state_a, ckpt_a = paths(name, "a")
        state_b, ckpt_b = paths(name, "b")
        run_loop(name, state_a, ckpt_a)
        run_loop(name, state_b, ckpt_b)
        # loop A's state with loop B's checkpoint: descriptive refusal
        with _pytest.raises(ValueError, match="different checkpoint"):
            run_loop(name, state_a, ckpt_b)
        # the original pair still resumes fine after the refusal
        run_loop(name, state_a, ckpt_a)

    # reverse direction (one loop suffices — shared helper): a checkpoint
    # already bound elsewhere, offered against a brand-new state dir
    state_a, ckpt_a = paths("join_tables", "a")
    with _pytest.raises(ValueError, match="already belongs"):
        run_loop("join_tables", str(tmp_path / "fresh-state"), ckpt_a)


def test_unbound_state_refused_and_commit_guard(spark, tmp_path):
    """The bind protocol's edges: (a) a populated state dir without its
    _PSE_BIND marker (simulated by deleting the markers) is refused with
    its original checkpoint and with a fresh one, naming the recovery path;
    (b) an UNBOUND checkpoint that already holds committed batches is
    refused against a fresh state dir (re-binding it would make Spark skip
    its committed batches over empty state); (c) a pre-exactly-once flat
    as-of out dir is refused outright (mixing layouts would break the final
    read)."""
    import datetime as dt
    import os

    import pytest as _pytest

    from pyspark_engine.streaming import (
        StreamingBuilder,
        join_table_asof_streaming,
        join_tables_streaming,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    sb = StreamingBuilder(spark)
    ldf = spark.createDataFrame([(1, "a", t(0))], "lk int, lv string, lts timestamp")
    rdf = spark.createDataFrame([(1, "x", t(0))], "rk int, rv string, rts timestamp")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))

    def run(state, ckpt):
        l = sb.file_stream(str(tmp_path / "l"), key="lk", ts="lts")
        r = sb.file_stream(str(tmp_path / "r"), key="rk", ts="rts")
        return join_tables_streaming(l, r, how="inner", state_dir=state, checkpoint=ckpt)

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    assert run(state, ckpt).count() == 1

    def unbind(*dirs):
        for d in dirs:
            os.remove(os.path.join(d, "_PSE_BIND"))

    # (a) unbound populated state: refused with the ORIGINAL checkpoint and
    # with a FRESH one, and the refusal binds nothing
    unbind(state, ckpt)
    for ck in (ckpt, str(tmp_path / "fresh-ck")):
        with _pytest.raises(ValueError, match="replay the source"):
            run(state, ck)
        assert not os.path.exists(os.path.join(state, "_PSE_BIND"))

    # (b) unbound checkpoint WITH commits against a fresh state dir
    with _pytest.raises(ValueError, match="already belongs"):
        run(str(tmp_path / "fresh-state"), ckpt)

    # (c) legacy flat as-of out dir
    legacy = str(tmp_path / "legacy-asof")
    os.makedirs(legacy)
    open(os.path.join(legacy, "part-00000-legacy.snappy.parquet"), "wb").close()
    ks = sb.file_stream(str(tmp_path / "l"), key="lk", ts="lts")
    from pyspark_engine import StreamBuilder as BatchBuilder

    hist = spark.createDataFrame([(1, "x", t(0))], "lk int, rv string, rts timestamp")
    vt = BatchBuilder(spark).versioned_table(hist, key="lk", ts="rts")
    with _pytest.raises(ValueError, match="fresh out_dir"):
        join_table_asof_streaming(ks, vt, how="left", out_dir=legacy)


@pytest.mark.slow
@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_buffered_resume_differential_fuzz(spark, tmp_path, engine):
    """Cross-DRAIN differential check: the same seeded workloads as the
    single-drain fuzz, but the generations are split across TWO resumed
    drains (same state_dir + checkpoint).  Emission CONTENT — (key, value,
    reason) multiset over both drains' returns — and the final buffered
    keys must match the independent KS-rules simulator exactly.  Batch IDS
    are excluded by design: availableNow appends engine-internal no-data
    microbatches at each drain end (timer flushes), so absolute ids shift
    per drain; the KS contract under test is WHAT emits and WHAT stays
    buffered across a restart."""
    import datetime as dt
    import random

    from pyspark_engine.streaming import suppress_buffered

    schema = "k string, v int, ts timestamp"
    base = dt.datetime(2024, 1, 1)

    def simulate(batches, limit_ms):
        buf, hist, st, emitted = {}, {}, -(1 << 62), []
        for bid, rows in enumerate(batches):
            touched = set()
            for k, v, ms in rows:
                if k not in hist or ms >= hist[k][0]:
                    hist[k] = (ms, v)
                touched.add(k)
            if rows:
                st = max(st, max(ms for _, _, ms in rows))
            for k in touched:
                ms, v = hist[k]
                if k in buf:
                    buf[k][1] = v
                else:
                    buf[k] = [ms, v]
            for k in [k for k, (e, _) in buf.items() if e + limit_ms <= st]:
                emitted.append((k, buf[k][1], "time"))
                del buf[k]
        return emitted, set(buf)

    for seed in (11, 58):
        rng = random.Random(seed)
        n = rng.randint(8, 14)
        rows = [
            (f"k{rng.randint(0, 4)}", rng.randint(0, 99), rng.randint(0, 240) * 60_000)
            for _ in range(n)
        ]
        cuts = sorted(rng.sample(range(1, n), min(rng.randint(2, 4), n - 1)))
        batches, prev = [], 0
        for c in cuts + [n]:
            if rows[prev:c]:
                batches.append(rows[prev:c])
            prev = c
        limit_ms = rng.choice([30, 60, 90]) * 60_000
        split = rng.randint(1, len(batches) - 1)  # drain 1 sees batches[:split]

        src = str(tmp_path / f"src{seed}")
        state = str(tmp_path / f"state{seed}")
        ckpt = str(tmp_path / f"ckpt{seed}")
        sb = StreamingBuilder(spark)

        def mk():
            return (
                sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
                .to_table()
                .suppress(until_time_limit_ms=limit_ms)
            )

        got = []
        for i, b in enumerate(batches[:split]):
            _write_source_file(
                spark,
                [(k, v, base + dt.timedelta(milliseconds=ms)) for k, v, ms in b],
                schema, src, i,
            )
        d1 = suppress_buffered(
            mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine
        )
        got += [(r["k"], r["v"], r["__emit_reason"]) for r in d1.collect()]
        for i, b in enumerate(batches[split:], start=split):
            _write_source_file(
                spark,
                [(k, v, base + dt.timedelta(milliseconds=ms)) for k, v, ms in b],
                schema, src, i,
            )
        d2 = suppress_buffered(
            mk(), time_col="ts", state_dir=state, checkpoint=ckpt,
            store_name=f"resume_fuzz_{seed}_{engine}", engine=engine,
        )
        got += [(r["k"], r["v"], r["__emit_reason"]) for r in d2.collect()]

        want, want_buf = simulate(batches, limit_ms)
        assert sorted(got) == sorted(want), f"seed {seed}: {sorted(got)} != {sorted(want)}"
        assert set(
            r["k"] for r in spark.table(f"resume_fuzz_{seed}_{engine}").collect()
        ) == want_buf, f"seed {seed} buffer mismatch"


def test_join_windowed_eager_spurious_outer_timing(spark, tmp_path):
    """join_windowed_eager reproduces the reference's pre-KIP-633 timing
    (KStreamKStreamJoinProcessor.cs:51-66): a left record with no match
    emits its null-padded row in ITS OWN microbatch, and the match arriving
    a later batch emits the joined row IN ADDITION (the spurious outer
    result KIP-633 later made suppressible) — while the inner join emits
    matches only.  Also: resuming a populated state_dir without the
    original checkpoint is refused."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_engine import JoinWindowOptions
    from pyspark_engine.streaming import StreamingBuilder, join_windowed_eager

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, s)

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    schema_l = "key string, v2 string, lts timestamp"
    schema_r = "key string, v1 string, rts timestamp"
    _write_source_file(spark, [("test", "coucou", t(0))], schema_l, lsrc, 0)
    # right side gets its matching record only in a LATER generation
    _write_source_file(spark, [("other", "x", t(1))], schema_r, rsrc, 0)
    _write_source_file(spark, [("test", "test", t(2))], schema_r, rsrc, 1)

    sb = StreamingBuilder(spark)

    def sides():
        return (
            sb.file_stream(lsrc, key="key", ts="lts", max_files_per_trigger=1),
            sb.file_stream(rsrc, key="key", ts="rts", max_files_per_trigger=1),
        )

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    l1, r1 = sides()
    got = join_windowed_eager(
        l1, r1, JoinWindowOptions.of(10_000), how="left",
        state_dir=state, checkpoint=ckpt,
    )
    rows = sorted(
        ((r["key"], r["v2"], r["v1"]) for r in got.collect()), key=lambda x: (x[0], str(x[2]))
    )
    # eager null-padding when the window was empty AND the later real match
    assert rows == [("test", "coucou", None), ("test", "coucou", "test")]

    l2, r2 = sides()
    with _pytest.raises(ValueError, match="checkpoint"):
        join_windowed_eager(l2, r2, JoinWindowOptions.of(10_000), how="left", state_dir=state)

    # inner join over the same data: the match only
    l3, r3 = sides()
    got_i = join_windowed_eager(l3, r3, JoinWindowOptions.of(10_000), how="inner")
    assert [(r["key"], r["v2"], r["v1"]) for r in got_i.collect()] == [("test", "coucou", "test")]


@pytest.mark.parametrize("engine", ["tws", "exact"])
def test_suppress_value_type_matrix(spark, tmp_path, engine):
    """r10 verdict item 5: extend the exact-value round-trip matrix beyond
    bigint — decimal(38,2) and microsecond-precision timestamp VALUE columns
    (including a pre-epoch timestamp VALUE, legal anywhere except the event-
    time column) ride the same Arrow state path as the tunneled integrals,
    with real nulls in the same keys' column slices.  Values, nulls, and
    dtypes must round-trip exactly through BOTH suppress engines."""
    import datetime as dt
    from decimal import Decimal

    from pyspark_engine.streaming import suppress_buffered

    big = (1 << 53) + 1
    big_dec = Decimal("123456789012345678901234567890123456.78")  # 38 digits
    pre_epoch = dt.datetime(1969, 7, 20, 20, 17, 0, 123456)
    us_edge = dt.datetime(2024, 6, 1, 0, 0, 0, 999999)

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 10, m, s)

    schema = "k string, vb bigint, vd decimal(38,2), vt timestamp, ts timestamp"
    src = str(tmp_path / "src")
    _write_source_file(
        spark,
        [
            ("a", big, big_dec, pre_epoch, t(0)),
            ("b", None, None, None, t(0, 10)),
            # e mixes NULLs and extremes in the SAME key's Arrow slices
            ("e", None, None, None, t(0, 30)),
            ("e", -big, Decimal("-1.23"), us_edge, t(0, 40)),
        ],
        schema,
        src,
        0,
    )
    _write_source_file(spark, [("z", 1, Decimal("1.00"), t(3), t(3))], schema, src, 1)

    sb = StreamingBuilder(spark)
    tbl = (
        sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
        .to_table()
        .suppress(until_time_limit_ms=60_000)
    )
    got = suppress_buffered(tbl, time_col="ts", engine=engine)
    d = dict(got.dtypes)
    assert (d["vb"], d["vd"], d["vt"]) == ("bigint", "decimal(38,2)", "timestamp")
    # the emission metadata types match the empty result's and the engines'
    assert (d["__emit_reason"], d["__emit_batch"]) == ("string", "bigint")
    rows = {r["k"]: r for r in got.collect()}
    assert set(rows) == {"a", "b", "e"}
    assert (rows["a"]["vb"], rows["a"]["vd"], rows["a"]["vt"]) == (big, big_dec, pre_epoch)
    assert (rows["b"]["vb"], rows["b"]["vd"], rows["b"]["vt"]) == (None, None, None)
    assert (rows["e"]["vb"], rows["e"]["vd"], rows["e"]["vt"]) == (
        -big,
        Decimal("-1.23"),
        us_edge,
    )


def test_stateful_map_decimal_timestamp_state_roundtrip(spark, tmp_path):
    """The raw stateful_map escape hatch: decimal and timestamp values held
    ACROSS microbatches in applyInPandasWithState state come back exactly
    (the caller-visible contract behind the suppress engines' type matrix).
    Integral columns are the caller's responsibility — the documented Arrow
    null→float64 coercion is why the suppress engines tunnel them."""
    import datetime as dt
    from decimal import Decimal

    import pandas as pd_

    from pyspark_engine.streaming import StreamingBuilder, run_available_now, stateful_map

    big_dec = Decimal("987654321098765432109876543210.12345678")
    ts_edge = dt.datetime(1969, 12, 31, 23, 59, 59, 999999)

    schema = "k string, vd decimal(38,8), vt timestamp, seq int"
    src = str(tmp_path / "src")
    _write_source_file(spark, [("a", big_dec, ts_edge, 0)], schema, src, 0)
    _write_source_file(spark, [("a", None, None, 1)], schema, src, 1)

    def fn(key, pdfs, state):
        first_d, first_t = (state.get if state.exists else (None, None))
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                if int(row["seq"]) == 0:
                    first_d, first_t = row["vd"], row["vt"].to_pydatetime()
                    state.update((first_d, first_t))
                else:
                    # second batch: emit what STATE preserved from batch 0
                    yield pd_.DataFrame(
                        [(key[0], first_d, first_t)], columns=["k", "vd", "vt"]
                    )

    sb = StreamingBuilder(spark)
    ks = sb.file_stream(src, key="k", max_files_per_trigger=1)
    out = stateful_map(
        ks.group_by_key(),
        fn,
        "k string, vd decimal(38,8), vt timestamp",
        "vd decimal(38,8), vt timestamp",
    )
    got = run_available_now(out, output_mode="update").collect()
    assert len(got) == 1
    assert got[0]["vd"] == big_dec and got[0]["vt"] == ts_edge


def test_tws_suppress_version_gate_fires_on_committed_unemitted_state(spark, tmp_path):
    """Suppress can buffer for many batches before its FIRST emission, so a
    dir from another version may hold committed state with an empty out/.
    The tws version gate must fire on committed state too — gating on
    emissions alone would stamp the dir with the current version and then
    hit Spark's opaque state-schema failure mid-drain with a permanently
    wrong stamp."""
    import datetime as dt
    import os as _os

    import pytest as _pytest

    from pyspark_engine.streaming import suppress_buffered

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    schema = "k string, v int, ts timestamp"
    src = str(tmp_path / "src")
    _write_source_file(spark, [("a", 1, t(0))], schema, src, 0)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts")
            .to_table()
            .suppress(until_time_limit_ms=10**12)  # nothing ever due
        )

    got = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")
    assert got.collect() == []  # buffered, no emissions — out/ is empty
    ver = _os.path.join(state, "_PSE_TWS_SUPPRESS_V")
    assert _os.path.exists(ver)  # stamped before the first batch ran

    # stamp absent, checkpoint committed, out/ empty
    _os.remove(ver)
    with _pytest.raises(ValueError, match="with version unknown"):
        suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")
    # the refusal must NOT have restamped the dir (it is not verifiably fresh)
    assert not _os.path.exists(ver)


def test_tws_suppress_refuses_foreign_state_version(spark, tmp_path):
    """A populated tws suppress dir whose version stamp is absent or names
    another version gets a descriptive refusal, not Spark's opaque
    state-schema error mid-drain; restoring the correct stamp resumes
    cleanly with nothing redelivered."""
    import datetime as dt
    import os as _os

    import pytest as _pytest

    from pyspark_engine.streaming import suppress_buffered

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    schema = "k string, v int, ts timestamp"
    src = str(tmp_path / "src")
    _write_source_file(spark, [("a", 1, t(0)), ("b", 1, t(0))], schema, src, 0)
    _write_source_file(spark, [("c", 1, t(2))], schema, src, 1)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=60_000)
        )

    got1 = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")
    assert sorted(r["k"] for r in got1.collect()) == ["a", "b"]
    ver = _os.path.join(state, "_PSE_TWS_SUPPRESS_V")
    assert _os.path.exists(ver)  # stamped before the first batch ran

    # populated emissions, stamp absent
    _os.remove(ver)
    with _pytest.raises(ValueError, match="with version unknown"):
        suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")

    # a mismatched future version is refused the same way
    with open(ver, "w") as f:
        f.write("99")
    with _pytest.raises(ValueError, match="with version 99"):
        suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")

    # restoring the correct stamp resumes cleanly (nothing new to deliver)
    with open(ver, "w") as f:
        f.write("1")
    got2 = suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine="tws")
    assert got2.collect() == []
