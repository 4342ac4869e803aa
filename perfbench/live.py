"""kstream-live: open-loop events through a Kafka-topic KStream aggregate.

CATCHUPS backlogs of Kafka-layout parquet files are staged into ``stub://``
topics before any query starts; a fresh query catches up on each in turn,
and catch-up throughput is the median over the drains after the
WARMUP_CATCHUPS first ones (the JIT is still warming up during those).
Then a generator thread appends one file per PERIOD_S at a fixed rate, on a
schedule that does not wait for the query, for WARMUP_S plus the measuring
window; latency is sampled in the window only.  Every event's value JSON
carries ``created_ms``, the time its file was due (not when it was
written), so a generator that runs late adds its lateness to the measured
latency; a run whose generator fell behind by more than a period is
invalid.

Topology: ``StreamingBuilder.kafka_stream`` (``serdes.decode_kafka``) →
``group_by_key().aggregate(cnt, sum, last_created)``, observed by an
update-mode foreachBatch sink owned by the benchmark.  Each emitted row is
one latency sample: its emission wall time minus ``last_created``.  At the
end, every key's ``cnt``/``sum`` must equal the generator's own tally and
the query must have consumed every row written; the earlier catch-up
queries are checked the same way against their backlogs.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import median, pct, phase_p50

KEYS = 10_000
CATCHUPS = 5  # independent backlogs, each drained by a fresh query
WARMUP_CATCHUPS = 2  # the first drains run while the JIT warms up and are not counted
BACKLOG = 100_000  # events per backlog
BACKLOG_FILES = 10
MAX_FILES_PER_TRIGGER = 10  # the consumer's per-batch cap
RATE = 5_000  # events per second in the live phase
PERIOD_S = 0.1
WARMUP_S = 3.0  # live seconds before latency is sampled (JIT settles)
PARTITIONS = 3
TOPIC = "events"
VALUE_SCHEMA = "v long, created_ms long"

_WIRE = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
])


class Topic:
    """Producer side of one stub topic, in pyarrow only: Kafka source
    layout, keyed partitions, per-partition offsets, one parquet file per
    append, made visible by an atomic rename."""

    def __init__(self, root: str, seed: int):
        self.dir = os.path.join(root, TOPIC)
        os.makedirs(self.dir, exist_ok=True)
        self.rng = np.random.default_rng(seed)
        self.names = pa.array([f"k{i:05d}" for i in range(KEYS)]).cast(pa.binary())
        self.next_offset = np.zeros(PARTITIONS, dtype=np.int64)
        self.files_written: list[str] = []
        self.cnt = np.zeros(KEYS, dtype=np.int64)
        self.sum = np.zeros(KEYS, dtype=np.int64)

    def append(self, n: int, created_ms: int) -> None:
        k = self.rng.integers(0, KEYS, n)
        v = self.rng.integers(0, 1000, n)
        part = (k % PARTITIONS).astype(np.int32)
        offset = np.empty(n, dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(part == p)
            offset[idx] = self.next_offset[p] + np.arange(idx.size)
            self.next_offset[p] += idx.size
        value = pc.binary_join_element_wise(
            '{"v":', pc.cast(pa.array(v), pa.string()),
            f',"created_ms":{created_ms}}}', "",
        ).cast(pa.binary())
        table = pa.Table.from_arrays([
            self.names.take(pa.array(k)),
            value,
            pa.array([TOPIC] * n, pa.string()),
            pa.array(part),
            pa.array(offset),
            pa.array(np.full(n, created_ms * 1000, dtype=np.int64)).cast(pa.timestamp("us", tz="UTC")),
            pa.array(np.zeros(n, dtype=np.int32)),
        ], schema=_WIRE)
        name = os.path.join(self.dir, f"part-{len(self.files_written):06d}.parquet")
        tmp = os.path.join(self.dir, ".tmp.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, name)
        self.files_written.append(name)
        np.add.at(self.cnt, k, 1)
        np.add.at(self.sum, k, v)

    @property
    def rows(self) -> int:
        return int(self.cnt.sum())


class Generator(threading.Thread):
    """Open loop: file i is due at start + i * PERIOD_S whatever the query
    is doing; lateness is how long after its due time a file became
    visible."""

    def __init__(self, topic: Topic, seconds: float):
        super().__init__(name="generator", daemon=True)
        self.topic = topic
        self.n_files = max(1, int(round(seconds / PERIOD_S)))
        self.per_file = int(RATE * PERIOD_S)
        self.late_ms: list[float] = []
        self.error: BaseException | None = None
        self.start_wall = 0.0

    def run(self):
        try:
            self.start_wall = time.time()
            for i in range(self.n_files):
                due = self.start_wall + i * PERIOD_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.topic.append(self.per_file, int(due * 1000))
                self.late_ms.append((time.time() - due) * 1000)
        except BaseException as e:  # noqa: BLE001 - re-raised by the main thread
            self.error = e


def stage(ctx, rep_dir: str) -> dict:
    staged_ms = int(time.time() * 1000)
    topics = []
    for i in range(CATCHUPS):
        topic = Topic(os.path.join(rep_dir, f"kafka-{i}"), ctx.seed * CATCHUPS + i)
        for _ in range(BACKLOG_FILES):
            topic.append(BACKLOG // BACKLOG_FILES, staged_ms)
        topics.append(topic)
    return {"topics": topics, "root": rep_dir}


class Sink:
    """Update-mode foreachBatch sink: keeps every key's latest aggregate and
    the latency of each emitted row.  Vectorized, so the callback holds the
    interpreter lock briefly and does not delay the generator thread."""

    def __init__(self, tracer, backlog_rows: int):
        self.tracer = tracer
        self.cnt = np.zeros(KEYS, dtype=np.int64)
        self.sum = np.zeros(KEYS, dtype=np.int64)
        self.lat_ms: list[np.ndarray] = []
        self.backlog_rows = backlog_rows
        self.caught_up = threading.Event()
        self.caught_up_wall = 0.0
        self.live_after_ms = None  # rows created at or after this are latency samples
        self.error: BaseException | None = None

    def __call__(self, batch, batch_id):
        try:
            with self.tracer.span("sink.collect", batch=batch_id):
                t = batch.toArrow()
            now = time.time()
            key = pc.cast(pc.utf8_slice_codeunits(t["key"], 1), pa.int64()).to_numpy()
            self.cnt[key] = t["cnt"].to_numpy()
            self.sum[key] = t["sum"].to_numpy()
            if self.live_after_ms is not None and t.num_rows:
                created = t["last_created"].to_numpy()
                self.lat_ms.append(now * 1000 - created[created >= self.live_after_ms])
            if not self.caught_up.is_set() and self.cnt.sum() >= self.backlog_rows:
                self.caught_up_wall = now
                self.caught_up.set()
        except BaseException as e:  # noqa: BLE001 - surfaced by the main thread
            self.error = e
            self.caught_up.set()
            raise


def measure(ctx) -> dict:
    from pyspark.sql import functions as F

    from pyspark_engine.serdes import decode_kafka
    from pyspark_engine.streaming import StreamingBuilder

    spark, tr = ctx.spark, ctx.tracer
    layers: dict = {}
    # every progress event of the run is needed for the drained check
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    attempted = failed = 0
    builds, catchups = [], []
    for i, topic in enumerate(ctx.inputs["topics"]):
        backlog_rows = topic.rows
        sink = Sink(tr, backlog_rows)
        with tr.span("dsl.build") as b:
            ks = StreamingBuilder(spark).kafka_stream(
                "stub://" + os.path.dirname(topic.dir), TOPIC, VALUE_SCHEMA,
                maxFilesPerTrigger=MAX_FILES_PER_TRIGGER,
            )
            table = ks.group_by_key().aggregate(
                cnt=F.count(F.lit(1)), sum=F.sum("v"), last_created=F.max("created_ms")
            )
        builds.append(b.dur)
        with tr.span("stream.catchup", n=i):
            start_wall = time.time()
            q = (
                table.df.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", os.path.join(ctx.inputs["root"], f"ckpt-{i}"))
                .start()
            )
            sink.caught_up.wait(timeout=120)
            if sink.error is not None:
                raise sink.error
            if not sink.caught_up.is_set():
                raise RuntimeError("the backlog was not consumed within 120 s")
        catchups.append(sink.caught_up_wall - start_wall)
        if i < CATCHUPS - 1:
            q.processAllAvailable()  # the batch commits and reports its progress
            q.stop()
            attempted += KEYS
            failed += int(((sink.cnt != topic.cnt) | (sink.sum != topic.sum)).sum())
    layers["dsl.build_s"] = (median(builds), "s")
    catchup_s = median(catchups[WARMUP_CATCHUPS:])

    # the live phase continues the last query
    gen = Generator(topic, WARMUP_S + ctx.seconds)
    with tr.span("stream.live"):
        sink.live_after_ms = int((time.time() + WARMUP_S) * 1000)
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        q.processAllAvailable()
        q.stop()
    if sink.error is not None:
        raise sink.error
    if ctx.trace:
        # decode cost alone: the backlog decoded as a batch noop write,
        # after the measured query so it does not warm it up
        from pyspark_engine.kafka_stub import WIRE_SCHEMA

        with tr.span("serdes.decode_kafka") as d:
            raw = spark.read.schema(WIRE_SCHEMA).parquet(*topic.files_written[:BACKLOG_FILES])
            decode_kafka(raw, VALUE_SCHEMA).write.format("noop").mode("overwrite").save()
        layers["serdes.decode_s"] = (d.dur, "s")

    # correctness: every key's final aggregate equals the generator's tally,
    # and the query consumed every row the topic holds
    bad_keys = int(((sink.cnt != topic.cnt) | (sink.sum != topic.sum)).sum())
    consumed = sum(p["numInputRows"] for p in q.recentProgress)
    drained = consumed == topic.rows
    attempted += KEYS + 1
    failed += bad_keys + (0 if drained else 1)

    lat = np.concatenate(sink.lat_ms) if sink.lat_ms else np.zeros(0)
    late_p99 = pct(gen.late_ms, 99)
    out = {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_ms": median(lat),
        "throughput_per_s": backlog_rows / catchup_s,
        "named": {
            "catchup_eps": (backlog_rows / catchup_s, "1/s"),
            "emit_latency_p50_ms": (median(lat), "ms"),
            "emit_latency_p90_ms": (pct(lat, 90), "ms"),
            "emit_latency_samples": (int(lat.size), "count"),
            "gen.late_ms_p99": (late_p99, "ms"),
        },
        "layers": layers,
        "detail": {
            "backlog_rows": backlog_rows,
            "catchup_s": catchups,
            "rate_eps": RATE,
            "live_rows": topic.rows - backlog_rows,
            "consumed_rows": consumed,
            "bad_keys": bad_keys,
            "batches": [
                {"id": p["batchId"], "rows": p["numInputRows"],
                 "trigger_ms": p["durationMs"].get("triggerExecution"),
                 "addBatch_ms": p["durationMs"].get("addBatch")}
                for p in q.recentProgress
            ],
        },
    }
    if late_p99 > PERIOD_S * 1000:
        out["valid"] = False
        out["invalid"] = f"generator fell behind: lateness p99 {late_p99:.1f} ms > {PERIOD_S * 1000:.0f} ms"
    layers["gen.late_ms_p99"] = (late_p99, "ms")
    layers["gen.rows"] = (topic.rows - backlog_rows, "count")
    if ctx.listener is not None:
        events = [e for e in ctx.listener.snapshot() if e["run_id"] == str(q.runId)]
        # each drain is the first batch of its query (BACKLOG_FILES fit one
        # trigger); the counted ones follow the warm-up drains
        firsts = [e for e in ctx.listener.snapshot() if e["batch"] == 0][WARMUP_CATCHUPS:]
        layers["catchup.addBatch_ms"] = (phase_p50(firsts, "addBatch"), "ms")
        live = [e for e in events if e["start_ms"] >= sink.live_after_ms and e["rows"] > 0]
        for phase in ("triggerExecution", "addBatch", "latestOffset", "walCommit",
                      "commitOffsets", "queryPlanning"):
            name = "trigger" if phase == "triggerExecution" else phase
            layers[f"stream.{name}_ms_p50"] = (phase_p50(live, phase), "ms")
        layers["stream.batches"] = (len(live), "count")
        layers["stream.rows_per_batch_p50"] = (median([e["rows"] for e in live]), "count")
        layers["state.commit_ms_p50"] = (median([e["state_commit_ms"] for e in live]), "ms")
        layers["state.rows_total"] = (events[-1]["state_rows"] if events else 0, "count")
        layers["state.memory_mb"] = (events[-1]["state_memory_b"] / 1e6 if events else 0, "MB")
    return out
