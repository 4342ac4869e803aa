"""Streaming table-table join engine scaling evidence.

Measures the property the tws (transformWithState) engine exists for: with N
keys materialized in BOTH sides' join state, the cost of draining B
additional single-key update microbatches should be FLAT in N for tws (the
per-key processor touches only changed keys; the RocksDB state store
checkpoints per-batch deltas) and GROW with N for the exact engine (the
parquet ping-pong loop rewrites both full latest-per-key snapshots AND the
full joined output every microbatch).

Protocol (same shape as suppress_scale.py): per (engine, N) — load both sides
with one N-key generation each (untimed warmup drain that also warms the JVM
paths), then stage B single-key left-update generations aside, publish them
into the source at once and time the RESUMED drain from the publish (same
checkpoint + state_dir), i.e. the steady per-microbatch regime; the tws
drain's query stays resident after the warmup, so it starts on the backlog
as soon as it is published.
The per-batch I/O metric is engine-specific because the engines keep state in
different places:

  exact: bytes of the CURRENT l-/r- snapshot generations plus the joined out/
         parquet — exactly what each microbatch rewrites (O(N));
  tws:   new bytes written during the timed drain under the checkpoint's
         state store (per-batch delta files; periodic snapshot files are
         counted too, which only biases AGAINST tws) plus the
         out/sink_batch emission partitions, divided by B.

Usage: python scripts/ttjoin_scale.py             # N = 100k, 1M; B = 10
       TTJOIN_NS=1000,10000 TTJOIN_B=5 python scripts/ttjoin_scale.py
       TTJOIN_ENGINES=tws python scripts/ttjoin_scale.py   # default: tws,exact
       TTJOIN_KIND=fk / TTJOIN_KIND=asof measure the fk / as-of joins instead
Set ``SPARK_GRAFT_CPUS`` to the host's core count: ``build_session``
otherwise runs ``local[32]`` with 32 state partitions, which on a 4 vCPU
host inflates the per-batch cost several-fold.  Prints one JSON line, with
the session's effective core count (``cpus``, its ``defaultParallelism``);
merge the result into SCALE_STRESS.json (its historical ``keyed`` blocks
measured the removed pandas engine).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark_engine.runtime import build_session
from pyspark_engine.streaming import StreamingBuilder, join_tables_streaming
from pyspark_engine.testing import publish_generation_files, stage_generation_file

ROOT = "/tmp/pse-ttjoin-scale"


def _tree_bytes(path: str, newer_than: float | None = None) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            try:
                if newer_than is None or os.path.getmtime(fp) >= newer_than:
                    total += os.path.getsize(fp)
            except OSError:
                pass
    return total


def measure(spark, engine: str, n_keys: int, n_batches: int) -> dict:
    tag = f"{engine}-{n_keys}"
    root = os.path.join(ROOT, tag)
    shutil.rmtree(root, ignore_errors=True)
    lsrc, rsrc = os.path.join(root, "lsrc"), os.path.join(root, "rsrc")
    state, ckpt = os.path.join(root, "state"), os.path.join(root, "ckpt")

    # one N-key generation per side fills the join state (staged by the
    # engine's own generation-file protocol so the scale evidence cannot
    # drift from the production write path)
    stage_generation_file(
        spark.range(n_keys).select(
            F.col("id").alias("k"), F.col("id").alias("lv"), F.lit(0).cast("long").alias("lo")
        ),
        lsrc,
        0,
    )
    stage_generation_file(
        spark.range(n_keys).select(
            F.col("id").alias("rk"), F.col("id").alias("rv"), F.lit(0).cast("long").alias("ro")
        ),
        rsrc,
        0,
    )

    sb = StreamingBuilder(spark)

    def run():
        return join_tables_streaming(
            sb.file_stream(lsrc, key="k", max_files_per_trigger=1),
            sb.file_stream(rsrc, key="rk"),
            how="inner",
            l_order=("lo",),
            r_order=("ro",),
            state_dir=state,
            checkpoint=ckpt,
            engine=engine,
        )

    # warmup drain: builds the N-key join state, warms code paths
    run()

    # B single-key left updates; time the resumed incremental drain.  They
    # are staged aside and published when the clock starts: a resident tws
    # query would otherwise process them while they are staged.
    pending = lsrc + "-pending"
    for i in range(1, n_batches + 1):
        stage_generation_file(
            spark.createDataFrame([(i % n_keys, -i, i)], "k long, lv long, lo long"), pending, i
        )
    t0 = time.time()
    publish_generation_files(pending, lsrc)
    run()
    wall = time.time() - t0

    if engine == "exact":
        # _apply writes generation g's snapshots at parity g % 2
        cur = int(open(os.path.join(state, "_GEN")).read().split()[0]) % 2
        per_batch = sum(
            _tree_bytes(os.path.join(state, d))
            for d in (f"l-{cur}", f"r-{cur}", "out")
            if os.path.isdir(os.path.join(state, d))
        )
    else:
        new_state = _tree_bytes(os.path.join(ckpt, "state"), newer_than=t0)
        new_sink = _tree_bytes(os.path.join(state, "out"), newer_than=t0)
        per_batch = (new_state + new_sink) / n_batches
    out = {
        "incremental_drain_sec": round(wall, 2),
        "sec_per_batch": round(wall / n_batches, 3),
        "state_bytes_per_batch": int(per_batch),
    }
    shutil.rmtree(root, ignore_errors=True)
    return out


def measure_fk(spark, engine: str, n_keys: int, n_batches: int) -> dict:
    """Same protocol for join_fk_streaming: N left rows, each fk-pointing at
    one of N/10 right rows (fan-out 10), then B single-key left updates
    (every other one an FK FLIP — the re-subscription path).  tws =
    two-stage subscription/response state, per-batch I/O O(changed keys +
    affected subscribers); exact = full-snapshot recompute, O(N)."""
    from pyspark_engine.streaming import join_fk_streaming

    tag = f"fk-{engine}-{n_keys}"
    root = os.path.join(ROOT, tag)
    shutil.rmtree(root, ignore_errors=True)
    lsrc, rsrc = os.path.join(root, "lsrc"), os.path.join(root, "rsrc")
    state, ckpt = os.path.join(root, "state"), os.path.join(root, "ckpt")
    n_right = max(n_keys // 10, 1)

    stage_generation_file(
        spark.range(n_keys).select(
            F.col("id").alias("pk"),
            (F.col("id") % n_right).alias("fk"),
            F.col("id").alias("lv"),
            F.lit(0).cast("long").alias("lo"),
        ),
        lsrc,
        0,
    )
    stage_generation_file(
        spark.range(n_right).select(
            F.col("id").alias("rk"), F.col("id").alias("rv"), F.lit(0).cast("long").alias("ro")
        ),
        rsrc,
        0,
    )

    sb = StreamingBuilder(spark)

    def run():
        return join_fk_streaming(
            sb.file_stream(lsrc, key="pk", max_files_per_trigger=1),
            sb.file_stream(rsrc, key="rk"),
            fk="fk",
            how="inner",
            l_order=("lo",),
            r_order=("ro",),
            state_dir=state,
            checkpoint=ckpt,
            engine=engine,
        )

    run()  # warmup drain: builds the N-key join state

    pending = lsrc + "-pending"  # published when the clock starts (see measure)
    for i in range(1, n_batches + 1):
        # alternate plain updates and FK FLIPS so the subscription path runs
        stage_generation_file(
            spark.createDataFrame(
                [(i % n_keys, (i * 7) % n_right if i % 2 else (i % n_keys) % n_right, -i, i)],
                "pk long, fk long, lv long, lo long",
            ),
            pending,
            i,
        )
    t0 = time.time()
    publish_generation_files(pending, lsrc)
    run()
    wall = time.time() - t0

    if engine == "exact":
        cur = int(open(os.path.join(state, "_GEN")).read().split()[0]) % 2
        per_batch = sum(
            _tree_bytes(os.path.join(state, d))
            for d in (f"l-{cur}", f"r-{cur}", "out")
            if os.path.isdir(os.path.join(state, d))
        )
    else:
        new_state = _tree_bytes(os.path.join(ckpt, "sub", "state"), newer_than=t0) + _tree_bytes(
            os.path.join(ckpt, "join", "state"), newer_than=t0
        )
        new_sink = _tree_bytes(os.path.join(state, "sub"), newer_than=t0) + _tree_bytes(
            os.path.join(state, "out"), newer_than=t0
        )
        per_batch = (new_state + new_sink) / n_batches
    out = {
        "incremental_drain_sec": round(wall, 2),
        "sec_per_batch": round(wall / n_batches, 3),
        "state_bytes_per_batch": int(per_batch),
    }
    shutil.rmtree(root, ignore_errors=True)
    return out


def measure_asof(spark, engine: str, n_keys: int, n_batches: int) -> dict:
    """Same protocol for join_table_asof_streaming (r12 verdict task 4): an
    N-key version history (3 versions per key), then B single-record stream
    batches.  tws ships the history into per-key LIST state ONCE (warmup) —
    the timed resumed drain's per-batch cost is the batch's own lookups +
    state-store deltas, flat in N; the exact engine re-joins each batch
    against the FULL history, so its per-batch wall grows with N (its I/O
    is just the emitted rows — the growth shows in sec_per_batch)."""
    import datetime as dt

    from pyspark_engine import StreamBuilder as BatchBuilder
    from pyspark_engine.streaming import join_table_asof_streaming

    tag = f"asof-{engine}-{n_keys}"
    root = os.path.join(ROOT, tag)
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    base = dt.datetime(2024, 1, 1)

    hist = spark.range(n_keys * 3).select(
        (F.col("id") % n_keys).alias("k"),
        (F.lit(base) + (F.col("id") / n_keys).cast("int") * F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.col("id").alias("pv"),
    )
    vt = BatchBuilder(spark).versioned_table(hist, key="k", ts="ts", order=("pv",))
    stage_generation_file(
        spark.createDataFrame([(0, base + dt.timedelta(hours=9), 0)], "k long, ts timestamp, sid long"),
        src,
        0,
    )
    sb = StreamingBuilder(spark)

    def run():
        return join_table_asof_streaming(
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1),
            vt,
            how="left",
            out_dir=out_dir,
            checkpoint=ckpt,
            engine=engine,
        )

    run()  # warmup: tws ships the history into list state here

    pending = src + "-pending"  # published when the clock starts (see measure)
    for i in range(1, n_batches + 1):
        stage_generation_file(
            spark.createDataFrame(
                [(i % n_keys, base + dt.timedelta(hours=9, seconds=i), i)],
                "k long, ts timestamp, sid long",
            ),
            pending,
            i,
        )
    t0 = time.time()
    publish_generation_files(pending, src)
    run()
    wall = time.time() - t0

    if engine == "exact":
        per_batch = _tree_bytes(out_dir, newer_than=t0) / n_batches
    else:
        per_batch = (
            _tree_bytes(os.path.join(ckpt, "state"), newer_than=t0)
            + _tree_bytes(os.path.join(out_dir, "out"), newer_than=t0)
        ) / n_batches
    out = {
        "incremental_drain_sec": round(wall, 2),
        "sec_per_batch": round(wall / n_batches, 3),
        "state_bytes_per_batch": int(per_batch),
    }
    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ns = [int(x) for x in os.environ.get("TTJOIN_NS", "100000,1000000").split(",")]
    b = int(os.environ.get("TTJOIN_B", "10"))
    spark = build_session("ttjoin_scale", ui=False)
    spark.sparkContext.setLogLevel("ERROR")
    which = os.environ.get("TTJOIN_KIND", "tt")
    engines = tuple(
        e.strip() for e in os.environ.get("TTJOIN_ENGINES", "tws,exact").split(",") if e.strip()
    )
    cpus = spark.sparkContext.defaultParallelism
    if which == "fk":
        out = {"metric": "fkjoin_engine_scaling", "cpus": cpus, "batches": b, "state_keys": ns}
        for engine in engines:
            out[engine] = {f"n{n}": measure_fk(spark, engine, n, b) for n in ns}
    elif which == "asof":
        out = {"metric": "asofjoin_engine_scaling", "cpus": cpus, "batches": b, "state_keys": ns}
        for engine in engines:
            out[engine] = {f"n{n}": measure_asof(spark, engine, n, b) for n in ns}
    else:
        out = {"metric": "ttjoin_engine_scaling", "cpus": cpus, "batches": b, "state_keys": ns}
        for engine in engines:
            out[engine] = {f"n{n}": measure(spark, engine, n, b) for n in ns}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
