"""ktable-update: closed-loop small writes against large resident tws state.

Both sides of ``join_tables_streaming(..., engine="tws")`` start with KEYS
keys; the first join call loads them.  Then one client loops: stage a
generation of UPDATE_KEYS left-side rows (pyarrow, seeded), call the join,
which resumes the same checkpoint and state dir, and read the updated keys
back from the returned snapshot, asserting their new values.  An update's
latency runs from staging to the verified read; the first WARMUP_UPDATES
updates are checked but not timed into the median.  The final snapshot must
equal a pandas recomputation of the join.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median, phase_p50

KEYS = 20_000
UPDATE_KEYS = 100
WARMUP_UPDATES = 1  # the first update after the load is still warming up
MIN_UPDATES = 4
L_SCHEMA = "k long, lv long, lo long"
R_SCHEMA = "rk long, rv long, ro long"


def _put(d: str, gen: int, table: pa.Table) -> None:
    name = f"g{gen:05d}.parquet"
    tmp = os.path.join(d, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(d, name))


def stage(ctx, rep_dir: str) -> dict:
    rng = np.random.default_rng(ctx.seed)
    left, right = os.path.join(rep_dir, "left"), os.path.join(rep_dir, "right")
    os.makedirs(left)
    os.makedirs(right)
    k = np.arange(KEYS, dtype=np.int64)
    lv = rng.integers(0, 1 << 40, KEYS)
    rv = rng.integers(0, 1 << 40, KEYS)
    zero = np.zeros(KEYS, dtype=np.int64)
    _put(left, 0, pa.table({"k": k, "lv": lv, "lo": zero}))
    _put(right, 0, pa.table({"rk": k, "rv": rv, "ro": zero}))
    return {"root": rep_dir, "left": left, "right": right, "lv": lv, "rv": rv, "rng": rng}


def _tree_files(*dirs) -> dict[str, int]:
    out = {}
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def measure(ctx) -> dict:
    from pyspark.sql import functions as F

    from pyspark_engine.streaming import StreamingBuilder, join_tables_streaming

    spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
    sb = StreamingBuilder(spark)
    state_dir = os.path.join(inp["root"], "state")
    ckpt = os.path.join(inp["root"], "ckpt")
    lv, rv, rng = inp["lv"].copy(), inp["rv"], inp["rng"]

    def join():
        with tr.span("dsl.build"):
            left = sb.file_stream(inp["left"], key="k", schema=L_SCHEMA)
            right = sb.file_stream(inp["right"], key="rk", schema=R_SCHEMA)
        return join_tables_streaming(
            left, right, how="inner", l_order=("lo",), r_order=("ro",),
            engine="tws", state_dir=state_dir, checkpoint=ckpt,
        )

    with tr.span("tws.load") as ld:
        snap = join()
        loaded = snap.count()
    attempted, failed = 1, int(loaded != KEYS)

    lat, calls, reads, jobs, written = [], [], [], [], []
    t_loop = time.perf_counter()
    gen = 0
    while gen < MIN_UPDATES or time.perf_counter() - t_loop < ctx.seconds:
        gen += 1
        keys = rng.choice(KEYS, UPDATE_KEYS, replace=False).astype(np.int64)
        vals = rng.integers(0, 1 << 40, UPDATE_KEYS)
        lv[keys] = vals
        files_before = _tree_files(state_dir, ckpt) if ctx.trace else {}
        job_before = ctx.probe.last_job_id() if ctx.probe is not None else 0
        with tr.span("ktable.update", gen=gen) as up:
            _put(inp["left"], gen, pa.table({
                "k": keys, "lv": vals, "lo": np.full(UPDATE_KEYS, gen, dtype=np.int64),
            }))
            with tr.span("tws.call") as c:
                snap = join()
            with tr.span("tws.read") as r:
                got = {
                    row["k"]: (row["lv"], row["rv"])
                    for row in snap.filter(F.col("k").isin([int(x) for x in keys]))
                    .select("k", "lv", "rv").collect()
                }
        attempted += 1
        want = {int(k_): (int(v), int(rv[k_])) for k_, v in zip(keys, vals)}
        failed += int(got != want)
        lat.append(up.dur)
        calls.append(c.dur)
        reads.append(r.dur)
        if ctx.trace:
            after = _tree_files(state_dir, ckpt)
            written.append(sum(s for p, s in after.items() if files_before.get(p) != s))
            jobs.append(len(ctx.probe.jobs_after(job_before)))

    # the final snapshot equals the join recomputed in pandas
    with tr.span("ktable.final_check"):
        final = snap.toPandas().sort_values("k").reset_index(drop=True)
        expect = pd.DataFrame({
            "k": np.arange(KEYS, dtype=np.int64), "lv": lv, "rv": rv,
        })
    attempted += 1
    failed += int(not (
        len(final) == KEYS
        and (final["k"].to_numpy() == expect["k"].to_numpy()).all()
        and (final["lv"].to_numpy() == expect["lv"].to_numpy()).all()
        and (final["rv"].to_numpy() == expect["rv"].to_numpy()).all()
    ))

    lat_p50 = median(lat[WARMUP_UPDATES:])
    layers = {
        "tws.load_s": (ld.dur, "s"),
        "tws.call_s_p50": (median(calls[WARMUP_UPDATES:]), "s"),
        "tws.read_s_p50": (median(reads[WARMUP_UPDATES:]), "s"),
    }
    if ctx.trace:
        events = ctx.listener.snapshot()
        data = [e for e in events if e["rows"] > 0]
        # the first data batch is the initial load, then the warm-up updates
        updates = data[1 + WARMUP_UPDATES:]
        layers.update({
            "tws.jobs_per_update": (median(jobs[WARMUP_UPDATES:]), "count"),
            "tws.state_bytes_per_update": (median(written[WARMUP_UPDATES:]), "B"),
            "tws.stream.addBatch_ms_p50": (phase_p50(updates, "addBatch"), "ms"),
            "tws.stream.queryPlanning_ms_p50": (phase_p50(updates, "queryPlanning"), "ms"),
            "tws.state.commit_ms_p50": (median([e["state_commit_ms"] for e in updates]), "ms"),
            "tws.state.rows_total": (data[-1]["state_rows"] if data else 0, "count"),
        })
    return {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_ms": lat_p50 * 1e3,
        "throughput_per_s": UPDATE_KEYS / lat_p50,
        "named": {
            "update_latency_p50_ms": (lat_p50 * 1e3, "ms"),
            "update_latency_samples": (len(lat) - WARMUP_UPDATES, "count"),
            "verified_keys_per_s": (UPDATE_KEYS / lat_p50, "1/s"),
            "load_s": (ld.dur, "s"),
        },
        "layers": layers,
        "detail": {"update_latency_s": lat, "call_s": calls, "read_s": reads},
    }
