"""Suppress-buffer engine scaling evidence.

Measures the property the tws (transformWithState) engine exists for: with N
keys sitting in the buffer (none due — long limit), the cost of draining B
additional single-key microbatches should be FLAT in N for tws (the per-key
processor touches only changed/due keys) and GROW with N for the exact
engine (the parquet ping-pong rewrites the whole buffer and full-outer-joins
it against every batch).

Protocol: per (engine, N) — build the buffer with one N-key drain (untimed
warmup that also warms the JVM paths), then write B single-row generations
aside, publish them into the source at once and time the RESUMED drain from
the publish (same checkpoint + state_dir; the tws query stays resident after
the warmup), i.e. the steady per-microbatch regime.  One session, idle box.

Usage: python scripts/suppress_scale.py            # N = 20k, 100k; B = 10
       SUPPRESS_NS=1000,10000 SUPPRESS_B=5 python scripts/suppress_scale.py
       SUPPRESS_ENGINES=tws python scripts/suppress_scale.py  # default: tws,exact
Set ``SPARK_GRAFT_CPUS`` to the host's core count: ``build_session``
otherwise runs ``local[32]`` with 32 state partitions, which on a 4 vCPU
host inflates the per-batch cost several-fold.  Prints one JSON line, with
the session's effective core count (``cpus``, its ``defaultParallelism``);
merge the result into SCALE_STRESS.json (its historical ``keyed`` blocks
measured the removed pandas engine).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark_engine.runtime import build_session
from pyspark_engine.streaming import StreamingBuilder, suppress_buffered
from pyspark_engine.testing import publish_generation_files, stage_generation_file

ROOT = "/tmp/pse-suppress-scale"
BASE_TS = dt.datetime(2024, 1, 1)


def measure(spark, engine: str, n_keys: int, n_batches: int) -> dict:
    tag = f"{engine}-{n_keys}"
    root = os.path.join(ROOT, tag)
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    schema = "k string, v int, ts timestamp"

    # one N-key generation fills the buffer (limit far in the future);
    # staged by the engine's own generation-file protocol so the scale
    # evidence cannot drift from the production write path (r9 item 4)
    bulk = spark.range(n_keys).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").cast("int").alias("v"),
        F.lit(BASE_TS).cast("timestamp").alias("ts"),
    )
    stage_generation_file(bulk, src, 0)

    sb = StreamingBuilder(spark)

    def mk():
        return (
            sb.file_stream(src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=10**12)  # nothing ever due
        )

    # warmup drain: builds the N-key buffer, warms code paths
    suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine)

    # B single-key microbatches; time the resumed incremental drain.  They
    # are staged aside and published when the clock starts: a resident tws
    # query would otherwise process them while they are staged.
    pending = src + "-pending"
    for i in range(1, n_batches + 1):
        stage_generation_file(
            spark.createDataFrame([(f"extra{i}", i, BASE_TS + dt.timedelta(seconds=i))], schema),
            pending,
            i,
        )
    t0 = time.time()
    publish_generation_files(pending, src)
    suppress_buffered(mk(), time_col="ts", state_dir=state, checkpoint=ckpt, engine=engine)
    wall = time.time() - t0

    # per-batch STATE I/O — the metric the engines actually differ on (at
    # local sizes the ~1s/microbatch scheduler cost hides the asymptotics):
    #   exact: every batch rewrites the whole buffer parquet (O(N) bytes)
    #   tws:   the state store appends per-partition delta files written
    #          during the incremental drain (O(changed keys) bytes; the
    #          store's periodic snapshot files are counted too, which only
    #          biases AGAINST tws)
    if engine == "exact":
        bufs = [d for d in os.listdir(state) if d.startswith("buf-")]
        per_batch = max(
            sum(
                os.path.getsize(os.path.join(state, b, f))
                for f in os.listdir(os.path.join(state, b))
                if not f.startswith(".")
            )
            for b in bufs
        )
    else:
        new_bytes = 0
        for dirpath, _dirs, files in os.walk(os.path.join(ckpt, "state")):
            for f in files:
                fp = os.path.join(dirpath, f)
                try:
                    if os.path.getmtime(fp) >= t0:
                        new_bytes += os.path.getsize(fp)
                except OSError:
                    pass
        per_batch = new_bytes / n_batches
    out = {
        "incremental_drain_sec": round(wall, 2),
        "sec_per_batch": round(wall / n_batches, 3),
        "state_bytes_per_batch": int(per_batch),
    }
    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ns = [int(x) for x in os.environ.get("SUPPRESS_NS", "20000,100000").split(",")]
    b = int(os.environ.get("SUPPRESS_B", "10"))
    spark = build_session("suppress_scale", ui=False)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "suppress_engine_scaling",
        "cpus": spark.sparkContext.defaultParallelism,
        "batches": b,
        "buffered_keys": ns,
    }
    engines = tuple(
        e.strip() for e in os.environ.get("SUPPRESS_ENGINES", "tws,exact").split(",") if e.strip()
    )
    for engine in engines:
        out[engine] = {f"n{n}": measure(spark, engine, n, b) for n in ns}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
