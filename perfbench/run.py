"""Repo benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  The last stdout line is the result
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it carries the workload's own metric names
(see README.md), the box state and, for a traced run, the tracing overhead.
Run records and span files are kept under ``.perfbench/results``; the
transient inputs, checkpoints and Spark scratch space under
``.perfbench/run-<pid>`` are removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shlex
import shutil
import sys
import time

from harness import RssSampler, SparkProbe, Tracer, median, progress_listener

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch-queries", "kstream-live", "ktable-update", "batch-queries-full")
SETUP_REPS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str, cpus: int) -> None:
    """Everything the run writes stays under ``work``; Python workers find
    ``pyspark_engine`` through PYTHONPATH wherever the command is run from."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed 2 GB driver heap: with a growable one, peak RSS follows when G1
    # happens to expand it (README.md, "Metrics")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no JVM writes an hsperfdata file to the system temp dir; the launcher
    # JVM that spark-submit starts first takes its own options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _box() -> dict:
    """Load average, usable cores and the CPU time counters (jiffies; steal
    is time the hypervisor gave to other guests)."""
    with open("/proc/loadavg") as f:
        load = f.read().split()
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {
        "loadavg": [float(x) for x in load[:3]],
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_total": sum(cpu),
        "cpu_steal": cpu[7],
    }


class Ctx:
    """What a workload gets: its seed and measuring window, a scratch dir,
    the tracer, and (once set up) the session and the REST probe."""

    def __init__(self, args, work, cpus, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.full = args.workload == "batch-queries-full"
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.root = ROOT
        self.spark = None
        self.probe = None
        self.listener = None


def _stop_jvm() -> None:
    """Stop the session, then the py4j gateway JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _set_up(ctx, mod) -> tuple[list[float], list[float]]:
    """Set the workload up SETUP_REPS times (session build + input staging),
    keeping the last; the first build also launches the JVM."""
    from pyspark_engine.runtime import build_session

    totals, builds = [], []
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        with ctx.tracer.span("setup", rep=rep) as sp:
            with ctx.tracer.span("runtime.build_session") as b:
                ctx.spark = build_session(
                    "perfbench", cpus=ctx.cpus, shuffle_partitions=ctx.cpus, ui=ctx.trace
                )
            ctx.inputs = mod.stage(ctx, os.path.join(ctx.work, f"inputs-{rep}"))
        totals.append(sp.dur)
        builds.append(b.dur)
    return totals, builds


def _last_untraced(results: str, workload: str) -> dict | None:
    recs = []
    for p in glob.glob(os.path.join(results, f"{workload}-*-trace0.json")):
        try:
            with open(p) as f:
                recs.append(json.load(f))
        except (OSError, ValueError):
            continue
    recs = [r for r in recs if r.get("correct")]
    return max(recs, key=lambda r: r["finished_unix"]) if recs else None


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "pyspark_engine")):
        print(f"perfbench: no pyspark_engine package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    _prepare_env(work, cpus)
    mod = importlib.import_module(
        {"kstream-live": "live", "ktable-update": "ktable"}.get(args.workload, "batch")
    )
    tag = f"{args.workload}-seed{args.seed}-{os.getpid()}-trace{args.trace}"
    tracer = Tracer(bool(args.trace), tag)
    ctx = Ctx(args, work, cpus, tracer)
    box_before = _box()
    try:
        with RssSampler() as rss:
            setups, builds = _set_up(ctx, mod)
            if ctx.trace:
                ctx.probe = SparkProbe(ctx.spark)
                ctx.listener = progress_listener()
                ctx.spark.streams.addListener(ctx.listener)
            out = mod.measure(ctx)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if not out.get("valid", True):
        print(json.dumps({"workload": args.workload, "invalid": out["invalid"]}))
        print(f"perfbench: run invalid: {out['invalid']}", file=sys.stderr)
        return 3
    box_after = _box()
    e2e = {
        "setup_s": (median(setups), "s"),
        "latency_p50_ms": (out["latency_p50_ms"], "ms"),
        "throughput_per_s": (out["throughput_per_s"], "1/s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
    }
    layers = {"runtime.build_session_s": (median(builds), "s"), **out["layers"]}
    named = {
        "setup_s": e2e["setup_s"],
        "failed_ratio": (out["failed"] / out["attempted"], "ratio"),
        "peak_rss_mb": e2e["peak_rss_mb"],
        **out["named"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "box_before": box_before,
        "box_after": box_after,
        "steal_share": (box_after["cpu_steal"] - box_before["cpu_steal"])
        / max(1, box_after["cpu_total"] - box_before["cpu_total"]),
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "setup_reps_s": setups,
        "peak_rss_parts_mb": {k: v / 1e6 for k, v in rss.parts.items()},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "detail": out.get("detail", {}),
        "finished_unix": time.time(),
    }
    if ctx.trace:
        spans = os.path.join(results, f"{tag}-spans.json")
        tracer.write(spans)
        record["span_file"] = os.path.relpath(spans, ROOT)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        ref = _last_untraced(results, args.workload)
        if ref is not None:
            # traced minus untraced end-to-end figures, against the newest
            # untraced record of the same workload
            record["trace_overhead"] = {
                k: {"untraced": ref["end_to_end"][k]["value"], "traced": v,
                    "diff": v - ref["end_to_end"][k]["value"],
                    "ratio": v / ref["end_to_end"][k]["value"]}
                for k, (v, _) in e2e.items()
                if ref["end_to_end"].get(k, {}).get("value")
            }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "box_before", "steal_share", "named", *(["trace_overhead", "span_file"] if ctx.trace else [])
    ) if k in record}))
    # the result carries exactly the metrics BENCHMARK.json lists; a layer
    # the workload bypasses measures 0
    listed = _spec()["per_layer" if ctx.trace else "end_to_end"]
    have = layers if ctx.trace else e2e
    print(json.dumps({
        "correct": record["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {m["name"]: {"value": have.get(m["name"], (0, m["unit"]))[0], "unit": m["unit"]}
                    for m in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
