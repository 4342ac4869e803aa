"""batch-queries: driver queries built fresh and written once, oracle-checked.

Each query runs through the driver contract: ``queries()[name](spark, sf_dir)``
(the constructor, including its probe actions and persists), then one write
to the noop sink, then ``llmops.release_cache()``.  A first pass collects
every result and compares it with the query's ``oracle_sql()`` through
DuckDB, using the comparison of ``scripts/check_correctness.py``; it also
warms the JVM.  Timed passes follow, at least MIN_PASSES and until the
window is used, and each query reports the median of its passes.  The
seed fixes the query order of every pass; the corpus is the sf0.001 driver
corpus (TESTDATA.md), shipped in ``data/sf0.001``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import time
import traceback

from harness import SparkDelta, median, spark_delta

# the dsl family: plans of dsl/windows/analytics, next to no llmops time
DSL = (
    "q01_pricing_summary", "q25_window_tumbling_count", "q29_ss_join_inner",
    "q36_tt_join_inner", "q62_asof_join", "q146_sessionize",
)
# the curation family: llmops probe-then-decide gates and persisted
# intermediates; q110/q124/q149 are the aggregations ROADMAP items 1 and 4 name
CURATION = ("q110_dsir_weights", "q124_profile_columns", "q149_profile_approx")
# the rest of the 36-query surface, run by the batch-queries-full workload
DSL_FULL = DSL + (
    "q05_stream_map_values", "q16_grouped_count", "q26_window_hopping_sum",
    "q28_window_grace", "q31_ss_join_outer", "q32_st_join_inner",
    "q34_global_join_inner", "q54_topk_per_group", "q61_session_window",
    "q69_sliding_agg", "q72_composed_pipeline", "q73_percentiles",
    "q102_versioned_join", "q132_event_sequences", "q141_rate_anomaly",
    "q142_windowed_topk", "q143_funnel", "q144_cohort_retention",
    "q150_rate_anomaly_time", "q152_windowed_distinct",
)
CURATION_FULL = CURATION + (
    "q43_dedup_minhash", "q60_embedding_neardup", "q71_ann_ivf",
    "q96_tfidf_topk", "q108_repeated_spans", "q129_curation_v2",
    "q151_jaccard_exact",
)
MIN_PASSES = 1
FAMILIES = (("dsl", DSL), ("llmops", CURATION))


def _checker(root: str):
    """scripts/check_correctness.py, imported by path (it is a script, not
    a package module)."""
    path = os.path.join(root, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _corpus_stamp(sf_dir: str) -> dict:
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            data = f.read()
        out[name] = f"{len(data)}:{hashlib.sha1(data).hexdigest()[:16]}"
    return out


def stage(ctx, _rep_dir: str) -> dict:
    sf_dir = os.path.join(ctx.root, "perfbench", "data", "sf0.001")
    fams = (("dsl", DSL_FULL), ("llmops", CURATION_FULL)) if ctx.full else FAMILIES
    order = [(fam, q) for fam, qs in fams for q in qs]
    random.Random(ctx.seed).shuffle(order)
    return {"sf_dir": sf_dir, "order": order}


def measure(ctx) -> dict:
    import __spark_entry__ as entry
    from pyspark_engine import llmops

    spark, tr = ctx.spark, ctx.tracer
    sf_dir, order = ctx.inputs["sf_dir"], ctx.inputs["order"]
    cc = _checker(ctx.root)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = cc.duck_con(sf_dir)
    attempted = failed = 0
    problems: dict[str, str] = {}

    # pass 0: correctness against the DuckDB oracle (and JVM warm-up)
    with tr.span("batch.check_pass"):
        for fam, name in order:
            attempted += 1
            try:
                with tr.span("check", query=name):
                    got = qs[name](spark, sf_dir).toPandas()
                    want = con.execute(oracles[name]).df()
                mismatches = [i for i in cc.compare(name, got, want) if not i.startswith("dtype")]
            except Exception:  # noqa: BLE001 - a failing query is a counted failure
                mismatches = [traceback.format_exc(limit=3)]
            finally:
                llmops.release_cache()
            if mismatches:
                failed += 1
                problems[name] = "; ".join(mismatches)[:500]
    con.close()

    # timed passes: fresh constructor + first noop write per query
    build: dict[str, list[float]] = {q: [] for _, q in order}
    write: dict[str, list[float]] = {q: [] for _, q in order}
    spark_cost = {fam: SparkDelta() for fam, _ in FAMILIES}
    build_cost = {fam: SparkDelta() for fam, _ in FAMILIES}
    cached_b = 0
    t_start = time.perf_counter()
    passes = 0
    while True:
        t_pass = time.perf_counter()
        with tr.span("batch.pass", n=passes):
            for fam, name in order:
                attempted += 1
                try:
                    # the REST reads of spark_delta stay outside the timed spans
                    with spark_delta(ctx.probe, spark_cost[fam], build_cost[fam]), \
                            tr.span(f"{fam}.build", query=name) as b:
                        df = qs[name](spark, sf_dir)
                    with spark_delta(ctx.probe, spark_cost[fam]), \
                            tr.span(f"{fam}.write", query=name) as w:
                        df.write.format("noop").mode("overwrite").save()
                    if ctx.probe is not None and fam == "llmops":
                        cached_b += ctx.probe.cached_bytes()
                    build[name].append(b.dur)
                    write[name].append(w.dur)
                except Exception:  # noqa: BLE001
                    failed += 1
                    problems.setdefault(name, traceback.format_exc(limit=3)[:500])
                finally:
                    with tr.span("llmops.release_cache"):
                        llmops.release_cache()
        passes += 1
        elapsed, last = time.perf_counter() - t_start, time.perf_counter() - t_pass
        if passes >= MIN_PASSES and elapsed + last > ctx.seconds:
            break

    per_query = {q: median(build[q]) + median(write[q]) for _, q in order if build[q]}
    fam_wall = {
        fam: sum(per_query.get(q, 0.0) for f, q in order if f == fam) for fam, _ in FAMILIES
    }
    named = {
        "dsl_wall_s": (fam_wall["dsl"], "s"),
        "curation_wall_s": (fam_wall["llmops"], "s"),
        "query_p50_ms": (median(list(per_query.values())) * 1e3, "ms"),
    }
    layers = {}
    for fam, _ in FAMILIES:
        qset = [q for f, q in order if f == fam and build[q]]
        layers[f"{fam}.build_s"] = (sum(median(build[q]) for q in qset), "s")
        layers[f"{fam}.write_s"] = (sum(median(write[q]) for q in qset), "s")
        if ctx.trace:
            tot = spark_cost[fam]
            layers[f"{fam}.shuffle_write_mb"] = (tot.shuffle_write_b / 1e6 / passes, "MB")
            layers[f"{fam}.spill_mb"] = (tot.spill_b / 1e6 / passes, "MB")
            layers[f"{fam}.gc_s"] = (tot.gc_ms / 1e3 / passes, "s")
            layers[f"{fam}.task_skew"] = (tot.task_skew, "ratio")
            layers[f"{fam}.stages"] = (tot.stages / passes, "count")
            if fam == "llmops":
                layers["llmops.build_jobs"] = (build_cost[fam].jobs / passes, "count")
                layers["llmops.cached_mb"] = (cached_b / 1e6 / passes, "MB")
    for _, q in order:
        short = q.split("_", 1)[0]
        layers[f"{short}.build_s"] = (median(build[q]), "s")
        layers[f"{short}.write_s"] = (median(write[q]), "s")
    return {
        "attempted": attempted,
        "failed": failed,
        # the batch's time from input to every result: one pass, each query
        # at its median
        "latency_p50_ms": (fam_wall["dsl"] + fam_wall["llmops"]) * 1e3,
        "throughput_per_s": len(per_query) / (fam_wall["dsl"] + fam_wall["llmops"]),
        "named": named,
        "layers": layers,
        "detail": {
            "corpus": _corpus_stamp(sf_dir),
            "timed_passes": passes,
            "queries": {q: {"build_s": build[q], "write_s": write[q]} for _, q in order},
            "problems": problems,
        },
    }
