"""The olap workload: passes over a fixed list of registered queries
(``metrics.OLAP_QUERIES``), each built by its registry function and
written to a ``noop`` sink, over seeded tables with the sf0.1 fixtures'
schemas and row counts. It bypasses the streamed Aria drain entirely.

Before the measured window one pass collects every query's rows; it warms
the JVM and the engine's fact-table re-layout, and its rows are compared
with each query's DuckDB oracle from the registry after the window.
Only whole passes are measured.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from metrics import OLAP_QUERIES, SETUP_REPS, op_layers, percentile, zero_layers
from spans import jvm_gc_seconds


def run_olap(run) -> dict:
    args = run.args
    tables = os.path.join(run.work, "tables")
    run.log("generating inputs")
    run.generate("olap", "--out", tables)

    from bishe_gpu_database_spark.registry import all_oracles, all_queries
    from bishe_gpu_database_spark.session import load_tables
    from tests.conftest import duck_con, normalize_rows

    queries, oracles = all_queries(), all_oracles()
    run.log("starting session")
    spark = run.start_session()
    tracer = run.tracer
    run.log("registering tables")
    loads = []
    for _ in range(SETUP_REPS):
        with tracer.span("session.load_tables"):
            t0 = time.perf_counter()
            load_tables(spark, tables)
            loads.append(time.perf_counter() - t0)

    run.log("warm-up pass, collecting results")
    results: dict[str, list | None] = {}
    for q in OLAP_QUERIES:
        try:
            df = queries[q](spark, tables)
            results[q] = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            traceback.print_exc()
            results[q] = None

    run.log("measuring")
    passes: list[float] = []
    ops: list[list] = []
    first_pass: dict[str, tuple] = {}
    failed = attempted = 0
    gc_before = jvm_gc_seconds(spark) if tracer.enabled else 0.0
    t_start = time.perf_counter()
    t_end = t_start
    while not passes or t_end - t_start < args.seconds:
        t0 = time.perf_counter()
        parts = []
        for q in OLAP_QUERIES:
            attempted += 1
            try:
                with tracer.span(f"olap.{q}.build") as s_build:
                    df = queries[q](spark, tables)
                with tracer.span(f"olap.{q}.action") as s_action:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            parts += [("build", s_build), ("action", s_action)]
            first_pass.setdefault(q, (s_build, s_action))
        t_end = time.perf_counter()
        passes.append(t_end - t0)
        ops.append(parts)
    window = t_end - t_start
    gc_s = jvm_gc_seconds(spark) - gc_before if tracer.enabled else 0.0
    peak_rss_mb = run.peak_rss_mb()
    run.log(f"measured {len(passes)} passes in {window:.1f}s")

    e2e = {
        "setup_s": run.session_start_s + statistics.median(loads),
        "ops_per_s": (attempted - failed) / window,
        "latency_p50_s": statistics.median(passes),
        "latency_p90_s": percentile(passes, 90),
        "peak_rss_mb": peak_rss_mb,
    }
    layers = zero_layers()
    if tracer.enabled and not failed:
        tracer.attach_jobs(spark)
        layers.update(op_layers(ops, gc_s))
        layers.update(
            {
                "session.start_s": run.session_start_s,
                "engine.load_s": statistics.median(loads),
                "trace.latency_p50_s": statistics.median(passes),
            }
        )
        # Work counters of the first measured pass.
        for q, (s_build, s_action) in first_pass.items():
            b, a = s_build.totals(), s_action.totals()
            run.log(
                f"{q}: build {s_build.wall:.3f}s ({b['jobs']} jobs), "
                f"action {s_action.wall:.3f}s ({a['jobs']} jobs)"
            )
            layers[f"olap.{q}.jobs"] = b["jobs"] + a["jobs"]
            layers["olap.build_jobs"] += b["jobs"]
            layers["olap.action_jobs"] += a["jobs"]
            for name in ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                         "spill_bytes"):
                layers[f"olap.{name}"] += b[name] + a[name]

    run.log("checking against the DuckDB oracles")
    correct = not failed
    con = duck_con(tables)
    try:
        for q in OLAP_QUERIES:
            res = con.execute(oracles[q])
            expected = normalize_rows([d[0] for d in res.description], res.fetchall())
            if results[q] != expected:
                print(f"graftbench: {q} differs from its oracle", file=sys.stderr)
                correct = False
    finally:
        con.close()
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
    }
