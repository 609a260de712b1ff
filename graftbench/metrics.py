"""The benchmark's metric names and units, one place for every workload.

Every workload reports every metric, so that the traced and the untraced
output have one fixed shape. A per-layer count of a layer the workload
does not call reads 0. Every time metric is measured on every workload:
an "op" is the workload's unit of work, one trigger of the streamed Aria
drain (YCSB) or one pass over the query list (olap).
"""

from __future__ import annotations

import statistics

# setup_s is the session start plus the median of this many input loads.
SETUP_REPS = 3

# The olap pass, in order. q1 and the sort-merge join spend their time in
# the final action; pagerank in eager loop jobs inside the query function;
# aria_drain_final_state runs run_batch's fast path; the session stream is
# the only coverage of streaming.streams.
OLAP_QUERIES = (
    "q1_pricing_summary",
    "join_sortmerge_large",
    "graph_pagerank_3iter",
    "aria_drain_final_state",
    "stream_runtime_session",
)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    # session
    "session.start_s": "s",
    # input load: StreamDrainState construction (YCSB), table registration (olap)
    "engine.load_s": "s",
    # per op, from the spans around the benchmark's calls
    "op.build_s": "s",
    "op.action_s": "s",
    "op.job_s": "s",
    "op.driver_s": "s",
    "op.executor_run_s": "s",
    "op.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "trace.latency_p50_s": "s",
    # aria.engine, per trigger of the streamed drain
    "aria.step.jobs": "count",
    "aria.step.stages": "count",
    "aria.step.tasks": "count",
    "aria.probe_jobs_per_step": "count",
    "aria.epochs_per_batch": "count",
    "aria.commit_ratio": "ratio",
    "aria.flush_jobs": "count",
    "aria.memtable_keys": "count",
    "aria.cached_keys": "count",
    # registry + operators, per pass
    "olap.build_jobs": "count",
    "olap.action_jobs": "count",
    "olap.stages": "count",
    "olap.tasks": "count",
    "olap.shuffle_read_bytes": "B",
    "olap.shuffle_write_bytes": "B",
    "olap.spill_bytes": "B",
    **{f"olap.{q}.jobs": "count" for q in OLAP_QUERIES},
}

# Counters that depend only on the seed; they repeat exactly across runs.
DETERMINISTIC = (
    "aria.step.jobs",
    "aria.probe_jobs_per_step",
    "aria.epochs_per_batch",
    "aria.commit_ratio",
    *(f"olap.{q}.jobs" for q in OLAP_QUERIES),
)


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); a single sample is its own
    percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def zero_layers() -> dict:
    return {name: 0 for name in PER_LAYER}


def op_layers(ops: list[list], gc_s: float) -> dict:
    """Per-op averages over the traced ops. ``ops`` holds, per op, its
    (kind, span) pairs with kind "build" or "action"; the spans already
    carry their jobs. ``gc_s`` is the JVM's GC time over the window."""
    out = dict.fromkeys(
        ("op.build_s", "op.action_s", "op.job_s", "op.driver_s",
         "op.executor_run_s", "op.executor_cpu_s"),
        0.0,
    )
    for parts in ops:
        for kind, span in parts:
            covered = span.job_cover()
            totals = span.totals()
            out[f"op.{kind}_s"] += span.wall
            out["op.job_s"] += covered
            out["op.driver_s"] += span.wall - covered
            out["op.executor_run_s"] += totals["executor_run_s"]
            out["op.executor_cpu_s"] += totals["executor_cpu_s"]
    out = {k: v / len(ops) for k, v in out.items()}
    out["jvm.gc_s"] = gc_s / len(ops)
    return out
