"""The YCSB workloads: the streamed Aria drain (``StreamDrainState`` +
``stream_drain_step``) at its defaults, fed one parquet batch file per
trigger, in a closed loop with one client.

- ``ycsb_contended``: 2,000 keys. The table fits the existence cache, so
  no probe job runs; about ten epochs per batch and most epoch attempts
  abort. A trigger is one batch-read job plus driver-side scheduling.
- ``ycsb_large``: 1,200,000 keys, above ``key_cache_bound``. Every trigger
  runs one broadcast existence probe; about 1.3 epochs per batch.

After the measured window every executed batch, warm-up included, is
replayed through the serial oracle; schedules must match epoch by epoch
and the final table must match (whole table at 2,000 keys; row count and
every touched key at 1.2M keys).
"""

from __future__ import annotations

import gc
import glob
import math
import os
import statistics
import sys
import time
import traceback

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aria_oracle import drain_batch
from metrics import SETUP_REPS, op_layers, percentile, zero_layers
from spans import jvm_gc_seconds

N_KEYS = {"ycsb_contended": 2_000, "ycsb_large": 1_200_000}
# Lower bound on a trigger's latency, used only to size the batch files
# so that the window never runs out of input.
MIN_TRIGGER_S = {"ycsb_contended": 0.04, "ycsb_large": 0.12}
WARMUP_TRIGGERS = 4
# The run measures at least this many triggers; the seed-determined
# counters are taken over exactly these first triggers.
COUNTER_TRIGGERS = 8
FIELDS = [f"f{j}" for j in range(10)]
# At or below this size the whole final table is compared.
WHOLE_TABLE_CHECK = 100_000


def run_ycsb(run) -> dict:
    args = run.args
    inputs = os.path.join(run.work, "inputs")
    n_files = WARMUP_TRIGGERS + COUNTER_TRIGGERS + math.ceil(
        args.seconds / MIN_TRIGGER_S[args.workload]
    )
    run.log("generating inputs")
    run.generate(
        "ycsb", "--out", inputs, "--keys", str(N_KEYS[args.workload]), "--batches", str(n_files)
    )
    kv_path = os.path.join(inputs, "kv.parquet")
    files = sorted(glob.glob(os.path.join(inputs, "batches", "*.parquet")))

    from bishe_gpu_database_spark.aria.engine import StreamDrainState, stream_drain_step

    run.log("starting session")
    spark = run.start_session()
    run.log("loading inputs")
    tracer = run.tracer
    loads = []
    state = None
    for _ in range(SETUP_REPS):
        if state is not None:
            state = None
            gc.collect()
            spark._jvm.System.gc()  # lets Spark's cleaner drop the old checkpoint
        with tracer.span("aria.state_init"):
            t0 = time.perf_counter()
            state = StreamDrainState(spark.read.parquet(kv_path))
            loads.append(time.perf_counter() - t0)

    run.log("warming up")
    executed: list[tuple[str, list | None]] = []
    for f in files[:WARMUP_TRIGGERS]:
        executed.append((f, stream_drain_step(state, spark.read.parquet(f))))

    run.log("measuring")
    lat: list[float] = []
    ops: list[list] = []
    failed = committed = 0
    probes_before, probes_prefix = state.probe_jobs, 0
    gc_before = jvm_gc_seconds(spark) if tracer.enabled else 0.0
    t_start = time.perf_counter()
    t_end = t_start
    for f in files[WARMUP_TRIGGERS:]:
        if len(lat) >= COUNTER_TRIGGERS and t_end - t_start >= args.seconds:
            break
        t0 = time.perf_counter()
        try:
            with tracer.span("aria.read") as s_read:
                batch = spark.read.parquet(f)
            with tracer.span("aria.step") as s_step:
                stats = stream_drain_step(state, batch)
        except Exception:
            traceback.print_exc()
            failed += 1
            executed.append((f, None))
            t_end = time.perf_counter()
            continue
        t_end = time.perf_counter()
        lat.append(t_end - t0)
        executed.append((f, stats))
        committed += sum(e["n_committed"] for e in stats)
        ops.append([("build", s_read), ("action", s_step)])
        if len(lat) == COUNTER_TRIGGERS:
            probes_prefix = state.probe_jobs - probes_before
    window = t_end - t_start
    gc_s = jvm_gc_seconds(spark) - gc_before if tracer.enabled else 0.0
    peak_rss_mb = run.peak_rss_mb()

    run.log(f"measured {len(lat)} triggers in {window:.1f}s")
    e2e = {
        "setup_s": run.session_start_s + statistics.median(loads),
        "ops_per_s": committed / window,
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": percentile(lat, 90),
        "peak_rss_mb": peak_rss_mb,
    }
    layers = zero_layers()
    if tracer.enabled:
        tracer.attach_jobs(spark)
        layers.update(op_layers(ops, gc_s))
        prefix_ops = ops[:COUNTER_TRIGGERS]
        prefix_stats = [s for _, s in executed[WARMUP_TRIGGERS:WARMUP_TRIGGERS + COUNTER_TRIGGERS]]
        for name in ("jobs", "stages", "tasks"):
            layers[f"aria.step.{name}"] = sum(
                span.totals()[name] for parts in prefix_ops for _, span in parts
            ) / COUNTER_TRIGGERS
        epochs = [e for stats in prefix_stats for e in stats]
        layers.update(
            {
                "session.start_s": run.session_start_s,
                "engine.load_s": statistics.median(loads),
                "trace.latency_p50_s": statistics.median(lat),
                "aria.probe_jobs_per_step": probes_prefix / COUNTER_TRIGGERS,
                "aria.epochs_per_batch": len(epochs) / COUNTER_TRIGGERS,
                "aria.commit_ratio": sum(e["n_committed"] for e in epochs)
                / sum(e["n_txns"] for e in epochs),
                "aria.flush_jobs": state.flush_jobs,
                "aria.memtable_keys": len(state.delta_mem),
                "aria.cached_keys": len(state.known_exist) + len(state.known_missing),
            }
        )
    run.log("checking against the serial oracle")
    correct = failed == 0 and check(spark, state, kv_path, executed)
    return {
        "correct": correct,
        "attempted": len(lat) + failed,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
    }


def batch_rows(path: str) -> list[tuple]:
    """(tid, seq, k, is_update, values or None) rows of one batch file."""
    d = pq.read_table(path).to_pydict()
    values = list(zip(*(d[f"new_{f}"] for f in FIELDS)))
    return [
        (tid, seq, k, upd, vals if upd else None)
        for tid, seq, k, upd, vals in zip(d["tid"], d["seq"], d["k"], d["is_update"], values)
    ]


def check(spark, state, kv_path: str, executed: list) -> bool:
    """Replay every executed batch through the serial oracle and compare
    the schedules and the final table with the engine's."""
    kv = pq.read_table(kv_path)
    keys = kv.column("k").to_pylist()
    key_set = set(keys)
    whole = len(keys) <= WHOLE_TABLE_CHECK
    # At 1.2M keys the oracle holds only the keys it wrote.
    table = _rows_by_key(kv) if whole else {}
    touched: set[int] = set()
    for i, (path, stats) in enumerate(executed):
        ops = batch_rows(path)
        touched.update(o[2] for o in ops)
        expected = drain_batch(table, key_set.__contains__, ops)
        if stats != expected:
            print(f"graftbench: schedule of batch {i} differs from the oracle", file=sys.stderr)
            return False
    engine = state.table().select("k", *FIELDS)
    if whole:
        got = {r[0]: tuple(r[1:]) for r in engine.collect()}
        ok = got == table
    else:
        if engine.count() != len(keys):
            print("graftbench: final table row count differs", file=sys.stderr)
            return False
        wanted = spark.createDataFrame(pd.DataFrame({"k": sorted(touched)}))
        got = {r[0]: tuple(r[1:]) for r in engine.join(wanted, "k").collect()}
        in_touched = pc.is_in(kv.column("k"), value_set=pa.array(sorted(touched), pa.int64()))
        initial = _rows_by_key(kv.filter(in_touched))
        ok = got == {k: table.get(k, initial.get(k)) for k in touched}
    if not ok:
        print("graftbench: final table differs from the oracle", file=sys.stderr)
    return ok


def _rows_by_key(kv) -> dict:
    d = kv.to_pydict()
    return dict(zip(d["k"], zip(*(d[f] for f in FIELDS))))

