"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest graftbench/test_graftbench.py

The run-based tests start the benchmark through its command line (one
process per run, one-second windows) and take a few minutes in total.
"""

from __future__ import annotations

import functools
import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from aria_oracle import drain_batch  # noqa: E402
from inputs import batch_table, kv_table, olap_tables  # noqa: E402
from metrics import DETERMINISTIC, END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@functools.cache
def traced(workload: str, seed: int, attempt: int) -> dict:
    """One traced run; ``attempt`` tells same-seed runs apart."""
    return bench(workload, seed, 1)


def test_declared_metrics_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == ["ycsb_contended", "ycsb_large", "olap"]


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert batch_table(7, 3, 2_000).equals(batch_table(7, 3, 2_000))
    assert not batch_table(7, 3, 2_000).equals(batch_table(8, 3, 2_000))
    assert kv_table(7, 500).equals(kv_table(7, 500))
    assert not kv_table(7, 500).equals(kv_table(8, 500))
    a, b = olap_tables(7), olap_tables(8)
    assert a["lineitem"].equals(olap_tables(7)["lineitem"])
    assert all(not a[name].equals(b[name]) for name in a)


def test_oracle_matches_the_reference_serial_oracle():
    """The benchmark's oracle agrees with the repository's serial oracle
    (tests/serial_oracle.py) on schedules and final tables."""
    from tests.serial_oracle import Op, drain

    rng = random.Random(5)
    for _ in range(30):
        n_keys = rng.choice([5, 20, 200])
        kv = {k: (f"v{k}",) for k in range(1, n_keys + 1) if rng.random() < 0.9}
        ops = [
            (tid, seq, rng.randint(1, n_keys), upd, (f"w{tid}.{seq}",) if upd else None)
            for tid in range(1, rng.randint(1, 40))
            for seq, upd in enumerate(rng.random() < 0.4 for _ in range(rng.randint(0, 8)))
        ]
        mine = dict(kv)
        got = drain_batch(mine, kv.__contains__, ops)
        ref_kv, ref = drain(dict(kv), [Op(*o) for o in ops], reorder=True)
        assert mine == ref_kv
        assert [{k: e[k] for k in ref[0]} for e in got] == ref


def test_untraced_run_prints_end_to_end_metrics():
    out = bench("ycsb_contended", 3, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["ycsb_contended", "ycsb_large", "olap"])
def test_traced_counters_repeat_for_the_same_seed(workload):
    first, second = traced(workload, 11, 0), traced(workload, 11, 1)
    for out in (first, second):
        assert out["correct"] and out["failed"] == 0
        assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    for name in DETERMINISTIC:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    probes = first["metrics"]["aria.probe_jobs_per_step"]["value"]
    assert probes == {"ycsb_contended": 0, "ycsb_large": 1.0, "olap": 0}[workload]
