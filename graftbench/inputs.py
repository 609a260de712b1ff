"""Seeded input generator for the benchmark.

Runs as its own process (``python3 graftbench/inputs.py ...``) so that its
memory never counts towards the benchmark driver's peak RSS. Every draw
comes from ``numpy.random.default_rng((seed, stream))``: the same seed
writes the same bytes, and the engine only ever sees these files.

- ``ycsb``: the keyed table ``kv.parquet`` (k, f0..f9: 10 printable
  characters each, the reference's ``char[10][10]`` value) and one parquet
  file per transaction batch under ``batches/`` (tid, seq, k, is_update,
  new_f0..new_f9). A batch has 150 transactions of U(0, 30) operations,
  40% writes, keys uniform over the table: the reference generator's shape.
- ``olap``: the tables the listed registry queries read, with the sf0.1
  fixtures' schemas and row counts.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_VALUE_FIELDS = 10
VALUE_WIDTH = 10
TXNS_PER_BATCH = 150
MAX_OPS_PER_TXN = 30
WRITE_SHARE = 0.4

# Row counts of the sf0.1 fixtures.
N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500

def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng((seed, stream))


def random_strings(
    rng: np.random.Generator, n: int, valid: np.ndarray | None = None
) -> pa.StringArray:
    """``n`` strings of VALUE_WIDTH printable ASCII characters (33-126);
    rows where ``valid`` is False are NULL."""
    if valid is None:
        valid = np.ones(n, dtype=bool)
    lengths = np.where(valid, VALUE_WIDTH, 0).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(33, 127, int(offsets[-1]), dtype=np.uint8)
    bitmap = np.packbits(valid, bitorder="little")
    return pa.StringArray.from_buffers(
        n,
        pa.py_buffer(offsets),
        pa.py_buffer(data),
        pa.py_buffer(bitmap),
        null_count=int(n - valid.sum()),
    )


def kv_table(seed: int, n_keys: int) -> pa.Table:
    rng = rng_for(seed, 1)
    cols = {"k": pa.array(np.arange(1, n_keys + 1, dtype=np.int64))}
    for j in range(N_VALUE_FIELDS):
        cols[f"f{j}"] = random_strings(rng, n_keys)
    return pa.table(cols)


def batch_table(seed: int, index: int, n_keys: int) -> pa.Table:
    rng = rng_for(seed, 1000 + index)
    n_ops = rng.integers(0, MAX_OPS_PER_TXN + 1, TXNS_PER_BATCH)
    total = int(n_ops.sum())
    tid = np.repeat(np.arange(1, TXNS_PER_BATCH + 1, dtype=np.int64), n_ops)
    starts = np.repeat(np.cumsum(n_ops) - n_ops, n_ops)
    seq = (np.arange(total) - starts).astype(np.int32)
    is_update = rng.random(total) < WRITE_SHARE
    cols = {
        "tid": pa.array(tid),
        "seq": pa.array(seq),
        "k": pa.array(rng.integers(1, n_keys + 1, total, dtype=np.int64)),
        "is_update": pa.array(is_update),
    }
    for j in range(N_VALUE_FIELDS):
        cols[f"new_f{j}"] = random_strings(rng, total, is_update)
    return pa.table(cols)


def write_ycsb(out: str, seed: int, n_keys: int, n_batches: int) -> None:
    # Random printable values do not compress; plain encoding keeps the
    # write and the engine's scan of the table cheap.
    pq.write_table(
        kv_table(seed, n_keys),
        os.path.join(out, "kv.parquet"),
        compression="none",
        use_dictionary=False,
    )
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir, exist_ok=True)
    for i in range(n_batches):
        pq.write_table(batch_table(seed, i, n_keys), os.path.join(bdir, f"b{i:05d}.parquet"))


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array((days * 86_400_000_000).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, choices) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def olap_tables(seed: int) -> dict[str, pa.Table]:
    rng = rng_for(seed, 2)
    n = N_LINEITEM
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
            "l_returnflag": _pick(rng, n, ["A", "N", "R"]),
            "l_linestatus": _pick(rng, n, ["O", "F"]),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = N_ORDERS
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, n, ["O", "P", "F"]),
            "o_totalprice": pa.array(_money(rng, n, 1_000.0, 500_000.0)),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ),
        }
    )
    n = N_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array((start + np.cumsum(gaps)).astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": _pick(rng, n, ["view", "click", "signup", "purchase", "error"]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "events": events,
    }


def write_olap(out: str, seed: int) -> None:
    for name, table in olap_tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("kind", choices=["ycsb", "olap"])
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--keys", type=int, default=2_000)
    p.add_argument("--batches", type=int, default=0)
    a = p.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "ycsb":
        write_ycsb(a.out, a.seed, a.keys, a.batches)
    else:
        write_olap(a.out, a.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
