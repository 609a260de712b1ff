"""Serial Aria oracle for the YCSB workloads' output check.

Plain dictionaries and loops, independent of the engine's DataFrame and
driver-side code: per epoch, reservations are the smallest tid per key
(reads and writes separately), a transaction aborts on WAW or on RAW and
WAR together (deterministic reordering), committed writes install in tid
order with the last write (largest seq) of a transaction winning, and
aborted transactions are renumbered densely, in order, for the next epoch.
Operations on keys absent from the table are skipped.

Verdicts are recorded on the batch's original tids, in the shape the
engine's per-epoch stats use, so the two schedules compare directly.
"""

from __future__ import annotations

from collections.abc import Callable, MutableMapping


def drain_batch(
    table: MutableMapping[int, tuple],
    exists: Callable[[int], bool],
    ops: list[tuple],
    max_epochs: int = 64,
) -> list[dict]:
    """Drain one batch into ``table`` (updated in place). ``ops`` holds
    (tid, seq, k, is_update, value tuple or None) rows. Returns one stats
    dict per epoch: epoch, n_txns, n_committed, n_aborted and verdicts,
    the sorted (original tid, committed) pairs."""
    original = {tid: tid for tid in {o[0] for o in ops}}
    live = [o for o in ops if o[2] is not None and exists(o[2])]
    tids = sorted(original)
    stats = []
    for epoch in range(1, max_epochs + 1):
        if not tids:
            break
        rts: dict[int, int] = {}
        wts: dict[int, int] = {}
        for tid, _, k, upd, _ in live:
            if tid < rts.get(k, tid + 1):
                rts[k] = tid
            if upd and tid < wts.get(k, tid + 1):
                wts[k] = tid
        raw: set[int] = set()
        war: set[int] = set()
        waw: set[int] = set()
        for tid, _, k, upd, _ in live:
            w = wts.get(k)
            if w is not None and w < tid:
                raw.add(tid)
                if upd:
                    waw.add(tid)
            if upd and rts[k] < tid:
                war.add(tid)
        aborted = [t for t in tids if t in waw or (t in raw and t in war)]
        gone = set(aborted)
        for tid, _, k, upd, vals in sorted(
            (o for o in live if o[3] and o[0] not in gone), key=lambda o: (o[0], o[1])
        ):
            table[k] = vals
        stats.append(
            {
                "epoch": epoch,
                "n_txns": len(tids),
                "n_committed": len(tids) - len(aborted),
                "n_aborted": len(aborted),
                "verdicts": sorted((original[t], t not in gone) for t in tids),
            }
        )
        # Collect: dense, order-preserving renumbering of the aborted.
        renum = {old: new for new, old in enumerate(aborted, start=1)}
        original = {renum[old]: original[old] for old in aborted}
        live = [(renum[o[0]], *o[1:]) for o in live if o[0] in renum]
        tids = sorted(renum.values())
    return stats
