"""Seeded input generator for the CDC lakehouse benchmark.

A workload's inputs are two things, both written under a landing directory
and both a pure function of (workload, seed):

* ``snapshot.parquet`` — the ``customers`` table (the reference's
  ``init.sql`` schema: id, first_name, last_name, email) as it stands when
  capture starts, plus the ``lsn`` column the lakehouse sinks keep.
* ``changes/batch-NNNNN.json`` — Debezium envelopes, one JSON object per
  line, ``op`` in c/u/d, ``source.lsn`` strictly increasing across the
  whole stream, and at-least-once duplicates (an envelope delivered twice,
  back to back). Each file is one micro-batch under ``maxFilesPerTrigger=1``;
  file mtimes increase with the batch number so the file source replays
  them in commit order.

Updates and deletes only target live keys; inserts take fresh ids above the
current maximum, as a ``SERIAL`` primary key would.
"""

from __future__ import annotations

import dataclasses
import math
import os

import numpy as np

FIRST_NAMES = [
    "Ada", "Alan", "Barbara", "Brian", "Claire", "Dana", "Donald", "Edsger",
    "Frances", "Grace", "Guido", "Hedy", "Ivan", "Jean", "John", "Ken",
    "Leslie", "Linus", "Margaret", "Niklaus", "Radia", "Robin", "Shafi",
    "Sophie", "Tim", "Tony", "Ursula", "Vint", "Whitfield", "Yukihiro",
    "Zhores", "Lynn",
]
LAST_NAMES = [f"L{i:03d}" for i in range(256)]

# first lsn of the change stream; snapshot rows carry lsn = id (< LSN0)
LSN0 = 10_000_000_000
TS0_MS = 1_700_000_000_000
# the change mix of every workload
INSERT_SHARE, DELETE_SHARE = 0.10, 0.05  # the rest are updates
DUP_SHARE = 0.01  # envelopes delivered twice
HOT_FRAC = 0.10  # "hot" keys: share of the key space


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # live rows in the snapshot
    files: int  # range-clustered snapshot files
    batch: int  # envelopes per micro-batch, duplicates excluded
    # which live keys updates and deletes hit: "uniform", or "hot" (a fixed
    # HOT_FRAC range)
    keys: str
    sink: str  # "mor" | "feed"
    # a trigger's nominal wall time on a 4-core host: ``--seconds`` becomes
    # a fixed number of timed batches, so a seed always gives the same work
    trigger_s: float
    # timed batches come in whole cycles (mor: fold every cycle commits)
    cycle: int = 1
    warmup: int = 4  # untimed batches before the timed window
    readers: int = 0  # if > 0: per commit, one aggregate and this many lookups

    def timed_batches(self, seconds: float) -> int:
        cycles = max(1, math.ceil(seconds / (self.trigger_s * self.cycle)))
        return cycles * self.cycle


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mor-uniform-rw", rows=250_000, files=16, batch=5000,
                 keys="uniform", sink="mor", trigger_s=2.4, cycle=4, readers=2),
        Workload("feed-hot", rows=200_000, files=16, batch=20000,
                 keys="hot", sink="feed", trigger_s=3.0, warmup=3),
    )
}


def snapshot_table(w: Workload, seed: int):
    """The snapshot as a pyarrow table, sorted by id."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0])
    ids = np.arange(1, w.rows + 1, dtype=np.int64)
    fn = rng.integers(0, len(FIRST_NAMES), w.rows)
    ln = rng.integers(0, len(LAST_NAMES), w.rows)
    first = np.asarray(FIRST_NAMES, dtype=object)[fn]
    last = np.asarray(LAST_NAMES, dtype=object)[ln]
    email = [f"{f.lower()}.{l.lower()}.{i}@example.com" for f, l, i in zip(first, last, ids.tolist())]
    return pa.table(
        {
            "id": ids,
            "lsn": ids,
            "first_name": pa.array(first, pa.string()),
            "last_name": pa.array(last, pa.string()),
            "email": pa.array(email, pa.string()),
        }
    )


def _envelope(op: str, key: int, lsn: int, first: str | None, last: str | None) -> str:
    ts = TS0_MS + (lsn - LSN0) // 8
    if op == "d":
        after = "null"
    else:
        email = f"{first.lower()}.{last.lower()}.{key}@example.com"
        after = (
            f'{{"id":{key},"first_name":"{first}","last_name":"{last}",'
            f'"email":"{email}"}}'
        )
    before = "null" if op == "c" else f'{{"id":{key}}}'
    return (
        f'{{"before":{before},"after":{after},"source":{{"version":"2.4.0.Final",'
        f'"connector":"postgresql","name":"cdctest","ts_ms":{ts},"snapshot":"false",'
        f'"db":"cdctest","sequence":"[null,\\"{lsn}\\"]","schema":"public",'
        f'"table":"customers","txId":{lsn},"lsn":{lsn},"xmin":null}},'
        f'"op":"{op}","ts_ms":{ts + 120}}}'
    )


def change_batches(w: Workload, seed: int, batches: int):
    """Yield each batch's envelope lines (a list of str), in commit order.
    The first k batches are the same whatever ``batches`` is."""
    rng = np.random.default_rng([seed, 1])
    alive = np.zeros(w.rows + batches * w.batch + 1, dtype=bool)
    alive[1 : w.rows + 1] = True
    next_id = w.rows + 1
    lsn = LSN0
    span = w.rows  # keys are drawn from the snapshot's id range
    hot = int(span * HOT_FRAC)
    # the hot range sits at a fixed place, so every seed has the same file
    # layout and the same rewrite pattern; the seed picks keys and values
    hot_lo = 1 + (span - hot) // 2
    for _ in range(batches):
        n = w.batch
        kind = rng.random(n)
        fn = rng.integers(0, len(FIRST_NAMES), n)
        ln = rng.integers(0, len(LAST_NAMES), n)
        dup = rng.random(n) < DUP_SHARE
        if w.keys == "hot":
            draws = rng.integers(hot_lo, hot_lo + hot, 4 * n)
        else:
            draws = rng.integers(1, span + 1, 4 * n)
        draws = draws.tolist()
        di = 0
        lines = []
        for i in range(n):
            k = kind[i]
            if k < INSERT_SHARE:
                op, key = "c", next_id
                next_id += 1
            else:
                # the next drawn key that is still live; a run of dead draws
                # (rare: 5% deletes) falls back to an insert
                key = 0
                while di < len(draws):
                    cand = draws[di]
                    di += 1
                    if alive[cand]:
                        key = cand
                        break
                if key == 0:
                    op, key = "c", next_id
                    next_id += 1
                else:
                    op = "d" if k >= 1.0 - DELETE_SHARE else "u"
            alive[key] = op != "d"
            lsn += 1
            line = _envelope(op, key, lsn, FIRST_NAMES[fn[i]], LAST_NAMES[ln[i]])
            lines.append(line)
            if dup[i]:
                lines.append(line)  # at-least-once redelivery
        yield lines


def write_inputs(w: Workload, seed: int, batches: int, landing: str):
    """Write the snapshot and ``batches`` change batches under ``landing``.

    Returns (snapshot path, change file paths in commit order, envelopes
    per file)."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(landing, "changes"), exist_ok=True)
    snap = os.path.join(landing, "snapshot.parquet")
    pq.write_table(snapshot_table(w, seed), snap)
    files, counts = [], []
    t0 = 1_600_000_000
    for b, lines in enumerate(change_batches(w, seed, batches)):
        path = os.path.join(landing, "changes", f"batch-{b:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.utime(path, (t0 + b, t0 + b))
        files.append(path)
        counts.append(len(lines))
    return snap, files, counts
