"""Pure-Python reference models and the statistics the benchmark reports.

The CDC model compacts PER APPLIED BATCH, as the engine does: within one
batch the changes of a key collapse to one mutation, and an update that
follows an erase in the same batch is applied as an upsert that keeps
the destination's absent columns. A naive last-write-wins model over
the whole stream disagrees with the engine on exactly those keys.
"""

from __future__ import annotations

import bisect
import hashlib
import math


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def apply_times(positions, batch_ends):
    """For each event position, the end time of the first batch whose
    committed quorum is strictly above it (the quorum cut is
    strictly-less), or None if no batch applied it.

    ``batch_ends`` is ``[(end_time, committed_position), ...]`` in batch
    order; committed positions never decrease."""
    ends = sorted(batch_ends, key=lambda b: b[0])
    quorums = [q for _, q in ends]
    out = []
    for p in positions:
        i = bisect.bisect_right(quorums, p)
        out.append(ends[i][0] if i < len(ends) else None)
    return out


def lags(due_times, positions, batch_ends) -> list[float | None]:
    """Per-event lag: from the event's due time on the schedule to the
    return of the batch that applied it (None = never applied)."""
    return [
        None if t is None else t - d
        for d, t in zip(due_times, apply_times(positions, batch_ends))
    ]


def batch_of(events, quorums) -> list[list]:
    """Split ``events`` (ordered by step) into the applied batches cut at
    the committed ``quorums`` (ascending step values); events at or
    above the last quorum stay pending and are not returned."""
    out: list[list] = [[] for _ in quorums]
    for ev in events:
        i = bisect.bisect_right(quorums, ev.step)
        if i < len(quorums):
            out[i].append(ev)
    return out


def apply_cdc(table: dict, batches) -> dict:
    """Apply change batches to ``table`` (key -> {col: value}) in place."""
    for batch in batches:
        per_key: dict = {}
        for ev in batch:  # changes in position order
            if ev.cols is None:
                per_key[ev.key] = None  # erase resets the accumulated columns
            else:
                acc = per_key.get(ev.key)
                per_key[ev.key] = {**(acc or {}), **ev.cols}
        for key, cols in per_key.items():
            if cols is None:
                table.pop(key, None)
            else:
                table[key] = {**table.get(key, {}), **cols}
    return table


def diff_tables(expected: dict, actual: dict, columns) -> int:
    """Number of keys whose row differs (missing, extra or other values)."""
    bad = 0
    for key in expected.keys() | actual.keys():
        e, a = expected.get(key), actual.get(key)
        if e is None or a is None:
            bad += 1
        elif any(e.get(c) != a.get(c) for c in columns):
            bad += 1
    return bad


def exact_survivors(batches) -> set[int]:
    """First-id-wins md5 dedup over a replay: a document survives when
    no earlier batch held its text and no smaller id in its own batch."""
    seen: set[str] = set()
    out = set()
    for batch in batches:
        for doc_id, text in sorted(batch):
            fp = hashlib.md5(text.encode()).hexdigest()
            if fp not in seen:
                seen.add(fp)
                out.add(doc_id)
    return out
