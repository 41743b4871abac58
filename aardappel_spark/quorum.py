"""Heartbeat tracking and quorum (safe watermark) computation.

Behavioral spec: the reference's internal/hb_tracker/hb_tracker.go, kept
in ONE place, ``HeartbeatTracker``:
  * AddHb keeps the newest heartbeat per (reader, partition)   (:128-194)
  * GetQuorum = min over the complete set — only when EVERY partition of
    EVERY stream has reported                                  (:196-219)
  * GetMaxHb = max over the first complete set (initial scan)  (:221-237)
  * GetQuorumAfter = quorum only if strictly greater           (:239-250)
  * findMissed = partitions with no heartbeat yet              (:62-74)
  * Commit consumes the heartbeats at-or-below the applied cut, and
    lastFullHbTime stamps a complete set of fresh ones (:33,113)
The tracker is plain driver-side Python over one row per partition, like
Structured Streaming's event-time watermark: state advanced between
triggers, no cluster job. The engine feeds it from its batch census and
keeps its highs in the commit manifest's ``hb`` list.

The quorum cut over data is STRICTLY-LESS: an event equal to the quorum
belongs to the next batch (tx_queue.go:26-33, README.md:140-143). That
cut, and the query suite's per-partition heartbeat frames, are the
DataFrame pieces below.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .types import pos, pos_lit

Position = tuple[Decimal, Decimal]


def get_quorum(
    highs: dict[tuple[int, int], Position], expected: int, after=None
) -> Position | None:
    """A2/A4 (GetQuorum, GetQuorumAfter): the min of the per-partition
    highs, None until ``expected`` partitions have reported — progress is
    hostage to the slowest partition by design (README.md:694-695) — and
    None unless strictly greater than ``after`` when given."""
    if len(highs) < expected:
        return None
    q = min(highs.values())
    if after is not None and q <= (Decimal(after[0]), Decimal(after[1])):
        return None
    return q


class HeartbeatTracker:
    """hb_tracker.go: the per-(table_id, partition) heartbeat highs, the
    partitions that heartbeated since the last quorum consumption
    (``fresh``) and the wall-clock of the last complete fresh set
    (``full_at``, lastFullHbTime). ``expected`` partitions gate the
    quorum; ``layout`` (table_id -> partition count) is the W2 guard's
    per-stream census.

    Only the highs are durable (``load``/``dump``, the manifest's ``hb``
    list). The fresh set mirrors the reference deleting consumed entries
    on Commit: its full-set test passes again only once every partition
    has produced a genuinely new heartbeat. Testing the cumulative highs
    instead would restamp on every batch forever after the first full
    set, and the guard would never fire."""

    def __init__(self, expected: int, layout: dict[int, int] | None = None):
        self.expected = expected
        self.layout = layout or {}
        self.highs: dict[tuple[int, int], Position] = {}
        self.fresh: set[tuple[int, int]] = set()
        self.full_at: float | None = None

    def load(self, hb: list) -> None:
        """The highs from a manifest's ``hb`` list (rows of table_id,
        partition, step, tx_id)."""
        self.highs = {(t, p): (Decimal(s), Decimal(x)) for t, p, s, x in hb}

    def dump(self) -> list:
        return [[t, p, str(s), str(x)] for (t, p), (s, x) in self.highs.items()]

    def add(self, census: list, now: float) -> None:
        """A1 (AddHb): fold a batch's newest heartbeat per partition
        (census rows with table_id, partition and an ``hb`` position or
        None); every partition that heartbeated is fresh, whether or not
        it advanced its high. W2: a complete fresh set stamps ``now``."""
        for r in census:
            if r.hb is None:
                continue
            k = (r.table_id, r.partition)
            self.fresh.add(k)
            cand = (r.hb.step, r.hb.tx_id)
            if k not in self.highs or cand > self.highs[k]:
                self.highs[k] = cand
        if len(self.fresh) >= self.expected:
            self.full_at = now

    def quorum(self, after=None) -> Position | None:
        return get_quorum(self.highs, self.expected, after)

    def max_hb(self) -> Position | None:
        """A3: the max over the complete set — the initial-scan sync
        point — or None until every expected partition has reported."""
        if len(self.highs) < self.expected:
            return None
        return max(self.highs.values())

    def commit(self, q: Position) -> None:
        """A quorum apply at ``q`` consumes the fresh heartbeats at-or-below
        it; partitions whose high is still above ``q`` stay fresh."""
        self.fresh = {
            k for k in self.fresh if k in self.highs and self.highs[k] > q
        }

    def missing(self, table_ids: list[int]) -> dict[int, bool]:
        """A5 (findMissed): per stream, whether fewer partitions have
        reported than its layout expects. Without a layout entry a single
        stream expects the quorum gate's count, and each of several
        streams expects 1."""
        seen: dict[int, int] = {}
        for t, _p in list(self.highs):  # the guard runs on its own thread
            seen[t] = seen.get(t, 0) + 1
        default = self.expected if len(table_ids) == 1 else 1
        return {
            t: seen.get(t, 0) < self.layout.get(t, default) for t in table_ids
        }


def latest_heartbeats(heartbeats: DataFrame) -> DataFrame:
    """A1 over a heartbeat frame: newest heartbeat per (table_id,
    partition)."""
    return heartbeats.groupBy("table_id", "partition").agg(
        F.max(pos()).alias("hb")
    )


def cut_below_quorum(
    events: DataFrame, quorum: tuple[int | Decimal, int | Decimal]
) -> DataFrame:
    """F5: exactly the events with position strictly below the quorum;
    equal positions go to the NEXT batch (README.md:140-143)."""
    return events.filter(pos() < pos_lit(quorum[0], quorum[1]))


def out_of_order_events(events: DataFrame, heartbeats: DataFrame) -> DataFrame:
    """F4/W3: changes older than their own partition's latest heartbeat —
    problem messages to route (cmd-queue / DLQ / stop).

    Broadcast the (tiny) per-partition heartbeat table so detection adds no
    shuffle to the data path (verifyStream, reader.go:150-207).
    """
    hb = F.broadcast(latest_heartbeats(heartbeats))
    return (
        events.join(hb, ["table_id", "partition"], "left")
        .filter(F.col("hb").isNotNull() & (pos() < F.col("hb")))
        .drop("hb")
    )
