"""Seeded input generators for the benchmark.

Everything the program under test reads is rendered here from the seed
alone: the same seed gives byte-identical files. The generators also
keep the ground truth (every change event with its position, every
heartbeat, every document) that the reference models in ``model.py``
check the program's outputs against.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from dataclasses import dataclass, field

# -- CDC change feed ---------------------------------------------------------

PARTITIONS = 8
VALUE_COLUMNS = ("a", "b", "c")
TABLE_YDB_TYPES = {
    "id": "Int64",
    "a": "Optional<Int64>",
    "b": "Optional<Utf8>",
    "c": "Optional<Double>",
}
TABLE_DDL = "id bigint, a bigint, b string, c double"


@dataclass(frozen=True)
class Event:
    """One change: ``cols`` is None for an erase, else column -> value."""

    step: int
    partition: int
    key: int
    cols: dict | None


@dataclass
class CdcFeed:
    """Renders a changefeed of one table over ``PARTITIONS`` partitions.

    Positions are ``(step, 1)`` for changes and ``(step, 0)`` for
    heartbeats, with one fresh step per change, so positions are unique
    and increase in emission order. A key always lives on partition
    ``key % PARTITIONS``, and a heartbeat at step ``s`` follows every
    change of its partition below ``s``: the feed is never out of order.
    Offsets increase per partition across every file the feed renders.
    """

    seed: int
    rng: random.Random = field(init=False)
    step: int = 1
    offsets: list = field(default_factory=lambda: [0] * PARTITIONS)
    events: list = field(default_factory=list)
    hb_high: list = field(default_factory=lambda: [0] * PARTITIONS)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def _values(self, cols) -> dict:
        rng = self.rng
        out = {}
        for c in cols:
            if c == "a":
                out[c] = rng.randrange(-(10**12), 10**12)
            elif c == "b":
                out[c] = "s%010x" % rng.getrandbits(40)
            else:
                # a multiple of 1/64 is exact in binary: JSON round-trips it
                out[c] = rng.randrange(10**6) / 64
        return out

    def _line(self, partition: int, value: str) -> str:
        off = self.offsets[partition]
        self.offsets[partition] = off + 1
        return json.dumps({"partition": partition, "offset": off, "value": value})

    def change(self, key: int, cols: dict | None) -> str:
        ev = Event(self.step, key % PARTITIONS, key, cols)
        self.step += 1
        self.events.append(ev)
        if cols is None:
            msg = {"erase": {}, "key": [key], "ts": [ev.step, 1]}
        else:
            msg = {"update": cols, "key": [key], "ts": [ev.step, 1]}
        return self._line(ev.partition, json.dumps(msg))

    def random_change(self, key: int, erase_share: float) -> str:
        rng = self.rng
        if rng.random() < erase_share:
            return self.change(key, None)
        k = rng.randint(1, len(VALUE_COLUMNS))
        return self.change(key, self._values(rng.sample(VALUE_COLUMNS, k)))

    def heartbeats(self, partitions) -> list[str]:
        """Heartbeat every given partition at the next unused step."""
        out = []
        for p in partitions:
            self.hb_high[p] = self.step
            out.append(self._line(p, json.dumps({"resolved": [self.step, 0]})))
        self.step += 1
        return out

    def full_rows(self, keys) -> list[str]:
        return [self.change(k, self._values(VALUE_COLUMNS)) for k in keys]

    def final_quorum(self) -> tuple[int, int]:
        """The quorum once every rendered file is consumed."""
        return (min(self.hb_high), 0)


def zipf_sampler(rng: random.Random, n_keys: int, s: float):
    """Draw keys in [0, n_keys) with P(k) proportional to 1/(k+1)**s."""
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n_keys)))
    total = cum[-1]
    perm = list(range(n_keys))
    rng.shuffle(perm)  # hot keys spread over partitions, not all on key 0's
    return lambda: perm[min(bisect.bisect(cum, rng.random() * total), n_keys - 1)]


# -- documents for streaming dedup ------------------------------------------

# Fitted to the sf0.1 ``documents`` table (``corpus_stats.py`` measures
# it): 30 words drawn uniformly (the most common has 3.4% of the tokens),
# lengths uniform over 10..100 words, and 5% near-duplicates, each another
# document's text with the word "dup" appended.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
DUP_MARK = "dup"


def documents(seed: int, n_docs: int, near_dup_share: float) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) rows shaped like the sf0.1 ``documents``
    table; a ``near_dup_share`` of them copy an earlier original's text
    with ``DUP_MARK`` appended."""
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    originals: list[str] = []
    for i in range(n_docs):
        if originals and rng.random() < near_dup_share:
            text = f"{rng.choice(originals)} {DUP_MARK}"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS)))
            originals.append(text)
        docs.append((i, text))
    return docs


def replay_batches(
    seed: int, docs: list[tuple[int, str]], n_batches: int, redeliver_share: float
) -> list[list[tuple[int, str]]]:
    """Shuffle ``docs`` into ``n_batches`` micro-batches; in each batch a
    share of rows re-emit an earlier batch's text under a fresh id."""
    rng = random.Random(seed ^ 0x5DEECE66D)
    order = docs[:]
    rng.shuffle(order)
    size = -(-len(order) // n_batches)
    next_id = max(i for i, _ in docs) + 1
    seen: list[str] = []
    batches = []
    for b in range(n_batches):
        batch = order[b * size : (b + 1) * size]
        for _ in range(round(len(batch) * redeliver_share) if seen else 0):
            batch.append((next_id, rng.choice(seen)))
            next_id += 1
        rng.shuffle(batch)
        seen.extend(t for _, t in batch)
        batches.append(batch)
    return batches
