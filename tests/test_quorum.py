"""Quorum/heartbeat tests — scenarios from the reference's
tests/hb_tracker/hb_tracker_test.go:10-88 and
internal/tx_queue/tx_queue_test.go:68-107 (FIXTURES.md §4).

``HeartbeatTracker`` is plain Python: its tests need no Spark session.
The property test checks it against a brute-force model of the
reference tracker over random heartbeat/commit sequences."""

from decimal import Decimal
from types import SimpleNamespace

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    StructField,
    StructType,
)

from aardappel_spark.quorum import (
    HeartbeatTracker,
    cut_below_quorum,
    latest_heartbeats,
    out_of_order_events,
)
from aardappel_spark.types import CDC_EVENT_SCHEMA

HB_SCHEMA = StructType(
    [
        StructField("table_id", IntegerType()),
        StructField("partition", IntegerType()),
        StructField("step", DecimalType(20, 0)),
        StructField("tx_id", DecimalType(20, 0)),
    ]
)

# layout from hb_tracker_test.go:10-20 — streams {1,1,2} partitions => 4 units
LAYOUT = {0: 1, 1: 1, 2: 2}


def hb(table_id, partition, step, tx_id=0):
    return (table_id, partition, Decimal(step), Decimal(tx_id))


def hbdf(spark, rows):
    return spark.createDataFrame(rows, HB_SCHEMA)


def census(rows):
    """Batch census rows as the engine collects them: one per partition,
    its newest heartbeat position."""
    newest = {}
    for t, p, step, tx in rows:
        k = (t, p)
        newest[k] = max(newest.get(k, (step, tx)), (step, tx))
    return [
        SimpleNamespace(
            table_id=t, partition=p, hb=SimpleNamespace(step=s, tx_id=x)
        )
        for (t, p), (s, x) in newest.items()
    ]


def tracker(rows, expected=4, layout=None):
    tr = HeartbeatTracker(expected, layout)
    tr.add(census(rows), now=0.0)
    return tr


def test_no_quorum_until_all_partitions_report():
    # hb_tracker_test.go: readiness requires every partition
    rows = [hb(0, 0, 6), hb(1, 0, 7), hb(2, 0, 4)]  # 2/1 missing
    assert tracker(rows).quorum() is None


def test_quorum_is_min_over_latest():
    # steps {6,7,4,5} -> quorum 4
    rows = [
        hb(0, 0, 2),
        hb(0, 0, 6),  # newer supersedes
        hb(1, 0, 7),
        hb(2, 0, 4),
        hb(2, 1, 5),
    ]
    assert tracker(rows).quorum() == (Decimal(4), Decimal(0))
    # a later, older heartbeat does not regress a partition's high
    tr = tracker(rows)
    tr.add(census([hb(0, 0, 1)]), now=1.0)
    assert tr.highs[(0, 0)] == (Decimal(6), Decimal(0))


def test_latest_heartbeat_per_partition(spark):
    rows = [hb(0, 0, 2), hb(0, 0, 6), hb(0, 0, 3)]  # regress ignored via max
    [r] = latest_heartbeats(hbdf(spark, rows)).collect()
    assert r.hb.step == Decimal(6)


def test_max_hb_initial_scan():
    rows = [hb(0, 0, 6), hb(1, 0, 7), hb(2, 0, 4), hb(2, 1, 5)]
    assert tracker(rows).max_hb() == (Decimal(7), Decimal(0))
    # the sync point needs the complete set
    assert tracker(rows[:3]).max_hb() is None


def test_quorum_after():
    tr = tracker([hb(0, 0, 6), hb(1, 0, 7), hb(2, 0, 4), hb(2, 1, 5)])
    assert tr.quorum(after=(4, 0)) is None  # equal -> not after
    assert tr.quorum(after=(3, 9)) == (Decimal(4), Decimal(0))


def test_missing_partition_census():
    tr = tracker([hb(0, 0, 6), hb(2, 0, 4)], layout=LAYOUT)
    assert tr.missing([0, 1, 2]) == {0: False, 1: True, 2: True}
    # no layout: one stream expects the quorum gate's count, several
    # streams one partition each
    assert tracker([hb(0, 0, 6)], expected=2).missing([0]) == {0: True}
    assert tracker([hb(0, 0, 6)], expected=2).missing([0, 1]) == {
        0: False, 1: True,
    }


def test_manifest_round_trip():
    """The highs are what the manifest's ``hb`` list holds; the fresh
    set and the stamp stay in memory."""
    tr = tracker([hb(0, 0, 6), hb(2, 1, 2**64 - 1, 3)])
    assert tr.dump() == [[0, 0, "6", "0"], [2, 1, str(2**64 - 1), "3"]]
    back = HeartbeatTracker(4)
    back.load(tr.dump())
    assert back.highs == tr.highs
    assert back.fresh == set() and back.full_at is None


KEYS = [(t, p) for t, n in LAYOUT.items() for p in range(n)]

# a batch: each key heartbeats at most once, advancing its position by a
# non-negative step (a partition's heartbeats never go back), then maybe
# the quorum apply
batches = st.lists(
    st.tuples(
        st.dictionaries(
            st.sampled_from(KEYS),
            st.tuples(st.integers(0, 3), st.integers(0, 2)),
            max_size=len(KEYS),
        ),
        st.booleans(),
    ),
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(batches)
def test_tracker_matches_brute_force_model(seq):
    """Against the reference tracker's shape: every heartbeat is kept
    until a commit at ``q`` deletes those at-or-below it; the quorum is
    the min over partitions of each partition's max heartbeat, None until
    every expected partition reported; the full-set stamp advances only
    when every partition holds an undeleted heartbeat."""
    tr = HeartbeatTracker(len(KEYS), LAYOUT)
    history: list[tuple[tuple[int, int], tuple]] = []  # every heartbeat
    live: list[tuple[tuple[int, int], tuple]] = []  # not yet committed
    last = {}
    stamp = None
    for i, (beats, apply) in enumerate(seq):
        rows = []
        for k, (d_step, tx) in beats.items():
            step = last.get(k, (Decimal(0), 0))[0] + d_step
            pos = (Decimal(step), Decimal(tx))
            if k in last and pos < last[k]:
                pos = last[k]
            last[k] = pos
            rows.append((*k, *pos))
            history.append((k, pos))
            live.append((k, pos))
        tr.add(census(rows), now=float(i))

        highs = {}
        for k, pos in history:
            highs[k] = max(highs.get(k, pos), pos)
        complete = all(k in highs for k in KEYS)
        q = min(highs[k] for k in KEYS) if complete else None
        if {k for k, _ in live} >= set(KEYS):
            stamp = float(i)
        assert tr.highs == highs
        assert tr.quorum() == q
        assert tr.max_hb() == (max(highs.values()) if complete else None)
        assert tr.missing(list(LAYOUT)) == {
            t: sum(1 for k in highs if k[0] == t) < n for t, n in LAYOUT.items()
        }
        assert tr.full_at == stamp
        if apply and q is not None:
            assert tr.quorum(after=q) is None
            assert tr.quorum(after=(q[0] - 1, q[1])) == q
            tr.commit(q)
            live = [(k, pos) for k, pos in live if pos > q]
        assert tr.fresh == {k for k, _ in live}


def ev(step, tx_id, seq, op="update", partition=0):
    return (
        0,
        partition,
        seq,
        op,
        ["1"],
        {},
        Decimal(step),
        Decimal(tx_id),
        seq,
    )


def test_strictly_less_cut(spark):
    # tx_queue_test.go:68-107 boundary: pop everything < (2,1); the (2,1)
    # rows and above stay for the next batch.
    rows = [
        ev(1, 1, 0),
        ev(1, 2, 1),
        ev(2, 1, 2),
        ev(2, 1, 3),
        ev(3, 1, 4),
        ev(8, 2, 5),
    ]
    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA)
    got = sorted(
        (int(r.step), int(r.tx_id)) for r in cut_below_quorum(df, (2, 1)).collect()
    )
    assert got == [(1, 1), (1, 2)]


def test_out_of_order_detection(spark):
    # F4: event older than its partition's latest hb is a problem message;
    # other partitions unaffected.
    events = spark.createDataFrame(
        [ev(3, 0, 0, partition=0), ev(9, 0, 1, partition=0), ev(3, 0, 2, partition=1)],
        CDC_EVENT_SCHEMA,
    )
    hbs = hbdf(spark, [hb(0, 0, 5)])  # partition 0 saw hb at step 5
    bad = out_of_order_events(events, hbs).collect()
    assert len(bad) == 1
    assert bad[0].seq == 0
