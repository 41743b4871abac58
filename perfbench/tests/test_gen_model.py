"""Generator determinism, the CDC reference model, and the lag and
percentile arithmetic, on small synthetic inputs (no Spark)."""

import hashlib

import pytest

from perfbench import gen, model


def _stream_bytes(seed: int) -> bytes:
    feed = gen.CdcFeed(seed)
    lines = feed.full_rows(range(50)) + feed.heartbeats(range(gen.PARTITIONS))
    for _ in range(200):
        lines.append(feed.random_change(feed.rng.randrange(50), 0.1))
    lines += feed.heartbeats([1, 2])
    return "\n".join(lines).encode()


def test_cdc_feed_same_seed_same_bytes():
    assert _stream_bytes(7) == _stream_bytes(7)
    assert _stream_bytes(7) != _stream_bytes(8)


def test_documents_and_replay_same_seed_same_batches():
    def render(seed):
        docs = gen.documents(seed, 120, 0.1)
        return repr(gen.replay_batches(seed, docs, 4, 0.05)).encode()

    assert hashlib.md5(render(3)).digest() == hashlib.md5(render(3)).digest()
    assert render(3) != render(4)


def test_replay_redelivers_earlier_texts_under_fresh_ids():
    docs = gen.documents(5, 200, 0.0)
    batches = gen.replay_batches(5, docs, 4, 0.05)
    ids = [i for b in batches for i, _ in b]
    assert len(ids) == len(set(ids))
    assert len(batches[0]) == 50 and all(len(b) == 52 for b in batches[1:])
    first = {t for _, t in batches[0]}
    assert sum(1 for i, t in batches[1] if i >= 200 and t in first) == 2


def test_feed_is_never_out_of_order():
    """Per partition: offsets increase by one, and no change sits below
    a heartbeat already emitted on its partition."""
    import json

    feed = gen.CdcFeed(1)
    lines = feed.full_rows(range(30)) + feed.heartbeats([0, 3])
    lines += [feed.random_change(k, 0.2) for k in range(30)] + feed.heartbeats(range(8))
    last_off = {}
    hb = {}
    for line in lines:
        rec = json.loads(line)
        p, msg = rec["partition"], json.loads(rec["value"])
        assert rec["offset"] == last_off.get(p, -1) + 1
        last_off[p] = rec["offset"]
        if "resolved" in msg:
            hb[p] = tuple(msg["resolved"])
        else:
            assert tuple(msg["ts"]) > hb.get(p, (0, 0))
    assert feed.final_quorum() == (min(feed.hb_high), 0)


def test_model_compacts_per_applied_batch():
    ev = gen.Event
    table = {1: {"a": 1, "b": "x", "c": 0.5}, 2: {"a": 2, "b": "y", "c": 1.5}}
    batches = [
        [
            ev(10, 1, 1, None),  # erase then update in one batch ...
            ev(11, 1, 1, {"a": 9}),
            ev(12, 2, 2, {"b": "z"}),  # update then erase
            ev(13, 2, 2, None),
            ev(14, 3, 3, {"c": 2.0}),  # new key, partial columns
            ev(15, 3, 3, {"a": 4}),
        ],
        [ev(20, 3, 3, None), ev(21, 3, 3, {"b": "w"})],
    ]
    model.apply_cdc(table, batches)
    # ... keeps the destination's absent columns (an upsert, not a reset)
    assert table[1] == {"a": 9, "b": "x", "c": 0.5}
    assert 2 not in table
    assert table[3] == {"c": 2.0, "a": 4, "b": "w"}


def test_batch_of_cuts_strictly_below_each_quorum():
    evs = [gen.Event(s, 0, s, {"a": s}) for s in (1, 4, 5, 6, 9)]
    out = model.batch_of(evs, [5, 5, 9])
    assert [[e.step for e in b] for b in out] == [[1, 4], [], [5, 6]]


def test_lags_on_a_synthetic_schedule():
    # two ticks due at t=0 and t=1; quorums commit at t=2.5 (step 10) and
    # t=4.0 (step 20); the event at step 25 is never applied
    due = [0.0, 0.0, 1.0, 1.0]
    steps = [3, 10, 12, 25]
    ends = [(2.5, 10), (4.0, 20)]
    assert model.lags(due, steps, ends) == [2.5, 4.0, 3.0, None]


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert model.percentile(xs, 50) == 2.5
    assert model.percentile(xs, 90) == pytest.approx(3.7)
    assert model.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        model.percentile([], 50)


def test_diff_tables_counts_missing_extra_and_changed_keys():
    cols = gen.VALUE_COLUMNS
    exp = {1: {"a": 1}, 2: {"a": 2}, 3: {"b": "x"}}
    act = {1: {"a": 1, "b": None, "c": None}, 2: {"a": 5}, 4: {"a": 1}}
    assert model.diff_tables(exp, act, cols) == 3


def test_exact_survivors_first_id_wins():
    batches = [[(5, "x"), (2, "x"), (3, "y")], [(1, "y"), (7, "z")]]
    assert model.exact_survivors(batches) == {2, 3, 7}


def test_documents_have_the_fitted_corpus_shape():
    docs = gen.documents(2, 2000, 0.05)
    words = [t.split() for _, t in docs]
    originals = {t for _, t in docs if not t.endswith(" " + gen.DUP_MARK)}
    assert all(gen.MIN_WORDS <= len(w) <= gen.MAX_WORDS for w in words if w[-1] != gen.DUP_MARK)
    assert {x for w in words for x in w} == set(gen.VOCAB) | {gen.DUP_MARK}
    dups = [t for _, t in docs if t.endswith(" " + gen.DUP_MARK)]
    assert 60 <= len(dups) <= 140
    assert all(t.removesuffix(" " + gen.DUP_MARK) in originals for t in dups)


def test_cpu_seconds_counts_the_process_and_this_one():
    import os
    import time

    from perfbench.run import cpu_seconds

    before, own = cpu_seconds(os.getpid()), time.process_time()
    sum(i * i for i in range(2_000_000))
    burned = time.process_time() - own
    # the process named is this one, so its CPU is counted twice
    assert cpu_seconds(os.getpid()) - before >= 2 * burned - 0.05
