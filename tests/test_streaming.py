"""Streaming engine integration tests: file-source stream -> foreachBatch
kernel -> versioned parquet destination, checked against the batch kernel
and the reference's lifecycle semantics (SURVEY.md W1-W5)."""

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from aardappel_spark.apply import apply_batch
from aardappel_spark.casting import TableMeta
from aardappel_spark.parse import parse_messages, split_events
from aardappel_spark.streaming import (
    STAGE_RUN,
    STATE_FATAL,
    Manifest,
    ReplicationEngine,
    StreamConfig,
    VersionedTable,
)

META = TableMeta(
    "users",
    primary_key=["user_id"],
    columns={"user_id": "Int64", "value": "Optional<Utf8>"},
)
DST_SCHEMA = "user_id bigint, value string"


def msg_update(uid, value, step, txid):
    return json.dumps(
        {"update": {"value": str(value)}, "key": [uid], "ts": [step, txid]}
    )


def msg_erase(uid, step, txid):
    return json.dumps({"erase": {}, "key": [uid], "ts": [step, txid]})


def msg_hb(step, txid=0):
    return json.dumps({"resolved": [step, txid]})


def write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for partition, offset, value in rows:
            f.write(json.dumps({"partition": partition, "offset": offset, "value": value}) + "\n")


def make_engine(spark, tmp, n_partitions=2, **kw):
    return ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(
                table_id=0,
                meta=META,
                dst_path=os.path.join(tmp, "dst"),
                dst_schema=DST_SCHEMA,
            )
        ],
        expected_partitions=n_partitions,
        work_dir=os.path.join(tmp, "work"),
        **kw,
    )


def read_source(spark, src_dir):
    return (
        spark.readStream.schema("partition int, offset long, value string")
        .json(src_dir)
    )


def run_available(engine, spark, src_dir, ckpt):
    q = engine.run_stream(read_source(spark, src_dir), ckpt, available_now=True)
    q.awaitTermination(120)


def test_stream_applies_below_quorum_only(spark, tmp_path):
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    write_jsonl(
        os.path.join(src, "f1.jsonl"),
        [
            (0, 1, msg_update(1, "a", 10, 1)),
            (0, 2, msg_update(2, "b", 20, 1)),
            (0, 3, msg_hb(25)),
            (1, 4, msg_update(3, "c", 30, 1)),
            (1, 5, msg_hb(15)),
        ],
    )
    eng = make_engine(spark, tmp)
    run_available(eng, spark, src, os.path.join(tmp, "ckpt"))

    # quorum = min(25, 15) = 15 -> only user 1 (step 10) applied
    rows = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert rows == {1: "a"}
    st = eng.state.read()
    assert (st["step_id"], st["tx_id"]) == (Decimal(15), Decimal(0))
    assert st["stage"] == STAGE_RUN

    # second file: heartbeats advance -> pending users flush
    write_jsonl(
        os.path.join(src, "f2.jsonl"),
        [(0, 6, msg_hb(100)), (1, 7, msg_hb(100))],
    )
    run_available(eng, spark, src, os.path.join(tmp, "ckpt"))
    rows = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_stream_matches_batch_kernel(spark, tmp_path):
    """Final streamed state == one-shot batch apply of everything below
    the final quorum."""
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    msgs = []
    off = 0
    for step in range(1, 40):
        uid = step % 5
        if step % 7 == 0:
            msgs.append((step % 2, off, msg_erase(uid, step, 1)))
        else:
            msgs.append((step % 2, off, msg_update(uid, f"v{step}", step, 1)))
        off += 1
    msgs.append((0, off, msg_hb(30)))
    msgs.append((1, off + 1, msg_hb(30)))
    # split across three files (three-ish micro-batches with availableNow)
    third = len(msgs) // 3
    write_jsonl(os.path.join(src, "f1.jsonl"), msgs[:third])
    write_jsonl(os.path.join(src, "f2.jsonl"), msgs[third : 2 * third])
    write_jsonl(os.path.join(src, "f3.jsonl"), msgs[2 * third :])

    eng = make_engine(spark, tmp)
    run_available(eng, spark, src, os.path.join(tmp, "ckpt"))

    streamed = {
        r.user_id: r.value for r in eng.tables[0].current().collect()
    }

    # batch oracle: same messages, single batch, cut at quorum (30,0)
    raw = spark.createDataFrame(
        [(p, o, v) for p, o, v in msgs], "partition int, offset long, value string"
    )
    ev = split_events(parse_messages(raw, table_id_col=None))
    ev = ev.filter(F.struct("step", "tx_id") < F.struct(F.lit(30).cast("decimal(20,0)").alias("step"), F.lit(0).cast("decimal(20,0)").alias("tx_id")))
    dst0 = spark.createDataFrame([], DST_SCHEMA)
    expected = {
        r.user_id: r.value for r in apply_batch(dst0, ev, META).collect()
    }
    assert streamed == expected


def test_problem_message_stops_with_fatal_state(spark, tmp_path):
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    write_jsonl(
        os.path.join(src, "f1.jsonl"),
        [(0, 1, "this is not json")],
    )
    eng = make_engine(spark, tmp)
    with pytest.raises(Exception):
        run_available(eng, spark, src, os.path.join(tmp, "ckpt"))
    st = eng.state.read()
    assert st["state"] == STATE_FATAL
    # restart refused until manual recovery (processor.go:308-310)
    with pytest.raises(RuntimeError, match="manual recovery"):
        eng.state.ensure_startable()


def test_crashed_batch_replay_converges(spark, tmp_path):
    """§4.3: simulate a crash AFTER table commit but BEFORE the manifest
    publish: the committed version stays invisible, and replaying the
    same batch converges to the state a clean run leaves."""
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    write_jsonl(
        os.path.join(src, "f1.jsonl"),
        [
            (0, 1, msg_update(1, "a", 10, 1)),
            (0, 2, msg_hb(50)),
            (1, 3, msg_hb(50)),
        ],
    )
    eng = make_engine(spark, tmp)

    raw = spark.read.schema("partition int, offset long, value string").json(src)

    # crash: run the kernel but skip the state write
    orig_write = eng.state.write
    eng.state.write = lambda *a, **k: None
    eng.process_batch(raw, batch_id=0)
    eng.state.write = orig_write

    before = sorted(tuple(r) for r in eng.tables[0].current().collect())
    # replay the same batch (fresh engine = post-restart driver state)
    eng2 = make_engine(spark, tmp)
    eng2.process_batch(raw, batch_id=0)
    after = sorted(tuple(r) for r in eng2.tables[0].current().collect())
    assert before == [] and after == [(1, "a")]
    st = eng2.state.read()
    assert (st["step_id"], st["tx_id"]) == (Decimal(50), Decimal(0))


def test_full_hb_stamp_requires_fresh_set_after_consumption(spark, tmp_path):
    """ADVICE r2 (W2): the tracker's `full_at` stamp must only advance on
    a full set of heartbeats that are NEW since the last quorum consumption — the
    reference deletes consumed tracker entries (hb_tracker.go Commit), so
    one partition going silent mid-run stalls the stamp and the guard
    fires. Testing the cumulative highs' size restamps forever."""
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)

    def batch(name, rows):
        src = os.path.join(tmp, name)
        write_jsonl(os.path.join(src, "f.jsonl"), rows)
        return spark.read.schema("partition int, offset long, value string").json(src)

    # batch 0: full hb set at the same position -> stamp, then the quorum
    # apply consumes BOTH entries (neither is above the cut)
    eng.process_batch(
        batch("b0", [(0, 1, msg_update(1, "a", 10, 1)), (0, 2, msg_hb(50)), (1, 3, msg_hb(50))]),
        batch_id=0,
    )
    t0 = eng.heartbeats.full_at
    assert t0 is not None
    assert eng.heartbeats.fresh == set()

    # partition 1 goes silent; partition 0 keeps heartbeating alone —
    # the stamp must NOT advance even though the highs stay full-size
    eng.process_batch(batch("b1", [(0, 4, msg_hb(60))]), batch_id=1)
    eng.process_batch(batch("b2", [(0, 5, msg_hb(70))]), batch_id=2)
    assert eng.heartbeats.full_at == t0
    assert len(eng.heartbeats.highs) == 2  # cumulative state IS still full-size

    # partition 1 comes back -> genuinely fresh full set -> stamp advances
    eng.process_batch(batch("b3", [(1, 6, msg_hb(80))]), batch_id=3)
    assert eng.heartbeats.full_at is not None and eng.heartbeats.full_at > t0

    # consumption mirror: the quorum cut q=(70,0) consumed partition 0's
    # heartbeat exactly at the cut, while partition 1's (80,0) is above it
    # and therefore stays fresh (hb_tracker keeps entries above the cut)
    assert eng.heartbeats.fresh == {(0, 1)}


def test_out_of_order_routed_by_command_and_strategy(spark, tmp_path):
    """W3: late change (behind its partition's known heartbeat, above the
    checkpoint) -> 'skip' command drops to DLQ, 'apply' keeps, driven as
    deterministic batches through the kernel."""
    import json as _json

    tmp = str(tmp_path)

    def cmd(uid, step, tx, action):
        return _json.dumps(
            {
                "aardapel_instance_id": "aardappel",
                "path": "/topic/a",
                "key": [uid],
                "ts": [step, tx],
                "action": action,
            }
        )

    eng = make_engine(spark, tmp)
    eng.topic_path = "/topic/a"
    eng.commands = spark.createDataFrame(
        [(cmd(1, 50, 1, "skip"),), (cmd(2, 60, 1, "apply"),)], ["value"]
    )
    for s in eng.streams:
        s.problem_strategy = "continue"

    raw_schema = "partition int, offset long, value string"
    # batch 0: heartbeat on partition 0 only -> no quorum, checkpoint stays 0
    b0 = spark.createDataFrame([(0, 1, msg_hb(100))], raw_schema)
    eng.process_batch(b0, 0)
    assert eng.state.read()["step_id"] == Decimal(0)

    # batch 1: two late events on partition 0 (behind its hb=100) + fresh;
    # heartbeats complete the quorum at min(200, 140) = 140
    b1 = spark.createDataFrame(
        [
            (0, 3, msg_update(1, "late-skip", 50, 1)),
            (0, 4, msg_update(2, "late-apply", 60, 1)),
            (0, 5, msg_update(3, "fresh", 150, 1)),
            (0, 6, msg_hb(200)),
            (1, 7, msg_hb(140)),
        ],
        raw_schema,
    )
    eng.process_batch(b1, 1)

    rows = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    # late-apply (60 < quorum 140) applied; late-skip dropped; fresh (150)
    # is above the quorum -> pending
    assert rows == {2: "late-apply"}
    dlq = spark.read.parquet(eng.dlq_dir)
    assert dlq.filter(dlq["_reason"] == "out_of_order").count() == 1
    assert eng.metrics.modifications_count == 1


def test_out_of_order_stop_strategy_persists_fatal(spark, tmp_path):
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)  # default strategy: stop
    raw_schema = "partition int, offset long, value string"
    eng.process_batch(
        spark.createDataFrame([(0, 1, msg_hb(100))], raw_schema), 0
    )
    with pytest.raises(RuntimeError, match="out-of-order"):
        eng.process_batch(
            spark.createDataFrame(
                [(0, 2, msg_update(1, "late", 50, 1))], raw_schema
            ),
            1,
        )
    assert eng.state.read()["state"] == STATE_FATAL


def test_blocked_keys_filtered_in_stream(spark, tmp_path):
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    write_jsonl(
        os.path.join(src, "f1.jsonl"),
        [
            (0, 1, msg_update(1, "keep", 10, 1)),
            (0, 2, msg_update(2, "blocked", 11, 1)),
            (0, 3, msg_hb(99)),
            (1, 4, msg_hb(99)),
        ],
    )
    eng = make_engine(spark, tmp)
    eng.topic_path = "users"
    eng.blocked_keys = spark.createDataFrame(
        [(bytearray(b"\x01users2"),)], "key binary"
    )
    run_available(eng, spark, src, os.path.join(tmp, "ckpt"))
    rows = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert rows == {1: "keep"}

def test_initial_scan_stage_machine(spark, tmp_path):
    """W4: sync point = max of first complete hb set; apply gated until
    quorum passes it; position + stage=RUN flip in one state write."""
    from aardappel_spark.streaming import STAGE_INITIAL_SCAN

    tmp = str(tmp_path)
    eng = make_engine(spark, tmp, initial_scan=True)
    raw_schema = "partition int, offset long, value string"

    # first complete hb set: steps {10, 20} -> sync=(20,0), quorum=(10,0)
    b0 = spark.createDataFrame(
        [
            (0, 1, msg_update(1, "snapshot", 5, 1)),
            (0, 2, msg_hb(10)),
            (1, 3, msg_hb(20)),
        ],
        raw_schema,
    )
    eng.process_batch(b0, 0)
    st = eng.state.read()
    assert st["stage"] == STAGE_INITIAL_SCAN
    assert st.get("sync_step") == "20"
    assert eng.tables[0].current().count() == 0  # nothing applied yet

    # quorum (21,0) is NOT > handled... still <= sync? 21 > 20 -> applies
    b1 = spark.createDataFrame(
        [(0, 4, msg_hb(25)), (1, 5, msg_hb(21))], raw_schema
    )
    eng.process_batch(b1, 1)
    st = eng.state.read()
    assert st["stage"] == STAGE_RUN
    assert st["step_id"] == Decimal(21)
    rows = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert rows == {1: "snapshot"}

def test_initial_scan_batched_catch_up(spark, tmp_path):
    """W4/O2: a backlog larger than catch_up_batch_size is applied in
    <=cap-message sub-batches, each its own destination commit, with NO
    state write until the single final (position, stage=RUN) flip
    (processor.go:621-726, cap :641)."""
    from aardappel_spark.streaming import STAGE_INITIAL_SCAN

    tmp = str(tmp_path)
    eng = make_engine(spark, tmp, initial_scan=True, catch_up_batch_size=5)
    raw_schema = "partition int, offset long, value string"

    backlog = [
        (0, i, msg_update(i, f"v{i}", i + 1, 1)) for i in range(17)
    ]
    b0 = spark.createDataFrame(
        backlog + [(0, 100, msg_hb(30)), (1, 101, msg_hb(40))], raw_schema
    )
    eng.process_batch(b0, 0)
    st = eng.state.read()
    assert st["stage"] == STAGE_INITIAL_SCAN
    assert eng.tables[0].current().count() == 0  # gated: quorum <= sync

    # instrument: count state writes and table commits during catch-up
    state_writes = []
    orig_write = eng.state.write
    eng.state.write = lambda *a, **k: (state_writes.append(a), orig_write(*a, **k))
    commits = []
    tbl = eng.tables[0]
    orig_commit = tbl.commit
    tbl.commit = lambda df, touched=None: (
        commits.append(touched),
        orig_commit(df, touched),
    )

    b1 = spark.createDataFrame(
        [(0, 102, msg_hb(50)), (1, 103, msg_hb(45))], raw_schema
    )
    eng.process_batch(b1, 1)

    # 17 events / cap 5 -> 4 sub-batch commits, ONE state write at the end
    assert len(commits) == 4
    assert len(state_writes) == 1
    pos_written, stage_written = state_writes[0][0], state_writes[0][1]
    assert pos_written == (Decimal(45), Decimal(0)) and stage_written == STAGE_RUN
    rows = {r.user_id: r.value for r in tbl.current().collect()}
    assert rows == {i: f"v{i}" for i in range(17)}


def test_partition_pruned_commit_links_untouched_buckets(spark, tmp_path):
    """A commit only rewrites PK buckets present in the batch; every other
    bucket's files carry over hardlinked (same inode = byte-identical)."""
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)
    raw_schema = "partition int, offset long, value string"
    seed = [(0, i, msg_update(i, f"v{i}", 10 + i, 1)) for i in range(40)]
    b0 = spark.createDataFrame(
        seed + [(0, 90, msg_hb(99)), (1, 91, msg_hb(99))], raw_schema
    )
    eng.process_batch(b0, 0)
    tbl = eng.tables[0]
    v1 = tbl.current_version()
    inodes_v1 = {
        k: {fn: os.stat(os.path.join(p, fn)).st_ino for fn in os.listdir(p) if not fn.startswith(("_", "."))}
        for k, p in tbl._bucket_dirs(v1).items()
    }

    b1 = spark.createDataFrame(
        [
            (0, 92, msg_update(7, "CHANGED", 120, 1)),
            (0, 93, msg_hb(200)),
            (1, 94, msg_hb(200)),
        ],
        raw_schema,
    )
    eng.process_batch(b1, 1)
    v2 = tbl.current_version()
    assert v2 != v1
    inodes_v2 = {
        k: {fn: os.stat(os.path.join(p, fn)).st_ino for fn in os.listdir(p) if not fn.startswith(("_", "."))}
        for k, p in tbl._bucket_dirs(v2).items()
    }
    changed = [k for k in inodes_v1 if inodes_v2.get(k) != inodes_v1[k]]
    assert len(changed) == 1  # exactly the bucket holding user 7
    untouched = [k for k in inodes_v1 if k not in changed]
    assert untouched  # linked carry-over actually happened
    for k in untouched:
        assert inodes_v2[k] == inodes_v1[k]
    rows = {r.user_id: r.value for r in tbl.current().collect()}
    assert rows[7] == "CHANGED" and len(rows) == 40


def test_problem_stop_drains_partition_to_dlq(spark, tmp_path):
    """Drain-until-next-heartbeat on stop (reader.go:86-143): messages
    after the problem, before the partition's next heartbeat, reach the
    DLQ before the engine dies."""
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)  # default problem_strategy: stop
    raw_schema = "partition int, offset long, value string"
    b = spark.createDataFrame(
        [
            (0, 1, "not json at all"),
            (0, 2, msg_update(5, "drain-me", 10, 1)),
            (0, 3, msg_hb(50)),
            (0, 4, msg_update(6, "after-hb", 60, 1)),
        ],
        raw_schema,
    )
    with pytest.raises(RuntimeError, match="problem message"):
        eng.process_batch(b, 0)
    assert eng.state.read()["state"] == STATE_FATAL
    dlq = spark.read.parquet(eng.dlq_dir)
    reasons = {r.offset: r._reason for r in dlq.collect()}
    assert reasons[1] == "problem"
    assert reasons[2] == "drained_on_stop"
    assert 4 not in reasons  # past the next heartbeat: not drained


def test_heartbeats_survive_driver_restart(spark, tmp_path):
    """ADVICE r1: per-partition heartbeat highs persist alongside _state.
    A restarted driver keeps quorum progress from committed batches."""
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)
    raw_schema = "partition int, offset long, value string"
    eng.process_batch(
        spark.createDataFrame(
            [
                (0, 1, msg_update(1, "a", 10, 1)),
                (0, 2, msg_hb(50)),
                (1, 3, msg_hb(60)),
            ],
            raw_schema,
        ),
        0,
    )
    assert eng.heartbeats.quorum() == (Decimal(50), Decimal(0))

    # driver restart: fresh engine over the same work_dir
    eng2 = make_engine(spark, tmp)
    assert eng2.heartbeats.quorum() == (Decimal(50), Decimal(0))
    # partition 1's pre-restart heartbeat still counts: advancing only
    # partition 0 unlocks a new quorum
    eng2.process_batch(
        spark.createDataFrame(
            [(0, 4, msg_update(2, "b", 55, 1)), (0, 5, msg_hb(70))], raw_schema
        ),
        1,
    )
    rows = {r.user_id: r.value for r in eng2.tables[0].current().collect()}
    assert rows == {1: "a", 2: "b"}
    st = eng2.state.read()
    assert st["step_id"] == Decimal(60)  # min(70, persisted 60)


def test_multi_stream_routing_and_shared_quorum(spark, tmp_path):
    """Two streams with distinct TableMetas through one engine: table_id
    routes rows to the right destination and the quorum is the min across
    BOTH streams' partitions (reference one-processor model,
    main.go:204-210)."""
    tmp = str(tmp_path)
    orders_meta = TableMeta(
        "orders",
        primary_key=["order_id"],
        columns={"order_id": "Int64", "amount": "Optional<Utf8>"},
    )
    eng = ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(0, META, os.path.join(tmp, "dst_users"), DST_SCHEMA),
            StreamConfig(
                1,
                orders_meta,
                os.path.join(tmp, "dst_orders"),
                "order_id bigint, amount string",
            ),
        ],
        expected_partitions=2,  # one partition per stream
        work_dir=os.path.join(tmp, "work"),
    )
    def msg_order(oid, amount, step, txid):
        return json.dumps(
            {"update": {"amount": amount}, "key": [oid], "ts": [step, txid]}
        )

    raw_schema = "table_id int, partition int, offset long, value string"
    b0 = spark.createDataFrame(
        [
            (0, 0, 1, msg_update(1, "u1", 10, 1)),
            (0, 0, 2, msg_update(2, "u2", 40, 1)),
            (1, 0, 3, msg_order(100, "9.99", 12, 1)),
            (0, 0, 4, msg_hb(50)),
            (1, 0, 5, msg_hb(30)),
        ],
        raw_schema,
    )
    eng.process_batch(b0, 0)
    users = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    orders = {r.order_id: r.amount for r in eng.tables[1].current().collect()}
    # quorum = min(50, 30) = 30: user 2 (step 40) stays pending
    assert users == {1: "u1"}
    assert orders == {100: "9.99"}
    st = eng.state.read()
    assert st["step_id"] == Decimal(30)

    # advance only stream 1's heartbeat: shared cut moves, pending flushes
    b1 = spark.createDataFrame(
        [(1, 0, 6, msg_hb(99)), (0, 0, 7, msg_hb(99))], raw_schema
    )
    eng.process_batch(b1, 1)
    users = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert users == {1: "u1", 2: "u2"}


def test_from_config_requires_expected_partitions_for_multi_stream(spark, tmp_path):
    from aardappel_spark.config import EngineConfig

    cfg = EngineConfig.from_dict(
        {
            "instance_id": "i1",
            "streams": [
                {"src_topic": "/t/a", "dst_table": str(tmp_path / "a")},
                {"src_topic": "/t/b", "dst_table": str(tmp_path / "b")},
            ],
        }
    )
    metas = {
        str(tmp_path / "a"): (META, DST_SCHEMA),
        str(tmp_path / "b"): (META, DST_SCHEMA),
    }
    with pytest.raises(ValueError, match="expected_partitions"):
        ReplicationEngine.from_config(
            spark, cfg, metas, work_dir=str(tmp_path / "w")
        )
    eng = ReplicationEngine.from_config(
        spark, cfg, metas, work_dir=str(tmp_path / "w2"), expected_partitions=4
    )
    assert eng.expected_partitions == 4


def test_multi_stream_end_to_end_run_stream(spark, tmp_path):
    """Same two-stream setup driven through run_stream (Structured
    Streaming foreachBatch) across two availableNow passes — per-table
    routing + quorum-gated applies + checkpointed offsets end to end."""
    tmp = str(tmp_path)
    orders_meta = TableMeta(
        "orders",
        primary_key=["order_id"],
        columns={"order_id": "Int64", "amount": "Optional<Utf8>"},
    )
    eng = ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(0, META, os.path.join(tmp, "dst_users"), DST_SCHEMA),
            StreamConfig(
                1,
                orders_meta,
                os.path.join(tmp, "dst_orders"),
                "order_id bigint, amount string",
            ),
        ],
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
    )

    def msg_order(oid, amount, step, txid):
        return json.dumps(
            {"update": {"amount": amount}, "key": [oid], "ts": [step, txid]}
        )

    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)

    def write_file(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for table_id, partition, offset, value in rows:
                f.write(
                    json.dumps(
                        {
                            "table_id": table_id,
                            "partition": partition,
                            "offset": offset,
                            "value": value,
                        }
                    )
                    + "\n"
                )

    write_file(
        "f1.jsonl",
        [
            (0, 0, 1, msg_update(1, "u1", 10, 1)),
            (1, 0, 2, msg_order(100, "9.99", 12, 1)),
            (0, 0, 3, msg_update(2, "u2", 40, 1)),
            (0, 0, 4, msg_hb(50)),
            (1, 0, 5, msg_hb(30)),
        ],
    )
    source = spark.readStream.schema(
        "table_id int, partition int, offset long, value string"
    ).json(src)
    q = eng.run_stream(source, os.path.join(tmp, "ckpt"), available_now=True)
    q.awaitTermination(120)

    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {1: "u1"}
    assert {r.order_id: r.amount for r in eng.tables[1].current().collect()} == {
        100: "9.99"
    }

    # second pass: a NEW engine over the same work_dir (driver restart) —
    # persisted heartbeats + Spark's checkpoint resume the cut
    write_file("f2.jsonl", [(1, 0, 6, msg_hb(99)), (0, 0, 7, msg_hb(99))])
    eng2 = ReplicationEngine(
        spark=spark,
        streams=eng.streams,
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
    )
    source2 = spark.readStream.schema(
        "table_id int, partition int, offset long, value string"
    ).json(src)
    q2 = eng2.run_stream(source2, os.path.join(tmp, "ckpt"), available_now=True)
    q2.awaitTermination(120)
    assert {r.user_id: r.value for r in eng2.tables[0].current().collect()} == {
        1: "u1",
        2: "u2",
    }
    st = eng2.state.read()
    assert st["step_id"] == Decimal(99) and st["stage"] == STAGE_RUN


def test_kafka_replay_end_to_end_run_stream(spark, tmp_path):
    """S1 closure (VERDICT r2 #5): recorded Kafka record batches — the
    exact record shape the kafka data source emits, binary payloads and
    all — replayed through read_recorded_kafka_stream (which shares the
    live reader's full post-load() path) and driven end-to-end through
    run_stream: multi-topic table discrimination, quorum gating,
    checkpointed restart/resume. Mirrors internal/reader/reader.go:145-292
    minus only the broker socket."""
    from aardappel_spark.sources import (
        read_recorded_kafka_stream,
        record_kafka_fixture,
    )

    tmp = str(tmp_path)
    orders_meta = TableMeta(
        "orders",
        primary_key=["order_id"],
        columns={"order_id": "Int64", "amount": "Optional<Utf8>"},
    )
    streams = [
        StreamConfig(0, META, os.path.join(tmp, "dst_users"), DST_SCHEMA),
        StreamConfig(
            1, orders_meta, os.path.join(tmp, "dst_orders"),
            "order_id bigint, amount string",
        ),
    ]
    topics = {"users_cdc": 0, "orders_cdc": 1}

    def msg_order(oid, amount, step, txid):
        return json.dumps(
            {"update": {"amount": amount}, "key": [oid], "ts": [step, txid]}
        )

    rec_dir = os.path.join(tmp, "recorded")
    record_kafka_fixture(
        os.path.join(rec_dir, "batch1.jsonl"),
        [
            ("users_cdc", 0, 1, b"[1]", msg_update(1, "u1", 10, 1).encode(), 1000),
            ("orders_cdc", 0, 1, b"[100]", msg_order(100, "9.99", 12, 1).encode(), 1001),
            ("users_cdc", 0, 2, None, msg_update(2, "u2", 40, 1).encode(), 1002),
            ("users_cdc", 0, 3, None, msg_hb(50).encode(), 1003),
            ("orders_cdc", 0, 2, None, msg_hb(30).encode(), 1004),
        ],
    )
    eng = ReplicationEngine(
        spark=spark,
        streams=streams,
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
    )
    source = read_recorded_kafka_stream(spark, rec_dir, table_id_by_topic=topics)
    assert source.isStreaming
    q = eng.run_stream(source, os.path.join(tmp, "ckpt"), available_now=True)
    q.awaitTermination(120)

    # quorum = min(50, 30): users step-10 and order step-12 apply;
    # users step-40 stays pending above the cut
    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {1: "u1"}
    assert {r.order_id: r.amount for r in eng.tables[1].current().collect()} == {
        100: "9.99"
    }

    # a later recorded batch + a fresh engine (driver restart): Spark's
    # checkpoint must resume past batch1's offsets, not re-read them
    record_kafka_fixture(
        os.path.join(rec_dir, "batch2.jsonl"),
        [
            ("users_cdc", 0, 4, None, msg_hb(99).encode(), 2000),
            ("orders_cdc", 0, 3, None, msg_hb(99).encode(), 2001),
        ],
    )
    eng2 = ReplicationEngine(
        spark=spark,
        streams=streams,
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
    )
    source2 = read_recorded_kafka_stream(spark, rec_dir, table_id_by_topic=topics)
    q2 = eng2.run_stream(source2, os.path.join(tmp, "ckpt"), available_now=True)
    q2.awaitTermination(120)
    assert {r.user_id: r.value for r in eng2.tables[0].current().collect()} == {
        1: "u1",
        2: "u2",
    }
    assert {r.order_id: r.amount for r in eng2.tables[1].current().collect()} == {
        100: "9.99"
    }
    st = eng2.state.read()
    assert st["step_id"] == Decimal(99) and st["stage"] == STAGE_RUN


def test_catch_up_crash_at_every_subbatch_converges(spark, tmp_path):
    """W4/W5: kill the engine after each k-th sub-batch commit of the
    initial-scan catch-up; a fresh engine replaying the micro-batch must
    converge to the no-crash result with the same final state row."""

    class Boom(Exception):
        pass

    raw_schema = "partition int, offset long, value string"

    def backlog_batches(spark):
        backlog = [(0, i, msg_update(i % 7, f"v{i}", i + 1, 1)) for i in range(12)]
        b0 = spark.createDataFrame(
            backlog + [(0, 50, msg_hb(30)), (1, 51, msg_hb(40))], raw_schema
        )
        b1 = spark.createDataFrame(
            [(0, 52, msg_hb(50)), (1, 53, msg_hb(45))], raw_schema
        )
        return b0, b1

    def reference_result(tag):
        tmp = str(tmp_path / tag)
        eng = make_engine(spark, tmp, initial_scan=True, catch_up_batch_size=4)
        b0, b1 = backlog_batches(spark)
        eng.process_batch(b0, 0)
        eng.process_batch(b1, 1)
        return (
            sorted(tuple(r) for r in eng.tables[0].current().collect()),
            eng.state.read()["step_id"],
        )

    want_rows, want_step = reference_result("ref")

    # 12 events / cap 4 = 3 sub-batches; crash after commit 1, 2, 3
    for crash_after in (1, 2, 3):
        tmp = str(tmp_path / f"crash{crash_after}")
        eng = make_engine(spark, tmp, initial_scan=True, catch_up_batch_size=4)
        b0, b1 = backlog_batches(spark)
        eng.process_batch(b0, 0)

        tbl = eng.tables[0]
        orig_commit = tbl.commit
        n_commits = 0

        def crashing_commit(df, touched=None):
            nonlocal n_commits
            orig_commit(df, touched)
            n_commits += 1
            if n_commits >= crash_after:
                raise Boom()

        tbl.commit = crashing_commit
        with pytest.raises(Boom):
            eng.process_batch(b1, 1)
        # state must NOT have advanced past INITIAL_SCAN
        st = eng.state.read()
        assert st["stage"] != STAGE_RUN or st["step_id"] == Decimal(0)

        # restart: fresh engine, replay the same micro-batch
        eng2 = make_engine(spark, tmp, initial_scan=True, catch_up_batch_size=4)
        eng2.process_batch(b1, 1)
        got_rows = sorted(tuple(r) for r in eng2.tables[0].current().collect())
        assert got_rows == want_rows, f"crash_after={crash_after}"
        st = eng2.state.read()
        assert st["stage"] == STAGE_RUN and st["step_id"] == want_step


@pytest.mark.parametrize("seed", [7, 23])
def test_wide_multi_stream_crash_replay_fuzz(spark, tmp_path, seed):
    """W1/W5 at realistic width (VERDICT r2 #8): 4 streams x 8 partitions
    — the quorum is a min over 32 (table, partition) heartbeat highs —
    with a randomly placed driver crash (commit done, state write lost)
    and restart replaying the same micro-batch. Final per-table state
    must equal the single-shot batch apply of everything below the final
    quorum, exactly once."""
    import random

    rng = random.Random(seed)
    tmp = str(tmp_path)
    n_streams, n_parts = 4, 8
    metas = [
        TableMeta(
            f"t{t}",
            primary_key=["user_id"],
            columns={"user_id": "Int64", "value": "Optional<Utf8>"},
        )
        for t in range(n_streams)
    ]
    streams = [
        StreamConfig(t, metas[t], os.path.join(tmp, f"dst{t}"), DST_SCHEMA)
        for t in range(n_streams)
    ]

    msgs = []
    step, off = 0, 0
    for _ in range(150):
        step += rng.randint(1, 3)
        t, p = rng.randrange(n_streams), rng.randrange(n_parts)
        roll = rng.random()
        if roll < 0.25:
            msgs.append((t, p, off, msg_hb(step)))
        elif roll < 0.4:
            msgs.append((t, p, off, msg_erase(rng.randint(0, 9), step, 1)))
        else:
            msgs.append((t, p, off, msg_update(rng.randint(0, 9), f"t{t}v{off}", step, 1)))
        off += 1
    # close with a COMPLETE 32-key heartbeat set so the quorum advances
    final_hb = step + 1
    for t in range(n_streams):
        for p in range(n_parts):
            msgs.append((t, p, off, msg_hb(final_hb)))
            off += 1

    cuts = sorted(rng.sample(range(1, len(msgs)), 3))
    batches = [
        msgs[a:b] for a, b in zip([0] + cuts, cuts + [len(msgs)]) if msgs[a:b]
    ]
    kill_at = rng.randrange(len(batches))
    raw_schema = "table_id int, partition int, offset long, value string"

    def fresh_engine():
        return ReplicationEngine(
            spark=spark,
            streams=streams,
            expected_partitions=n_streams * n_parts,
            work_dir=os.path.join(tmp, "work"),
        )

    eng = fresh_engine()
    for i, b in enumerate(batches):
        df = spark.createDataFrame(b, raw_schema)
        if i == kill_at:
            # crash AFTER destination commits, BEFORE the state write; the
            # restarted driver replays the same micro-batch id
            eng.state.write = lambda *a, **k: None
            eng.process_batch(df, i)
            eng = fresh_engine()
        eng.process_batch(df, i)

    raw = spark.createDataFrame(msgs, raw_schema)
    from aardappel_spark.types import pos, pos_lit

    ev = split_events(parse_messages(raw, table_id_col="table_id")).filter(
        pos() < pos_lit(final_hb, 0)
    )
    for t in range(n_streams):
        dst0 = spark.createDataFrame([], DST_SCHEMA)
        expected = {
            r.user_id: r.value
            for r in apply_batch(
                dst0, ev.filter(F.col("table_id") == t), metas[t]
            ).collect()
        }
        got = {r.user_id: r.value for r in eng.tables[t].current().collect()}
        assert got == expected, f"table {t} (kill_at={kill_at})"
    st = eng.state.read()
    assert st["step_id"] == Decimal(final_hb) and st["stage"] == STAGE_RUN


@pytest.mark.parametrize("seed", [11, 42, 77])
def test_stream_random_sequences_match_batch_kernel(spark, tmp_path, seed):
    """Randomized W1/W5 equivalence: arbitrary update/erase/heartbeat
    interleavings over 2 partitions, split at random batch boundaries,
    must converge to the single-shot batch apply of everything below the
    final quorum. (Single-column updates keep multi-batch semantics
    identical to single-batch; column-set boundary dependence is pinned
    separately in test_casting_apply.)"""
    import random

    rng = random.Random(seed)
    tmp = str(tmp_path)

    msgs = []
    hb_high = [0, 0]
    step = 0
    for off in range(60):
        step += rng.randint(1, 3)
        p = rng.randint(0, 1)
        roll = rng.random()
        if roll < 0.2:
            # heartbeats only move forward per partition
            hb_high[p] = max(hb_high[p], step)
            msgs.append((p, off, msg_hb(hb_high[p])))
        elif roll < 0.35:
            msgs.append((p, off, msg_erase(rng.randint(0, 9), step, 1)))
        else:
            msgs.append((p, off, msg_update(rng.randint(0, 9), f"v{off}", step, 1)))
    # close with a complete heartbeat set so something applies
    final_hb = max(hb_high) + 1
    msgs.append((0, 60, msg_hb(final_hb)))
    msgs.append((1, 61, msg_hb(final_hb)))

    # random batch boundaries
    cuts = sorted(rng.sample(range(1, len(msgs)), 3))
    batches = [
        msgs[a:b] for a, b in zip([0] + cuts, cuts + [len(msgs)]) if msgs[a:b]
    ]

    eng = make_engine(spark, tmp)
    raw_schema = "partition int, offset long, value string"
    for i, b in enumerate(batches):
        eng.process_batch(spark.createDataFrame(b, raw_schema), i)

    streamed = {r.user_id: r.value for r in eng.tables[0].current().collect()}

    raw = spark.createDataFrame(msgs, raw_schema)
    ev = split_events(parse_messages(raw, table_id_col=None))
    from aardappel_spark.types import pos, pos_lit

    ev = ev.filter(pos() < pos_lit(final_hb, 0))
    dst0 = spark.createDataFrame([], DST_SCHEMA)
    expected = {r.user_id: r.value for r in apply_batch(dst0, ev, META).collect()}
    assert streamed == expected
    st = eng.state.read()
    assert st["step_id"] == Decimal(final_hb)


def test_kafka_replay_rebalance_offset_overlap_deduped(spark, tmp_path):
    """S5/S10 across a partition rebalance (VERDICT r4 #7): a new reader
    session re-delivers an offset range that was already applied (the
    at-least-once overlap the reference's MakeTopicReaderGuard exists
    for, internal/reader/reader.go:32-76). The replayed records carry
    the same CDC positions; the position guard (state step_id + stale
    filter) must drop them rather than re-apply. The replayed payload is
    deliberately MUTATED so a wrongly re-applied record is visible (LWW
    would let an equal-position late arrival win)."""
    from aardappel_spark.sources import (
        read_recorded_kafka_stream,
        record_kafka_fixture,
    )

    tmp = str(tmp_path)
    streams = [StreamConfig(0, META, os.path.join(tmp, "dst"), DST_SCHEMA)]
    topics = {"users_cdc": 0}
    rec_dir = os.path.join(tmp, "recorded")

    # session 1: offsets 1-3 on partition 0, quorum advances to 30
    record_kafka_fixture(
        os.path.join(rec_dir, "session1.jsonl"),
        [
            ("users_cdc", 0, 1, None, msg_update(1, "v1", 10, 1).encode(), 1000),
            ("users_cdc", 0, 2, None, msg_update(2, "orig", 20, 1).encode(), 1001),
            ("users_cdc", 0, 3, None, msg_hb(30).encode(), 1002),
        ],
    )

    def engine():
        return ReplicationEngine(
            spark=spark,
            streams=streams,
            expected_partitions=1,
            work_dir=os.path.join(tmp, "work"),
        )

    eng = engine()
    src = read_recorded_kafka_stream(spark, rec_dir, table_id_by_topic=topics)
    q = eng.run_stream(src, os.path.join(tmp, "ckpt"), available_now=True)
    q.awaitTermination(120)
    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {
        1: "v1",
        2: "orig",
    }

    # session 2 after a rebalance: same partition, overlapping offsets
    # 2-3 re-delivered (payload mutated to make re-application visible),
    # then genuinely new offsets 4-5
    record_kafka_fixture(
        os.path.join(rec_dir, "session2.jsonl"),
        [
            ("users_cdc", 0, 2, None, msg_update(2, "REPLAYED", 20, 1).encode(), 2000),
            ("users_cdc", 0, 3, None, msg_hb(30).encode(), 2001),
            ("users_cdc", 0, 4, None, msg_update(3, "v3", 40, 1).encode(), 2002),
            ("users_cdc", 0, 5, None, msg_hb(99).encode(), 2003),
        ],
    )
    eng2 = engine()
    src2 = read_recorded_kafka_stream(spark, rec_dir, table_id_by_topic=topics)
    q2 = eng2.run_stream(src2, os.path.join(tmp, "ckpt"), available_now=True)
    q2.awaitTermination(120)

    got = {r.user_id: r.value for r in eng2.tables[0].current().collect()}
    assert got == {1: "v1", 2: "orig", 3: "v3"}, got  # no re-application
    st = eng2.state.read()
    assert st["step_id"] == Decimal(99) and st["stage"] == STAGE_RUN


def test_redelivered_record_guarded_while_late_event_goes_to_dlq(spark, tmp_path):
    """One batch holds a rebalance-redelivered record that is older than
    its partition's heartbeat and a genuinely late event (new offset,
    position behind that heartbeat). The offset guard must drop the
    redelivery silently — no DLQ row, no re-apply — while the late event
    lands in the DLQ as out_of_order."""
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)
    for s in eng.streams:
        s.problem_strategy = "continue"
    raw_schema = "partition int, offset long, value string"
    # batch 0: partition 0 heartbeats at 30, partition 1 at 15 -> quorum
    # 15 applies user 1 (step 10)
    eng.process_batch(
        spark.createDataFrame(
            [
                (0, 1, msg_update(1, "orig", 10, 1)),
                (0, 2, msg_hb(30)),
                (1, 1, msg_hb(15)),
            ],
            raw_schema,
        ),
        0,
    )
    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {
        1: "orig"
    }
    # batch 1: offset 1 re-delivered (step 10 < partition 0's hb 30,
    # payload mutated so a re-apply would show), offset 3 is a new record
    # at step 20 < 30 (genuinely late, above the checkpoint 15)
    eng.process_batch(
        spark.createDataFrame(
            [
                (0, 1, msg_update(1, "REPLAYED", 10, 1)),
                (0, 3, msg_update(2, "late", 20, 1)),
                (0, 4, msg_update(3, "fresh", 40, 1)),
                (0, 5, msg_hb(50)),
                (1, 2, msg_hb(50)),
            ],
            raw_schema,
        ),
        1,
    )
    dlq = spark.read.parquet(eng.dlq_dir).collect()
    assert [(r.offset, r._reason) for r in dlq] == [(3, "out_of_order")]
    got = {r.user_id: r.value for r in eng.tables[0].current().collect()}
    assert got == {1: "orig", 3: "fresh"}
    assert eng.off_state == {(0, 0): 5, (0, 1): 2}
    assert eng.state.read()["step_id"] == Decimal(50)


def _steady_state_engine(spark, tmp, per_partition=6):
    """An engine plus a maker of same-shaped steady-state batches, read
    from JSONL files like the file stream source. Batch k updates the same
    `per_partition` keys on every partition below the heartbeat
    (k+1)*1000 that all partitions send, plus one update above it that
    carries over through `_pending` into batch k+1, so every batch
    advances the quorum and applies the previous carry-over."""
    n_partitions = 4
    eng = make_engine(spark, tmp, n_partitions=n_partitions)

    def batch(k):
        hb = (k + 1) * 1000
        rows = []
        for p in range(n_partitions):
            off = k * 100 + p * 10
            for i in range(per_partition):
                uid = p * per_partition + i
                rows.append((p, off + i, msg_update(uid, f"k{k}", hb - 900 + i, 1)))
            rows.append((p, off + per_partition, msg_update(1000 + p, f"c{k}", hb + 5, 1)))
            rows.append((p, off + per_partition + 1, msg_hb(hb)))
        src = os.path.join(tmp, f"b{k}")
        write_jsonl(os.path.join(src, "f.jsonl"), rows)
        return spark.read.schema("partition int, offset long, value string").json(src)

    return eng, batch


def test_steady_state_cdc_batch_compiles_no_code(spark, tmp_path):
    """After warm-up, a steady-state batch of the same shape generates
    only code the session already compiled: every per-batch value (guard
    offsets, heartbeats, checkpoint, quorum) enters its plans as data or
    as a reference literal, and the codegen cache holds a whole batch's
    classes, so the batch adds nothing to Spark's compile counter."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    eng, batch = _steady_state_engine(spark, str(tmp_path))
    for k in range(3):
        eng.process_batch(batch(k), k)
    raw = batch(3)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    eng.process_batch(raw, 3)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before
    assert eng.state.read()["step_id"] == Decimal(4000)


def _steady_batch_jobs(spark, tmp_path, per_partition=6):
    """Run three warm-up batches of `_steady_state_engine`'s shape, then
    a fourth in its own job group; returns the fourth batch's job ids."""
    sc = spark.sparkContext
    eng, batch = _steady_state_engine(spark, str(tmp_path), per_partition)
    for k in range(3):
        eng.process_batch(batch(k), k)
    raw = batch(3)
    group = f"steady-state-{tmp_path.name}"
    sc.setJobGroup(group, "steady-state CDC batch")
    try:
        eng.process_batch(raw, 3)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert eng.state.read()["step_id"] == Decimal(4000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_steady_state_cdc_batch_job_bound(spark, tmp_path):
    """A steady-state batch runs at most 12 Spark jobs: one census
    aggregate answers the offset guard, heartbeat, problem and
    out-of-order questions, and the parse and the typed mutations are
    pinned with localCheckpoint, so no job builds a columnar cache. An
    upper bound, not an exact pin: AQE may plan fewer."""
    jobs = _steady_batch_jobs(spark, tmp_path)
    assert 0 < len(jobs) <= 12, jobs


def test_steady_state_cdc_batch_stages_are_data_sized(spark, tmp_path):
    """No stage of a steady batch of a few hundred events runs one task
    per shuffle partition: AQE coalesces every shuffle the batch reads,
    the compaction's included, because the batch pins its frames with
    localCheckpoint rather than with the columnar cache, whose cached
    plan keeps its output partitioning."""
    sc = spark.sparkContext
    n_shuffle = 32  # get_spark()'s default; the test session runs 4
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    try:
        jobs = _steady_batch_jobs(spark, tmp_path, per_partition=75)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    tracker = sc.statusTracker()
    ran = {}  # stage id -> tasks it completed (a skipped stage runs none)
    for j in jobs:
        for st in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(st)
            if info is not None and info.numCompletedTasks:
                ran[st] = info.numCompletedTasks
    assert ran, jobs
    assert max(ran.values()) < n_shuffle, ran


def test_cdc_batch_releases_its_pins(spark, tmp_path):
    """Every batch releases what it pinned, however it ends: the JVM's
    persistent RDDs after a batch are among those before it. Covers a
    steady batch, a pending-only early return, and a batch with late
    events, where the frame `_route_out_of_order` returns (read by the
    apply, after that method returns) derives from its pinned resolution,
    so the pin must outlive the method."""
    sc = spark.sparkContext
    tmp = str(tmp_path)
    eng = make_engine(spark, tmp)
    eng.topic_path = "/topic/a"
    eng.commands = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "aardapel_instance_id": "aardappel",
                        "path": "/topic/a",
                        "key": [4],
                        "ts": [60, 1],
                        "action": "apply",
                    }
                ),
            )
        ],
        ["value"],
    )
    for s in eng.streams:
        s.problem_strategy = "continue"
    raw_schema = "partition int, offset long, value string"

    def run(batch_id, rows):
        before = set(sc._jsc.getPersistentRDDs().keys())
        eng.process_batch(spark.createDataFrame(rows, raw_schema), batch_id)
        after = set(sc._jsc.getPersistentRDDs().keys())
        assert after <= before, (batch_id, sorted(after - before))

    def dst():
        return {r.user_id: r.value for r in eng.tables[0].current().collect()}

    # steady: quorum min(30, 15) = 15 applies user 1
    run(0, [(0, 1, msg_update(1, "a", 10, 1)), (0, 2, msg_hb(30)), (1, 1, msg_hb(15))])
    assert dst() == {1: "a"}
    # pending-only: partition 1 sends no heartbeat, the quorum stays 15
    run(1, [(0, 3, msg_update(2, "b", 40, 1)), (0, 4, msg_hb(100))])
    assert eng.state.read()["step_id"] == Decimal(15)
    assert dst() == {1: "a"}
    # late: user 3 (step 20) and user 4 (step 60) are behind partition
    # 0's heartbeat 100; 3 goes to the DLQ, the command applies 4, and
    # quorum 100 also applies the carried-over user 2
    run(
        2,
        [
            (0, 5, msg_update(3, "late", 20, 1)),
            (0, 6, msg_update(4, "kept", 60, 1)),
            (1, 2, msg_hb(120)),
        ],
    )
    assert eng.state.read()["step_id"] == Decimal(100)
    assert dst() == {1: "a", 2: "b", 4: "kept"}
    dlq = spark.read.parquet(eng.dlq_dir).collect()
    assert [(r.offset, r._reason) for r in dlq] == [(5, "out_of_order")]


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP"),
    reason="no live Kafka broker (set KAFKA_BOOTSTRAP=host:port to enable)",
)
def test_kafka_live_broker_smoke(spark, tmp_path):
    """The one environmental gap (S1): exercise read_kafka_stream against
    a REAL broker socket when one is reachable. Subscribes to the smoke
    topic, drains whatever is there with availableNow, and asserts the
    query makes progress — the same reader options and projection the
    recorded-replay e2e pins are here driven through an actual
    connection. Skips cleanly in sandboxes without a broker."""
    from aardappel_spark.sources import read_kafka_stream

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    topic = os.environ.get("KAFKA_SMOKE_TOPIC", "aardappel_smoke")
    source = read_kafka_stream(
        spark,
        bootstrap_servers=bootstrap,
        topics=topic,
        table_id_by_topic={topic: 0},
        max_offsets_per_trigger=1000,
    )
    assert source.isStreaming
    q = (
        source.writeStream.format("memory")
        .queryName("kafka_smoke")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # drained without error; row count >= 0 and the projected schema holds
    out = spark.sql("select * from kafka_smoke")
    assert set(out.columns) == {"table_id", "partition", "offset", "value"}


@pytest.mark.parametrize("seed", [13, 99])
def test_fuzz_overlap_redelivery_with_crash_converges(spark, tmp_path, seed):
    """S5 + W5 combined stress: every micro-batch boundary re-delivers
    the TAIL of the previous batch (the at-least-once overlap a
    rebalance produces), and one randomly placed crash replays a batch
    (commit done, state write lost). The consumed-offset guard must
    drop every overlap — including across the crash replay, where the
    guard itself rewinds — so the final state equals the single-shot
    batch apply of the ORIGINAL (non-redelivered) messages."""
    import random

    rng = random.Random(seed)
    tmp = str(tmp_path)
    n_streams, n_parts = 2, 4
    metas = [
        TableMeta(
            f"t{t}",
            primary_key=["user_id"],
            columns={"user_id": "Int64", "value": "Optional<Utf8>"},
        )
        for t in range(n_streams)
    ]
    streams = [
        StreamConfig(t, metas[t], os.path.join(tmp, f"dst{t}"), DST_SCHEMA)
        for t in range(n_streams)
    ]

    msgs = []
    step, off = 0, 0
    for _ in range(80):
        step += rng.randint(1, 3)
        t, p = rng.randrange(n_streams), rng.randrange(n_parts)
        roll = rng.random()
        if roll < 0.25:
            msgs.append((t, p, off, msg_hb(step)))
        elif roll < 0.4:
            msgs.append((t, p, off, msg_erase(rng.randint(0, 9), step, 1)))
        else:
            msgs.append((t, p, off, msg_update(rng.randint(0, 9), f"t{t}v{off}", step, 1)))
        off += 1
    final_hb = step + 1
    for t in range(n_streams):
        for p in range(n_parts):
            msgs.append((t, p, off, msg_hb(final_hb)))
            off += 1

    cuts = sorted(rng.sample(range(1, len(msgs)), 3))
    batches = [
        msgs[a:b] for a, b in zip([0] + cuts, cuts + [len(msgs)]) if msgs[a:b]
    ]
    # inject at-least-once overlap: each batch (after the first) is
    # preceded by a re-delivery of the previous batch's tail
    delivered = [batches[0]]
    for prev, cur in zip(batches, batches[1:]):
        overlap = prev[-rng.randint(1, min(4, len(prev))):]
        delivered.append(overlap + cur)
    kill_at = rng.randrange(len(delivered))
    raw_schema = "table_id int, partition int, offset long, value string"

    def fresh_engine():
        return ReplicationEngine(
            spark=spark,
            streams=streams,
            expected_partitions=n_streams * n_parts,
            work_dir=os.path.join(tmp, "work"),
        )

    eng = fresh_engine()
    for i, b in enumerate(delivered):
        df = spark.createDataFrame(b, raw_schema)
        if i == kill_at:
            eng.state.write = lambda *a, **k: None
            eng.process_batch(df, i)
            eng = fresh_engine()
        eng.process_batch(df, i)

    raw = spark.createDataFrame(msgs, raw_schema)  # ORIGINALS only
    from aardappel_spark.types import pos, pos_lit

    ev = split_events(parse_messages(raw, table_id_col="table_id")).filter(
        pos() < pos_lit(final_hb, 0)
    )
    for t in range(n_streams):
        dst0 = spark.createDataFrame([], DST_SCHEMA)
        expected = {
            r.user_id: r.value
            for r in apply_batch(
                dst0, ev.filter(F.col("table_id") == t), metas[t]
            ).collect()
        }
        got = {r.user_id: r.value for r in eng.tables[t].current().collect()}
        assert got == expected, f"table {t} (kill_at={kill_at})"
    st = eng.state.read()
    assert st["step_id"] == Decimal(final_hb) and st["stage"] == STAGE_RUN


ORDERS_META = TableMeta(
    "orders",
    primary_key=["order_id"],
    columns={"order_id": "Int64", "amount": "Optional<Utf8>"},
)


def msg_order(oid, amount, step, txid):
    return json.dumps({"update": {"amount": amount}, "key": [oid], "ts": [step, txid]})


def _users_and_orders(spark, tmp):
    return ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(0, META, os.path.join(tmp, "dst_users"), DST_SCHEMA),
            StreamConfig(
                1, ORDERS_META, os.path.join(tmp, "dst_orders"),
                "order_id bigint, amount string",
            ),
        ],
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
    )


def test_torn_commit_is_invisible_and_replay_converges(spark, tmp_path):
    """Every destination and `_state` commit in ONE manifest: a crash
    inside the second table's commit of batch 1, after the first table
    committed, leaves a reader with both tables and `_state` at batch
    0, and replaying the batch converges."""
    tmp = str(tmp_path)
    raw_schema = "table_id int, partition int, offset long, value string"
    b0 = spark.createDataFrame(
        [
            (0, 0, 1, msg_update(1, "a", 10, 1)),
            (1, 0, 2, msg_order(7, "x", 12, 1)),
            (0, 0, 3, msg_hb(50)),
            (1, 0, 4, msg_hb(50)),
        ],
        raw_schema,
    )
    b1 = spark.createDataFrame(
        [
            (0, 0, 5, msg_update(1, "b", 60, 1)),
            (1, 0, 6, msg_order(7, "y", 62, 1)),
            (0, 0, 7, msg_hb(90)),
            (1, 0, 8, msg_hb(90)),
        ],
        raw_schema,
    )
    eng = _users_and_orders(spark, tmp)
    eng.process_batch(b0, 0)

    class Boom(Exception):
        pass

    orders = eng.tables[1]
    orig_commit = orders.commit

    def crashing_commit(df, touched=None):
        orig_commit(df, touched)
        raise Boom()

    orders.commit = crashing_commit
    with pytest.raises(Boom):
        eng.process_batch(b1, 1)

    def seen(e):
        return (
            {r.user_id: r.value for r in e.tables[0].current().collect()},
            {r.order_id: r.amount for r in e.tables[1].current().collect()},
            e.state.read()["step_id"],
        )

    reader = _users_and_orders(spark, tmp)  # a restarted driver
    assert seen(reader) == ({1: "a"}, {7: "x"}, Decimal(50))
    reader.process_batch(b1, 1)
    assert seen(reader) == ({1: "b"}, {7: "y"}, Decimal(90))


def _b0_b1(spark):
    """b0 applies step 10; b1 applies step 60 at quorum 70 and leaves
    step 75 pending. No offset column, so the consumed-offset guard
    cannot hide a replay that builds on the wrong manifest."""
    raw_schema = "partition int, value string"
    b0 = spark.createDataFrame(
        [(0, msg_update(1, "a", 10, 1)), (0, msg_hb(50)), (1, msg_hb(50))], raw_schema
    )
    b1 = spark.createDataFrame(
        [
            (0, msg_update(2, "b", 60, 1)),
            (0, msg_update(3, "c", 75, 1)),
            (0, msg_hb(70)),
            (1, msg_hb(80)),
        ],
        raw_schema,
    )
    return b0, b1


def _assert_b1_applied_once(spark, eng):
    st = eng.state.read()
    assert (st["state"], st["step_id"]) == ("OK", Decimal(70))
    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {
        1: "a",
        2: "b",
    }
    pending = os.path.join(eng.pending_dir, f"v{eng.state.latest()['pending']}")
    assert spark.read.parquet(pending).count() == 1  # step 75, carried once


def test_replay_after_publish_builds_on_the_manifest_before(spark, tmp_path):
    """A batch that published but whose source offsets Spark never
    committed is replayed with the same batch id, as often as the driver
    crashes after publishing: each replay must build on the manifest
    before the batch's first attempt, or its own heartbeat (step 70)
    would flag its own event (step 60) as out-of-order and stop the
    stream, and its pending event would be carried twice."""
    tmp = str(tmp_path)
    b0, b1 = _b0_b1(spark)
    eng = make_engine(spark, tmp)
    eng.process_batch(b0, 0)
    eng.process_batch(b1, 1)
    for _ in range(2):  # two more attempts, each publishing again
        eng = make_engine(spark, tmp)
        eng.process_batch(b1, 1)
        _assert_b1_applied_once(spark, eng)


def test_replay_after_compaction_builds_on_the_manifest_before(spark, tmp_path):
    """`--compact-and-exit` between a batch's publish and its replay
    publishes a manifest that carries the batch's replay base forward:
    the replay still builds on the manifest before the batch, and the
    next batch builds on the compacted version."""
    from types import SimpleNamespace

    from aardappel_spark.__main__ import _compact

    tmp = str(tmp_path)
    dst = os.path.join(tmp, "dst")

    def compact():
        _compact(
            spark,
            SimpleNamespace(dedup_exact=False, setsim_dedup=False),
            SimpleNamespace(streams=[SimpleNamespace(dst_table=dst)]),
            {dst: (META, DST_SCHEMA)},
            os.path.join(tmp, "work"),
        )

    b0, b1 = _b0_b1(spark)
    eng = make_engine(spark, tmp)
    eng.process_batch(b0, 0)
    eng.process_batch(b1, 1)
    compact()
    eng = make_engine(spark, tmp)
    eng.process_batch(b1, 1)
    _assert_b1_applied_once(spark, eng)

    compact()
    compacted = eng.tables[0].current_version()
    eng = make_engine(spark, tmp)
    eng.process_batch(
        spark.createDataFrame(
            [(0, msg_update(4, "d", 90, 1)), (0, msg_hb(95)), (1, msg_hb(95))],
            "partition int, value string",
        ),
        2,
    )
    assert eng.tables[0].versions() == [compacted, eng.tables[0].current_version()]
    assert {r.user_id: r.value for r in eng.tables[0].current().collect()} == {
        1: "a",
        2: "b",
        3: "c",
        4: "d",
    }


def test_one_manifest_is_the_only_version_mechanism(spark, tmp_path):
    """Two applying batches, each followed by a pending-only one: the
    work dir keeps one version mechanism — the newest manifest and the
    one before it, the pending dirs they name, and the table's current
    and previous versions, the previous one still readable after the
    pending-only publish — and no `_state/CURRENT`, `_hb/`, `_off/` or
    table `CURRENT`."""
    tmp = str(tmp_path)
    raw_schema = "partition int, offset long, value string"
    eng = make_engine(spark, tmp)
    for i, rows in enumerate(
        [
            [(0, 1, msg_update(1, "a", 10, 1)), (0, 2, msg_hb(50)), (1, 3, msg_hb(50))],
            # partition 1 silent: the quorum stays at 50, all pending
            [(0, 4, msg_update(2, "b", 60, 1)), (0, 5, msg_hb(70))],
            [(0, 6, msg_update(1, "c", 80, 1)), (0, 7, msg_hb(90)), (1, 8, msg_hb(90))],
            # partition 1 silent again: the quorum stays at 90
            [(0, 9, msg_update(3, "d", 95, 1)), (0, 10, msg_hb(99))],
        ]
    ):
        eng.process_batch(spark.createDataFrame(rows, raw_schema), i)

    work, dst = os.path.join(tmp, "work"), os.path.join(tmp, "dst")
    assert sorted(os.listdir(work)) == ["_manifest", "_pending"]
    assert sorted(os.listdir(os.path.join(work, "_manifest"))) == ["v2.json", "v3.json"]
    assert sorted(os.listdir(os.path.join(work, "_pending"))) == ["v2", "v3"]
    # batch 0 committed v1, batch 2 committed v3 (the version after seq 2)
    assert sorted(os.listdir(dst)) == ["v1", "v3"]
    tbl = eng.tables[0]
    assert tbl.versions() == [1, 3] and tbl.current_version() == 3
    assert {r.user_id: r.value for r in tbl.read_version(1).collect()} == {1: "a"}
    assert {r.user_id: r.value for r in tbl.current().collect()} == {1: "c", 2: "b"}


@pytest.mark.parametrize("older", ["_state/CURRENT", "_pending/v0/x.parquet", "_hb/v0.json", "_off/v0.json"])
def test_work_dir_from_before_the_manifest_is_refused(spark, tmp_path, older):
    """A work dir holding any store of the engine before the manifest —
    `_state` after a sync point, or only the pending, heartbeat and
    offset snapshots of pending-only batches — is not resumed: the
    engine refuses to start, naming the dir and the way out."""
    import re

    path = tmp_path / "work" / older
    path.parent.mkdir(parents=True)
    path.write_text("1")
    with pytest.raises(RuntimeError) as err:
        make_engine(spark, str(tmp_path))
    assert re.search(re.escape(str(tmp_path / "work")) + ".*new --work-dir", str(err.value))


def test_versioned_table_compact_files(spark, tmp_path):
    """compact_files() collapses each bucket to one parquet file with
    byte-identical content, visible once a manifest publishes it, and
    the next incremental commit still carries untouched buckets from the
    compacted version — the OPTIMIZE housekeeping job a long-running
    stream needs once per-bucket file counts grow."""
    m = Manifest(str(tmp_path / "work"))
    vt = VersionedTable(
        spark, str(tmp_path / "tbl"), META, DST_SCHEMA, m, n_buckets=4
    )
    # a full write under 32 shuffle partitions scatters every bucket
    # across many tasks -> many files per bucket
    rows = [(i, f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "user_id bigint, value string").repartition(16)
    vt.commit(df, touched=None)
    m.write()
    before = vt.n_data_files()
    assert max(before.values()) > 1, before  # the small-file problem is real

    new_v = vt.compact_files()
    assert new_v == 2 and vt.current_version() == 1  # staged, unpublished
    m.write()
    assert vt.current_version() == 2
    after = vt.n_data_files()
    assert set(after) == set(before) and all(n == 1 for n in after.values()), after
    assert sorted((r.user_id, r.value) for r in vt.current().collect()) == rows

    # incremental commit after compaction: touched bucket rewritten,
    # untouched buckets carried over from the compacted version
    upd = spark.createDataFrame([(0, "NEW")], "user_id bigint, value string")
    touched = upd.select(vt.bucket_of().alias("b")).distinct().collect()
    tb = [r.b for r in touched]
    post = vt.read_buckets(tb).filter(~F.col("user_id").isin([0])).unionByName(upd)
    vt.commit(post, touched=tb)
    m.write()
    got = dict((r.user_id, r.value) for r in vt.current().collect())
    assert got[0] == "NEW" and got[199] == "v199" and len(got) == 200


def test_versioned_table_time_travel(spark, tmp_path):
    """Snapshot reads: read_version(v) returns the table EXACTLY as of
    v regardless of later commits (immutable version dirs + one atomic
    manifest publish = snapshot isolation for readers); vacuumed
    versions fail loudly. Retention = each table's current and previous
    version."""
    import pytest as _pytest

    m = Manifest(str(tmp_path / "work"))
    vt = VersionedTable(
        spark, str(tmp_path / "tbl"), META, DST_SCHEMA, m, n_buckets=4
    )
    v1_rows = [(i, f"a{i}") for i in range(40)]
    vt.commit(
        spark.createDataFrame(v1_rows, "user_id bigint, value string"),
        touched=None,
    )
    m.write()

    # incremental upsert -> v2; v1 must still read as of v1
    upd = spark.createDataFrame([(0, "NEW")], "user_id bigint, value string")
    tb = [r.b for r in upd.select(vt.bucket_of().alias("b")).distinct().collect()]
    post = vt.read_buckets(tb).filter(F.col("user_id") != 0).unionByName(upd)
    vt.commit(post, touched=tb)
    m.write()

    assert vt.versions() == [1, 2]
    as_of_1 = dict(
        (r.user_id, r.value) for r in vt.read_version(1).collect()
    )
    assert as_of_1 == dict(v1_rows)  # pre-upsert snapshot, post-commit
    now = dict((r.user_id, r.value) for r in vt.current().collect())
    assert now[0] == "NEW" and len(now) == 40

    # a third commit vacuums v1: the stale snapshot read fails loudly
    upd3 = spark.createDataFrame([(1, "NEWER")], "user_id bigint, value string")
    tb3 = [r.b for r in upd3.select(vt.bucket_of().alias("b")).distinct().collect()]
    post3 = vt.read_buckets(tb3).filter(F.col("user_id") != 1).unionByName(upd3)
    vt.commit(post3, touched=tb3)
    m.write()
    assert vt.versions() == [2, 3]
    as_of_2 = dict((r.user_id, r.value) for r in vt.read_version(2).collect())
    assert as_of_2[0] == "NEW" and as_of_2.get(1) == "a1"
    with _pytest.raises(ValueError, match="not retained"):
        vt.read_version(1)
    # version 0 = the empty pre-history table
    assert vt.read_version(0).count() == 0
