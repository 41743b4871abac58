"""Lock (W7) and source-layer tests — scenarios from the reference's
locker_test.go:21-212 (create/steal/TTL/renew)."""

import json
import os
import time

from aardappel_spark.locker import Locker, LockStorage
from aardappel_spark.sources import read_file_batch, read_file_stream


def test_lock_acquire_and_mutual_exclusion(tmp_path):
    store = LockStorage(str(tmp_path / "lock.json"))
    a = Locker(store, ttl_seconds=60)
    b = Locker(store, ttl_seconds=60)
    assert a.try_acquire()
    assert not b.try_acquire()  # held by a
    assert a.try_acquire()  # re-entrant for the owner


def test_lock_steal_after_ttl(tmp_path):
    store = LockStorage(str(tmp_path / "lock.json"))
    a = Locker(store, ttl_seconds=0.05)
    b = Locker(store, ttl_seconds=60)
    assert a.try_acquire()
    assert not b.try_acquire()
    time.sleep(0.1)  # a's TTL expires
    assert b.try_acquire()  # stolen (locker_test.go steal scenario)
    assert not a.renew()  # a lost it; renewal must fail


def test_lock_renew_extends(tmp_path):
    store = LockStorage(str(tmp_path / "lock.json"))
    a = Locker(store, ttl_seconds=0.2)
    assert a.try_acquire()
    time.sleep(0.1)
    assert a.renew()
    time.sleep(0.15)  # past original deadline, within renewed one
    b = Locker(store, ttl_seconds=60)
    assert not b.try_acquire()


def test_lock_release(tmp_path):
    store = LockStorage(str(tmp_path / "lock.json"))
    a = Locker(store, ttl_seconds=60)
    b = Locker(store, ttl_seconds=60)
    assert a.try_acquire()
    assert a.release()
    assert b.wait_acquire(check_interval=0.01, timeout=1)


def test_file_sources(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.jsonl", "w") as f:
        f.write(json.dumps({"partition": 0, "offset": 1, "value": "{}"}) + "\n")
    batch = read_file_batch(spark, str(src))
    assert batch.count() == 1
    stream = read_file_stream(spark, str(src))
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["partition", "offset", "value"]


def test_lock_concurrent_acquisition_single_winner(tmp_path):
    """ADVICE r1: acquisition must be a real CAS — N threads racing on a
    fresh lock must produce exactly one winner."""
    import threading

    from aardappel_spark.locker import Locker, LockStorage

    path = str(tmp_path / "race.lock")
    results = []
    barrier = threading.Barrier(8)

    def contend():
        lk = Locker(LockStorage(path), ttl_seconds=30)
        barrier.wait()
        results.append(lk.try_acquire())

    threads = [threading.Thread(target=contend) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count(True) == 1


def test_lock_stale_mutex_steal_single_winner(tmp_path):
    """ADVICE r2: the stale-mutex steal must be single-winner — N threads
    all observing the same stale mutex dir race the steal, and exactly one
    may end up inside the critical section (the rmdir+mkdir steal let a
    loser rmdir the winner's freshly created mutex)."""
    import threading

    from aardappel_spark.locker import LockStorage

    path = str(tmp_path / "race.lock")
    store = LockStorage(path, mutex_ttl=0.5)
    os.mkdir(store._mutex())
    stale = time.time() - 60
    os.utime(store._mutex(), (stale, stale))

    results = []
    barrier = threading.Barrier(8)

    def contend():
        s = LockStorage(path, mutex_ttl=0.5)
        barrier.wait()
        results.append(s._enter())

    threads = [threading.Thread(target=contend) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count(True) == 1
    assert os.path.isdir(store._mutex())  # the winner holds a fresh mutex


# -- Kafka source logic, broker-free (S1) ------------------------------------


def test_kafka_reader_options():
    from aardappel_spark.sources import kafka_reader_options

    opts = kafka_reader_options(
        "b1:9092,b2:9092", ["t1", "t2"], max_offsets_per_trigger=1000
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "t1,t2",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
        "maxOffsetsPerTrigger": "1000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_reader_options("b", "t")


def test_kafka_projection_on_record_schema(spark):
    """The column logic applied to Kafka's record shape (binary values,
    topic discrimination) — everything but the broker connection. The
    topic lookup must not use a deprecated API: a FutureWarning fails."""
    import warnings

    from aardappel_spark.sources import project_kafka_records

    rows = [
        ("orders_topic", 0, 7, bytearray(b'{"update":{}}')),
        ("users_topic", 1, 9, bytearray(b'{"erase":{}}')),
        ("stray_topic", 2, 1, bytearray(b"x")),
    ]
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset long, value binary"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        projected = project_kafka_records(df, {"orders_topic": 0, "users_topic": 1})
    out = projected.collect()
    got = {(r.table_id, r.partition, r.offset, r.value) for r in out}
    assert got == {
        (0, 0, 7, '{"update":{}}'),
        (1, 1, 9, '{"erase":{}}'),
        (None, 2, 1, "x"),  # unmapped topic -> null table id
    }
    # without a mapping, no table_id column at all
    assert "table_id" not in project_kafka_records(df).columns


def test_ts_unit_guard_rejects_micros(spark, tmp_path):
    """ADVICE r3: an int64 ts column holding epoch-MICROS must fail loudly
    instead of flowing through load_events_ns 1000x too small."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from aardappel_spark.sources import load_events_ns

    micros_2024 = 1_704_067_207_179_575  # ~2024-01-01 in epoch-micros
    nanos_2024 = micros_2024 * 1000

    bad = tmp_path / "bad"
    bad.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([micros_2024, micros_2024 + 5], pa.int64()),
                  "event_id": pa.array([1, 2], pa.int64())}),
        str(bad / "events.parquet"),
    )
    with pytest.raises(ValueError, match="not.*epoch-nanoseconds"):
        load_events_ns(spark, str(bad))

    good = tmp_path / "good"
    good.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([nanos_2024, nanos_2024 + 5000], pa.int64()),
                  "event_id": pa.array([1, 2], pa.int64())}),
        str(good / "events.parquet"),
    )
    assert load_events_ns(spark, str(good)).count() == 2


def test_ts_unit_guard_handles_directory_datasets(spark, tmp_path):
    """ADVICE r4: a Spark-written DIRECTORY dataset (part files) with an
    int64 ts column must be validated (not crash with IsADirectoryError)
    — bad units still rejected, good units still load."""
    import pytest

    from aardappel_spark.sources import load_events_ns

    micros_2024 = 1_704_067_207_179_575
    nanos_2024 = micros_2024 * 1000

    bad = tmp_path / "bad"
    spark.createDataFrame(
        [(micros_2024, 1), (micros_2024 + 5, 2)], "ts long, event_id long"
    ).repartition(2).write.parquet(str(bad / "events.parquet"))
    with pytest.raises(ValueError, match="not.*epoch-nanoseconds"):
        load_events_ns(spark, str(bad))

    good = tmp_path / "good"
    spark.createDataFrame(
        [(nanos_2024, 1), (nanos_2024 + 5000, 2)], "ts long, event_id long"
    ).repartition(2).write.parquet(str(good / "events.parquet"))
    assert load_events_ns(spark, str(good)).count() == 2


def test_lock_renewal_thread_keeps_lock_beyond_ttl(tmp_path):
    """r11 ADVICE (medium): without a renewal thread any holder
    running longer than one TTL silently loses the lock to a standby —
    two concurrent writers. The half-TTL renewer (locker_thread.go)
    must keep the lock held indefinitely, and stopping it must let the
    lock expire normally."""
    path = str(tmp_path / "lock.json")
    a = Locker(LockStorage(path), ttl_seconds=0.6)
    assert a.try_acquire()
    renewer = a.start_renewal()
    b = Locker(LockStorage(path), ttl_seconds=0.6)
    deadline = time.time() + 1.8  # 3x TTL: unrenewed, b would win
    while time.time() < deadline:
        assert not b.try_acquire(), "renewed lock was stolen"
        time.sleep(0.15)
    assert not renewer.lost
    renewer.stop()
    time.sleep(1.0)  # > TTL after the last renewal
    assert b.try_acquire()


def test_lock_renewal_fires_on_lost_and_stops_writing(tmp_path):
    """A failed renew means the lock was stolen: the renewer must flip
    .lost, which the holder polls to stop the stream, and exit without
    renewing again."""
    path = str(tmp_path / "lock.json")
    a = Locker(LockStorage(path), ttl_seconds=0.4)
    assert a.try_acquire()
    renewer = a.start_renewal()
    # simulate a steal: another owner overwrites the lock row directly
    stolen = {"lock_owner": "lock_intruder", "lock_deadline": time.time() + 99}
    with open(path, "w") as f:
        json.dump(stolen, f)
    deadline = time.time() + 3.0
    while not renewer.lost and time.time() < deadline:
        time.sleep(0.05)
    assert renewer.lost
    time.sleep(0.5)  # the thread exited; it never renews again
    assert not renewer._thread.is_alive()
    with open(path) as f:
        assert json.load(f) == stolen
    renewer.stop()  # idempotent after self-exit


def test_scale_probe_flush_merges_never_clobbers(tmp_path, monkeypatch):
    """r11 verdict #6: a SCALE_PROBE_ONLY subset run (or an aborted
    full run) flushing partial results must MERGE into the committed
    artifact — committed rows, and committed keys within a re-probed
    row, provably survive."""
    import tools.scale_probe as sp

    art = tmp_path / "SCALE_PROBE.json"
    committed = {
        "n": 10,
        "x_big": 100,
        "queries": {
            "tpch_q1": {"t_x1_sec": 1.0, "t_x10_sec": 9.0, "ratio": 9.0,
                        "t_x100_dialed_sec": 80.0},
            "cdc_apply": {"t_x1_sec": 0.5, "t_x10_sec": 4.0},
        },
    }
    art.write_text(json.dumps(committed))

    def fake_path(*parts):
        return str(art)

    monkeypatch.setattr(
        sp.os.path, "join",
        lambda *p: str(art) if p and p[-1] == "SCALE_PROBE.json"
        else os.path.join(*p),
    )
    # subset run: re-probes ONLY tpch_q1's x10 legs, nothing else
    sp._flush_results(
        {"n": 10, "queries": {"tpch_q1": {"t_x1_sec": 1.1,
                                          "t_x10_sec": 9.5, "ratio": 8.6}}}
    )
    merged = json.loads(art.read_text())
    # the un-probed committed row survives untouched
    assert merged["queries"]["cdc_apply"] == committed["queries"]["cdc_apply"]
    # the re-probed row keeps its committed dialed leg and takes the
    # fresh x10 measurements
    q1 = merged["queries"]["tpch_q1"]
    assert q1["t_x100_dialed_sec"] == 80.0 and q1["t_x10_sec"] == 9.5
    # committed TOP-LEVEL keys this run didn't produce survive too —
    # "x_big" from a prior full run must not be dropped by a subset
    # run (r12 ADVICE: same clobber class as the query rows)
    assert merged["x_big"] == 100 and merged["n"] == 10
