"""Monitoring exposition + heartbeat guard (S14/W2) and the key-filter
store path (S13)."""

import json
import os
import urllib.request
from decimal import Decimal

from aardappel_spark.casting import TableMeta
from aardappel_spark.metrics import MetricsRegistry
from aardappel_spark.pmon import HeartbeatGuard, MonitoringServer, start_monitoring
from aardappel_spark.streaming import ReplicationEngine, StreamConfig

META = TableMeta(
    "users",
    primary_key=["user_id"],
    columns={"user_id": "Int64", "value": "Optional<Utf8>"},
)


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, ""


def _engine(spark, tmp, **kw):
    return ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(0, META, os.path.join(tmp, "dst"), "user_id bigint, value string")
        ],
        expected_partitions=2,
        work_dir=os.path.join(tmp, "work"),
        **kw,
    )


def test_metrics_scrape_and_manual_readiness():
    reg = MetricsRegistry()
    reg.on_batch_applied(
        modifications=7,
        per_table={"users": 7},
        commit_seconds=0.1,
        quorum_wait_seconds=0.05,
        quorum_step_ms=None,
    )
    srv = MonitoringServer(reg)
    srv.start()
    try:
        code, body = _get(srv.port, "/metrics")
        assert code == 200
        assert "modifications_count 7" in body
        assert 'modifications_count_per_table{stream_tag="users"} 7' in body
        assert "commit_latency_count 1" in body
        # readiness follows SetCompleted (pmon.go:152-162)
        assert _get(srv.port, "/readyz")[0] == 503
        srv.set_ready(True)
        assert _get(srv.port, "/readyz")[0] == 200
        assert _get(srv.port, "/nope")[0] == 404
    finally:
        srv.stop()


def test_readyz_tracks_engine_state(spark, tmp_path):
    from aardappel_spark.streaming import STATE_FATAL

    eng = _engine(spark, str(tmp_path))
    srv, guard = start_monitoring(eng)
    try:
        assert _get(srv.port, "/readyz")[0] == 200
        st = eng.state.read()
        eng.state.write((st["step_id"], st["tx_id"]), st["stage"], STATE_FATAL, "boom")
        assert _get(srv.port, "/readyz")[0] == 503
    finally:
        guard.stop()
        srv.stop()


def test_heartbeat_guard_fires_and_resets(spark, tmp_path):
    """W2 (guardLoop, hb_tracker.go:76-122): no full heartbeat set within
    the timeout -> topic_without_hb=1 for streams with missing
    partitions; healthy again -> gauge resets to 0."""
    eng = _engine(spark, str(tmp_path), stream_partitions={0: 2})
    t0 = 1000.0
    guard = HeartbeatGuard(eng, timeout_seconds=10, clock=lambda: t0)

    # within the timeout: quiet start-up grace, nothing fires
    assert guard.check_once(now=t0 + 5) == {"users": False}
    assert eng.metrics.topic_without_hb["users"] == 0

    # past the timeout with one of two partitions silent
    eng.heartbeats.highs[(0, 0)] = (Decimal(5), Decimal(0))
    missing = guard.check_once(now=t0 + 60)
    assert missing == {"users": True}
    assert eng.metrics.topic_without_hb["users"] == 1

    # full set arrives: the tracker stamps full_at; guard resets
    eng.heartbeats.highs[(0, 1)] = (Decimal(6), Decimal(0))
    eng.heartbeats.full_at = t0 + 61
    assert guard.check_once(now=t0 + 65) == {"users": False}
    assert eng.metrics.topic_without_hb["users"] == 0


def test_engine_stamps_last_full_hb_time(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    raw_schema = "partition int, offset long, value string"
    b = spark.createDataFrame(
        [
            (0, 1, json.dumps({"resolved": [10, 0]})),
            (1, 2, json.dumps({"resolved": [20, 0]})),
        ],
        raw_schema,
    )
    assert eng.heartbeats.full_at is None
    eng.process_batch(b, 0)
    assert eng.heartbeats.full_at is not None


def test_store_blocked_keys_round_trip(spark, tmp_path):
    """S13 store path: store -> reload -> filter drops exactly the
    blocked keys; batches capped at 100 (key_filter_ydb.go:24)."""
    from pyspark.sql import functions as F

    from aardappel_spark.keyfilter import (
        blocked_keys_from_table,
        filter_blocked_keys,
        serialize_key_col,
        store_blocked_keys,
    )

    path = str(tmp_path / "keyfilter")
    # serialized form of keys ["2"] and ["7"] for table path "users"
    blocked_raw = [b"\x01users2", b"\x01users7"]
    n = store_blocked_keys(spark, path, "inst-a", blocked_raw)
    assert n == 1  # 2 keys -> one <=100 batch
    # a different instance's keys must not leak into ours
    store_blocked_keys(spark, path, "inst-b", [b"\x01users3"])

    blocked = blocked_keys_from_table(spark.read.parquet(path), "inst-a")
    events = spark.createDataFrame(
        [([str(i)],) for i in range(10)], "key array<string>"
    )
    kept = filter_blocked_keys(events, blocked, table_path="users")
    kept_keys = sorted(r.key[0] for r in kept.collect())
    assert kept_keys == sorted(str(i) for i in range(10) if i not in (2, 7))

    # batching: 250 keys -> 3 store commits
    many = [f"\x01users{i:04d}".encode() for i in range(250)]
    n = store_blocked_keys(spark, str(tmp_path / "kf2"), "i", many)
    assert n == 3


def test_guard_single_stream_uses_expected_partitions(spark, tmp_path):
    """No explicit layout on a single-stream engine: the census expects
    the engine's expected_partitions, so one of two silent partitions
    still reads as missing."""
    eng = _engine(spark, str(tmp_path))  # expected_partitions=2, no layout
    t0 = 1000.0
    guard = HeartbeatGuard(eng, timeout_seconds=10, clock=lambda: t0)
    eng.heartbeats.highs[(0, 0)] = (Decimal(5), Decimal(0))
    assert guard.check_once(now=t0 + 60) == {"users": True}
    eng.heartbeats.highs[(0, 1)] = (Decimal(6), Decimal(0))
    eng.heartbeats.full_at = None  # still stale by clock...
    missing = guard.check_once(now=t0 + 60)
    # ...but the full set is present, so the census finds nothing missing
    assert missing == {"users": False}


def test_from_config_wires_monitoring(spark, tmp_path):
    """mon_server.listen in the config starts /metrics + /readyz and the
    guard, like doMain (main.go:231-254)."""
    from aardappel_spark.config import EngineConfig

    cfg = EngineConfig.from_dict(
        {
            "instance_id": "i1",
            "mon_server": {"listen": "127.0.0.1:0"},
            "streams": [{"src_topic": "/t/a", "dst_table": str(tmp_path / "a")}],
        }
    )
    eng = ReplicationEngine.from_config(
        spark,
        cfg,
        {str(tmp_path / "a"): (META, "user_id bigint, value string")},
        work_dir=str(tmp_path / "w"),
    )
    srv, guard = eng.monitoring
    try:
        assert _get(srv.port, "/readyz")[0] == 200
        assert "modifications_count" in _get(srv.port, "/metrics")[1]
        assert guard.timeout == cfg.max_expected_heartbeat_interval
    finally:
        guard.stop()
        srv.stop()
