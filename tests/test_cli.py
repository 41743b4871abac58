"""CLI lifecycle tests: ``python -m aardappel_spark`` drives the same
process shape as the reference binary (cmd/aardappel/main.go) — config
load, instance lock, monitoring, stream run, graceful exit."""

import json
import os

import pytest

from aardappel_spark.__main__ import main


def _write_config(tmp, src_dir, multi_instance=False):
    cfg = os.path.join(tmp, "config.yaml")
    with open(cfg, "w") as f:
        f.write(
            "\n".join(
                [
                    f"src_connection_string: {src_dir}",
                    f"instance_id: cli-test",
                    f"multiple_instances_mode: {'true' if multi_instance else 'false'}",
                    "max_expected_heartbeat_interval: 10",
                    "streams:",
                    f"  - src_topic: /topic/users",
                    f"    dst_table: {os.path.join(tmp, 'dst_users')}",
                    "    consumer: c1",
                ]
            )
            + "\n"
        )
    return cfg


def _write_metas(tmp):
    metas = os.path.join(tmp, "metas.json")
    with open(metas, "w") as f:
        json.dump(
            {
                os.path.join(tmp, "dst_users"): {
                    "primary_key": ["user_id"],
                    "columns": {"user_id": "Int64", "value": "Optional<Utf8>"},
                    "schema": "user_id bigint, value string",
                }
            },
            f,
        )
    return metas


def _write_source(tmp):
    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)

    def msg_update(uid, value, step, txid):
        return json.dumps(
            {"update": {"value": str(value)}, "key": [uid], "ts": [step, txid]}
        )

    def msg_hb(step):
        return json.dumps({"resolved": [step, 0]})

    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for partition, offset, value in [
            (0, 1, msg_update(1, "u1", 10, 1)),
            (0, 2, msg_update(2, "u2", 20, 1)),
            (0, 3, msg_hb(100)),
        ]:
            f.write(
                json.dumps({"partition": partition, "offset": offset, "value": value})
                + "\n"
            )
    return src


def test_cli_available_now_end_to_end(spark, tmp_path, capsys):
    """--available-now drains the source, applies the quorum batch, and
    exits 0 with a stats line; the destination holds the applied rows."""
    tmp = str(tmp_path)
    src = _write_source(tmp)
    cfg = _write_config(tmp, src)
    metas = _write_metas(tmp)

    rc = main(
        [
            "--config", cfg,
            "--table-metas", metas,
            "--work-dir", os.path.join(tmp, "work"),
            "--available-now",
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["state"] == "OK"
    assert stats["modifications"] == 2

    rows = {r.user_id: r.value for r in _users(spark, tmp).current().collect()}
    assert rows == {1: "u1", 2: "u2"}


USERS_META = {"user_id": "Int64", "value": "Optional<Utf8>"}
ORDERS_META = {"order_id": "Int64", "amount": "Optional<Utf8>"}


def _table(spark, tmp, name, key, columns, schema):
    """Destination ``dst_<name>`` as the newest manifest of the run's
    work dir ``tmp/work`` names it."""
    from aardappel_spark.casting import TableMeta
    from aardappel_spark.streaming import Manifest, VersionedTable

    return VersionedTable(
        spark, os.path.join(tmp, f"dst_{name}"), TableMeta(name, [key], columns),
        schema, Manifest(os.path.join(tmp, "work")),
    )


def _users(spark, tmp):
    return _table(spark, tmp, "users", "user_id", USERS_META, "user_id bigint, value string")


def _orders(spark, tmp):
    return _table(
        spark, tmp, "orders", "order_id", ORDERS_META, "order_id bigint, amount string"
    )


@pytest.mark.parametrize("consumed_file", ["kept", "gone"])
def test_cli_cdc_fresh_checkpoint_keeps_destination_and_position(
    spark, tmp_path, capsys, consumed_file
):
    """A CDC run with a fresh --checkpoint over an existing work dir
    restarts Spark's batch ids at 0. The destination and the `_state`
    position must survive it: the second run applies only the new
    file's changes on top of the first run's rows, whether the source
    still holds the consumed file (re-delivered, dropped by the offset
    guard) or has lost it (as after topic retention)."""
    tmp = str(tmp_path)
    src = _write_source(tmp)
    cfg = _write_config(tmp, src)
    metas = _write_metas(tmp)
    work = os.path.join(tmp, "work")
    run = ["--config", cfg, "--table-metas", metas, "--work-dir", work, "--available-now"]
    assert main(run) == 0

    up = lambda uid, value, step: json.dumps(
        {"update": {"value": value}, "key": [uid], "ts": [step, 1]}
    )
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        for offset, value in [
            (4, up(2, "u2b", 110)),
            (5, up(3, "u3", 120)),
            (6, json.dumps({"resolved": [200, 0]})),
        ]:
            f.write(json.dumps({"partition": 0, "offset": offset, "value": value}) + "\n")
    if consumed_file == "gone":
        os.rename(os.path.join(src, "b1.jsonl"), os.path.join(tmp, "b1.jsonl"))
    capsys.readouterr()
    assert main(run + ["--checkpoint", os.path.join(tmp, "ckpt2")]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["state"] == "OK" and stats["modifications"] == 2

    rows = {r.user_id: r.value for r in _users(spark, tmp).current().collect()}
    assert rows == {1: "u1", 2: "u2b", 3: "u3"}
    from aardappel_spark.streaming import Manifest

    assert Manifest(work).read()["step_id"] == 200


def test_cli_lock_conflict_exits_standby(spark, tmp_path, capsys):
    """multiple_instances_mode + a held lock: the CLI polls as standby
    and gives up at --lock-timeout with exit code 3, touching nothing."""
    from aardappel_spark.locker import Locker, LockStorage

    tmp = str(tmp_path)
    src = _write_source(tmp)
    cfg = _write_config(tmp, src, multi_instance=True)
    metas = _write_metas(tmp)
    work = os.path.join(tmp, "work")
    os.makedirs(work, exist_ok=True)

    other = Locker(LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60)
    assert other.try_acquire()

    rc = main(
        [
            "--config", cfg,
            "--table-metas", metas,
            "--work-dir", work,
            "--available-now",
            "--lock-timeout", "0",
        ]
    )
    assert rc == 3
    assert not os.path.exists(os.path.join(tmp, "dst_users"))


def _write_two_streams(tmp):
    """A users + orders config, its metas and one source file: a change
    and a heartbeat per table, table_id-bearing lines."""
    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)

    def wire(table_id, partition, offset, value):
        return json.dumps(
            {"table_id": table_id, "partition": partition, "offset": offset, "value": value}
        )

    up = lambda col, val, key, step: json.dumps(
        {"update": {col: val}, "key": [key], "ts": [step, 1]}
    )
    hb = lambda step: json.dumps({"resolved": [step, 0]})
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for line in [
            wire(0, 0, 1, up("value", "u1", 1, 10)),
            wire(1, 0, 2, up("amount", "9.99", 100, 12)),
            wire(0, 0, 3, hb(50)),
            wire(1, 0, 4, hb(50)),
        ]:
            f.write(line + "\n")

    cfg = os.path.join(tmp, "config.yaml")
    with open(cfg, "w") as f:
        f.write(
            "\n".join(
                [
                    f"src_connection_string: {src}",
                    "instance_id: cli-multi",
                    "streams:",
                    "  - src_topic: /topic/users",
                    f"    dst_table: {os.path.join(tmp, 'dst_users')}",
                    "    consumer: c1",
                    "  - src_topic: /topic/orders",
                    f"    dst_table: {os.path.join(tmp, 'dst_orders')}",
                    "    consumer: c1",
                ]
            )
            + "\n"
        )
    metas = os.path.join(tmp, "metas.json")
    with open(metas, "w") as f:
        json.dump(
            {
                os.path.join(tmp, "dst_users"): {
                    "primary_key": ["user_id"],
                    "columns": {"user_id": "Int64", "value": "Optional<Utf8>"},
                    "schema": "user_id bigint, value string",
                },
                os.path.join(tmp, "dst_orders"): {
                    "primary_key": ["order_id"],
                    "columns": {"order_id": "Int64", "amount": "Optional<Utf8>"},
                    "schema": "order_id bigint, amount string",
                },
            },
            f,
        )
    return cfg, metas


def test_cli_multi_stream_routes_by_table(spark, tmp_path, capsys):
    """Two streams in the config: the CLI builds the table_id-bearing
    source schema, routes per table, and gates the cut across both
    streams' partitions (--expected-partitions 2)."""
    tmp = str(tmp_path)
    cfg, metas = _write_two_streams(tmp)
    rc = main(
        [
            "--config", cfg,
            "--table-metas", metas,
            "--work-dir", os.path.join(tmp, "work"),
            "--expected-partitions", "2",
            "--available-now",
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["modifications"] == 2 and stats["state"] == "OK"

    users = _users(spark, tmp).current()
    orders = _orders(spark, tmp).current()
    assert {r.user_id: r.value for r in users.collect()} == {1: "u1"}
    assert {r.order_id: r.amount for r in orders.collect()} == {100: "9.99"}


def test_cli_recorded_kafka_source_end_to_end(spark, tmp_path):
    """--source-format recorded-kafka: the CLI builds the topic->table_id
    map from the config's stream order (the reference's TableId-by-index
    assignment, cmd/aardappel/main.go:204-208) and drives recorded Kafka
    record batches through run_stream end-to-end."""
    from aardappel_spark.sources import record_kafka_fixture

    tmp = str(tmp_path)
    rec = os.path.join(tmp, "recorded")

    def msg_update(uid, value, step, txid):
        return json.dumps(
            {"update": {"value": str(value)}, "key": [uid], "ts": [step, txid]}
        )

    def msg_order(oid, amount, step, txid):
        return json.dumps(
            {"update": {"amount": amount}, "key": [oid], "ts": [step, txid]}
        )

    record_kafka_fixture(
        os.path.join(rec, "batch1.jsonl"),
        [
            ("users_cdc", 0, 1, None, msg_update(1, "u1", 10, 1).encode(), 1000),
            ("orders_cdc", 0, 1, None, msg_order(100, "9.99", 12, 1).encode(), 1001),
            ("users_cdc", 0, 2, None, json.dumps({"resolved": [50, 0]}).encode(), 1002),
            ("orders_cdc", 0, 2, None, json.dumps({"resolved": [30, 0]}).encode(), 1003),
        ],
    )

    cfg = os.path.join(tmp, "config.yaml")
    with open(cfg, "w") as f:
        f.write(
            "\n".join(
                [
                    f"src_connection_string: {rec}",
                    "instance_id: cli-kafka-test",
                    "multiple_instances_mode: false",
                    "max_expected_heartbeat_interval: 10",
                    "streams:",
                    "  - src_topic: users_cdc",
                    f"    dst_table: {os.path.join(tmp, 'dst_users')}",
                    "    consumer: c1",
                    "  - src_topic: orders_cdc",
                    f"    dst_table: {os.path.join(tmp, 'dst_orders')}",
                    "    consumer: c1",
                ]
            )
            + "\n"
        )
    metas = os.path.join(tmp, "metas.json")
    with open(metas, "w") as f:
        json.dump(
            {
                os.path.join(tmp, "dst_users"): {
                    "primary_key": ["user_id"],
                    "columns": {"user_id": "Int64", "value": "Optional<Utf8>"},
                    "schema": "user_id bigint, value string",
                },
                os.path.join(tmp, "dst_orders"): {
                    "primary_key": ["order_id"],
                    "columns": {"order_id": "Int64", "amount": "Optional<Utf8>"},
                    "schema": "order_id bigint, amount string",
                },
            },
            f,
        )

    rc = main(
        [
            "--config", cfg,
            "--table-metas", metas,
            "--work-dir", os.path.join(tmp, "work"),
            "--expected-partitions", "2",
            "--available-now",
            "--source-format", "recorded-kafka",
        ]
    )
    assert rc == 0
    # quorum = min(50, 30): both step-10/12 changes applied
    users = {r.user_id: r.value for r in spark.read.schema(
        "user_id bigint, value string"
    ).parquet(os.path.join(tmp, "dst_users", "v*", "pkb=*")).collect()}
    assert users == {1: "u1"}


def test_run_query_cli_list_and_run(spark, capsys):
    """The query-runner CLI lists the registry and runs a query (JSON
    mode) against the shared session; unknown names suggest neighbors."""
    from aardappel_spark import run_query
    from aardappel_spark.registry import QUERIES

    assert run_query.main(["--list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert set(out) == set(QUERIES)

    assert (
        run_query.main(
            ["dedup_exact", "--sf-dir", "/root/testdata/sf0.001", "--json", "--limit", "3"]
        )
        == 0
    )
    captured = capsys.readouterr()
    lines = [l for l in captured.out.strip().splitlines() if l.startswith("{")]
    assert 1 <= len(lines) <= 3
    import json as _json

    row = _json.loads(lines[0])
    assert "rep_doc_id" in row and "n_copies" in row

    assert run_query.main(["dedup_exactt"]) == 2
    assert "did you mean" in capsys.readouterr().err


def test_run_query_oracle_reads_null_text_as_empty(tmp_path):
    """run_query --oracle reads the documents table through the same
    views as every oracle check: NULL text reads as '', as the engine's
    ingest normalizes it."""
    import duckdb

    from aardappel_spark.run_query import oracle_db

    path = os.path.join(tmp_path, "documents.parquet")
    duckdb.execute(
        "COPY (SELECT 1::BIGINT AS doc_id, NULL::VARCHAR AS text, 'en' AS lang,"
        f" 's1' AS source, 0 AS n_chars) TO '{path}' (FORMAT PARQUET)"
    )
    con = oracle_db(str(tmp_path))
    assert con.execute("SELECT doc_id, text FROM documents").fetchall() == [(1, "")]


def test_cli_compact_and_exit(spark, tmp_path, capsys):
    """--compact-and-exit is the maintenance mode: after a normal run
    leaves multi-file buckets, it rewrites every destination to one
    file per bucket under the instance lock, reports the delta, and the
    data is unchanged."""
    tmp = str(tmp_path)
    src = _write_source(tmp)
    cfg = _write_config(tmp, src)
    metas = _write_metas(tmp)
    work = os.path.join(tmp, "work")

    rc = main(
        ["--config", cfg, "--table-metas", metas, "--work-dir", work,
         "--available-now"]
    )
    assert rc == 0
    capsys.readouterr()

    vt = _users(spark, tmp)
    v_before = vt.current_version()
    before = {
        r.user_id: r.value for r in vt.current().collect()
    }

    rc = main(
        ["--config", cfg, "--table-metas", metas, "--work-dir", work,
         "--compact-and-exit"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted" in out

    assert vt.current_version() == v_before + 1
    after_files = vt.n_data_files()
    assert all(n == 1 for n in after_files.values()), after_files
    assert {
        r.user_id: r.value for r in vt.current().collect()
    } == before


def test_cli_setsim_dedup_mode_end_to_end(spark, tmp_path):
    """--setsim-dedup: the incremental set-similarity twin drivable from
    the CLI (r10 verdict #8) — a JSONL doc stream in, per-batch pair
    parquet out, and the emitted VERIFIED pairs equal the batch
    kernel's over the union corpus. A second drain over the same files
    plus one new doc must only emit pairs involving the new doc (the
    sets-store anti-join carries history across runs)."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "pack my box with five dozen brown liquor jugs"),
        (4, "pack my box with five dozen brown liquor jugs"),
        (5, "completely unrelated words about gardening and tulips"),
    ]
    src = os.path.join(tmp_path, "docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for i, text in docs:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    cfg = _write_config(tmp_path, src)
    work = os.path.join(tmp_path, "work")

    rc = main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--setsim-dedup",
        "--setsim-tau", "1/2",
        "--setsim-shingle", "2",
        "--available-now",
    ])
    assert rc == 0

    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    kernel = {
        (r.id_a, r.id_b)
        for r in setsim_prefix_pairs(
            batch_df, tau_num=1, tau_den=2, shingle=2
        ).filter("verified").collect()
    }
    got = spark.read.parquet(os.path.join(work, "setsim_pairs"))
    emitted = {
        (r.id_a, r.id_b) for r in got.filter("verified").collect()
    }
    assert emitted == kernel and kernel  # fixture plants near-dups

    # run 2: same files + one new near-dup; only the new doc's pairs emit
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 6,
             "text": "the quick brown fox jumps over the lazy dog tonight"}
        ) + "\n")
    rc2 = main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--setsim-dedup",
        "--setsim-tau", "1/2",
        "--setsim-shingle", "2",
        "--available-now",
        "--checkpoint", os.path.join(tmp_path, "ckpt2"),
    ])
    assert rc2 == 0
    got2 = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(os.path.join(work, "setsim_pairs"))
        .filter("verified").collect()
    }
    new_pairs = got2 - emitted
    assert new_pairs and all(6 in p for p in new_pairs)
    # r11 ADVICE (high): run 2 restarted batch ids at 0 (fresh
    # checkpoint) — without run-keyed output its batch=0 write would
    # have WIPED run 1's committed pairs. They must all survive.
    assert emitted <= got2, got2
    runs = [
        d for d in os.listdir(os.path.join(work, "setsim_pairs"))
        if d.startswith("run=")
    ]
    assert len(runs) == 2, runs

    # run 3, same fresh checkpoint: a verbatim copy and a near-dup of
    # run 1's doc 1. Run 2's batch 0 must not have overwritten run 1's
    # store history, so both pair with doc 1 (and with doc 6)
    with open(os.path.join(src, "b3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 7, "text": docs[0][1]}) + "\n")
        f.write(json.dumps(
            {"doc_id": 8, "text": docs[0][1] + " again"}
        ) + "\n")
    assert main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--setsim-dedup",
        "--setsim-tau", "1/2",
        "--setsim-shingle", "2",
        "--available-now",
        "--checkpoint", os.path.join(tmp_path, "ckpt2"),
    ]) == 0
    got3 = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(os.path.join(work, "setsim_pairs"))
        .filter("verified").collect()
    }
    assert {(1, 7), (1, 8), (7, 8)} <= got3 - got2, got3 - got2


def test_cli_setsim_rejects_bad_tau_and_missing_metas(tmp_path, capsys):
    src = os.path.join(tmp_path, "docs")
    os.makedirs(src, exist_ok=True)
    cfg = _write_config(tmp_path, src)
    # CDC mode without --table-metas: clean error, not a stack trace
    assert main(["--config", cfg, "--source-dir", src]) == 2
    assert "--table-metas" in capsys.readouterr().err
    # malformed tau
    assert main([
        "--config", cfg, "--source-dir", src, "--setsim-dedup",
        "--setsim-tau", "nope", "--available-now",
    ]) == 2
    assert main([
        "--config", cfg, "--source-dir", src, "--setsim-dedup",
        "--setsim-tau", "3/2", "--available-now",
    ]) == 2


def test_cli_dedup_exact_mode_end_to_end(spark, tmp_path):
    """--dedup-exact (r11 verdict #7): the incremental exact-dedup twin
    drivable from the CLI, sharing the --setsim-dedup plumbing — a
    JSONL doc stream in, per-batch survivor parquet out, duplicates
    dropped against the persistent fingerprint store. A second drain
    over the same files plus new docs (one a dup of run 1) must emit
    only the genuinely-new doc, and run 1's survivors must survive the
    fresh-checkpoint restart (run-keyed output)."""
    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),          # exact dup of 1 -> dropped
        (3, "delta epsilon zeta"),
        (4, "delta epsilon zeta"),        # exact dup of 3 -> dropped
        (5, "eta theta iota"),
    ]
    src = os.path.join(tmp_path, "docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for i, text in docs:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    cfg = _write_config(tmp_path, src)
    work = os.path.join(tmp_path, "work")

    rc = main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--dedup-exact",
        "--available-now",
    ])
    assert rc == 0
    surv = spark.read.parquet(os.path.join(work, "dedup_survivors"))
    got1 = {r.doc_id for r in surv.collect()}
    assert got1 == {1, 3, 5}

    # run 2: same files + one dup of run 1 + one new doc, FRESH ckpt
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 6, "text": "alpha beta gamma"}) + "\n")
        f.write(json.dumps({"doc_id": 7, "text": "kappa lambda mu"}) + "\n")
    rc2 = main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--dedup-exact",
        "--available-now",
        "--checkpoint", os.path.join(tmp_path, "ckpt2"),
    ])
    assert rc2 == 0
    surv2 = spark.read.parquet(os.path.join(work, "dedup_survivors"))
    got2 = {r.doc_id for r in surv2.collect()}
    # run 1's survivors intact (run-keyed: batch id restart can't wipe
    # them) + only the genuinely-new doc from run 2
    assert got2 == {1, 3, 5, 7}

    # run 3, same fresh checkpoint: a duplicate of run 1's doc 3 and a
    # new doc. Run 2's batch 0 must not have overwritten run 1's store
    # history, so doc 8 drops
    with open(os.path.join(src, "b3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 8, "text": "delta epsilon zeta"}) + "\n")
        f.write(json.dumps({"doc_id": 9, "text": "nu xi omicron"}) + "\n")
    assert main([
        "--config", cfg,
        "--source-dir", src,
        "--work-dir", work,
        "--dedup-exact",
        "--available-now",
        "--checkpoint", os.path.join(tmp_path, "ckpt2"),
    ]) == 0
    surv3 = spark.read.parquet(os.path.join(work, "dedup_survivors"))
    assert {r.doc_id for r in surv3.collect()} == {1, 3, 5, 7, 9}
    # both modes at once is a usage error
    assert main([
        "--config", cfg, "--source-dir", src, "--work-dir", work,
        "--dedup-exact", "--setsim-dedup", "--available-now",
    ]) == 2


def test_cli_lock_lost_before_query_handle_still_stops(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE (medium): if the renewal thread loses the lock while
    the query handle is still None (a renew at ttl/2 can fail during
    slow stream startup), nothing stopped the stream back then — the
    CLI must re-check the lost flag right after assigning the handle
    and stop the query itself, or a continuous run keeps writing the
    state stores forever without provable single-writer ownership."""
    import threading

    from aardappel_spark import locker as locker_mod

    class _InstantLossRenewer:
        lost = True

        def stop(self):
            pass

    def start_renewal(self):
        # simulate the race: the renewal has already failed when main
        # gets the renewer, before the query handle exists
        return _InstantLossRenewer()

    monkeypatch.setattr(locker_mod.Locker, "start_renewal", start_renewal)

    docs = os.path.join(tmp_path, "docs")
    os.makedirs(docs, exist_ok=True)
    with open(os.path.join(docs, "b1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")
    cfg = _write_config(tmp_path, docs, multi_instance=True)

    # CONTINUOUS mode (no --available-now): without the re-check the
    # stream never stops and awaitTermination blocks forever
    result = {}

    def run():
        result["rc"] = main([
            "--config", cfg,
            "--source-dir", docs,
            "--work-dir", os.path.join(tmp_path, "work"),
            "--dedup-exact",
        ])

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "stream was never stopped after lock loss"
    assert result["rc"] == 4


def test_cli_mode_conflict_checked_before_lock_acquisition(tmp_path):
    """r12 ADVICE (low): the --setsim-dedup/--dedup-exact conflict is a
    usage error that must be rejected BEFORE the instance lock is
    acquired — the old post-acquisition `return 2` left the lock held,
    blocking a standby until TTL expiry. A bad --setsim-tau is a usage
    error too, and once was parsed only after the lock was taken."""
    from aardappel_spark.locker import Locker, LockStorage

    docs = os.path.join(tmp_path, "docs")
    os.makedirs(docs, exist_ok=True)
    cfg = _write_config(tmp_path, docs, multi_instance=True)
    work = os.path.join(tmp_path, "work")
    for usage_error in (
        ["--dedup-exact", "--setsim-dedup"],
        ["--setsim-dedup", "--setsim-tau", "nope"],
    ):
        rc = main([
            "--config", cfg, "--source-dir", docs, "--work-dir", work,
            *usage_error, "--available-now",
        ])
        assert rc == 2, usage_error
        # the lock was never taken: a standby acquires instantly
        other = Locker(
            LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60
        )
        assert other.try_acquire(), usage_error
        other.release()


def test_cli_compact_dedup_state_store(spark, tmp_path, capsys):
    """r13: --compact-and-exit combined with --dedup-exact compacts the
    streaming fingerprint store (per-batch deltas -> one delta with one
    file per bucket, named by a new manifest) under the instance lock,
    and the compacted store still drops duplicates on the next run."""
    from aardappel_spark.stateful import StoreLog

    docs = [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "alpha")]
    src = os.path.join(tmp_path, "docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for i, text in docs:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    cfg = _write_config(tmp_path, src, multi_instance=True)
    work = os.path.join(tmp_path, "work")

    assert main([
        "--config", cfg, "--source-dir", src, "--work-dir", work,
        "--dedup-exact", "--available-now",
    ]) == 0
    store = os.path.join(work, "dedup_store")
    assert StoreLog(store, {}).latest()["deltas"] == [0]

    assert main([
        "--config", cfg, "--source-dir", src, "--work-dir", work,
        "--dedup-exact", "--compact-and-exit",
    ]) == 0
    out = capsys.readouterr().out
    assert "compacted dedup_store" in out
    assert StoreLog(store, {}).latest()["deltas"] == [1]
    # the lock was released by the maintenance path
    from aardappel_spark.locker import Locker, LockStorage

    other = Locker(
        LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60
    )
    assert other.try_acquire()
    other.release()

    # compacted corpus still drops duplicates on the next run
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 5, "text": "beta"}) + "\n")
        f.write(json.dumps({"doc_id": 6, "text": "delta"}) + "\n")
    assert main([
        "--config", cfg, "--source-dir", src, "--work-dir", work,
        "--dedup-exact", "--available-now",
        "--checkpoint", os.path.join(tmp_path, "ckpt2"),
    ]) == 0
    surv = spark.read.parquet(os.path.join(work, "dedup_survivors"))
    assert {r.doc_id for r in surv.collect()} == {1, 2, 3, 6}


def test_cli_monitoring_on_fixed_port(spark, tmp_path):
    """mon_server.listen on a fixed port: the engine's one monitoring
    server answers /readyz and /metrics during the run, main exits 0,
    and afterwards the port refuses connections, so no second server
    was started (a second bind on the same port fails with EADDRINUSE)
    and none was left running."""
    import socket
    import threading
    import urllib.request

    import pytest

    tmp = str(tmp_path)
    src = _write_source(tmp)
    metas = _write_metas(tmp)
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    cfg = os.path.join(tmp, "config.json")
    with open(cfg, "w") as f:
        json.dump(
            {
                "src_connection_string": src,
                "instance_id": "cli-mon",
                "mon_server": {"listen": f"127.0.0.1:{port}"},
                "streams": [
                    {"src_topic": "/topic/users",
                     "dst_table": os.path.join(tmp, "dst_users")}
                ],
            },
            f,
        )

    seen = {"readyz": False, "metrics": False}
    done = threading.Event()

    def scrape():
        base = f"http://127.0.0.1:{port}"
        while not done.is_set():
            try:
                with urllib.request.urlopen(base + "/readyz", timeout=1) as r:
                    seen["readyz"] |= r.status == 200
                with urllib.request.urlopen(base + "/metrics", timeout=1) as r:
                    seen["metrics"] |= "modifications_count" in r.read().decode()
            except OSError:
                pass  # not up yet, 503, or already down
            done.wait(0.05)

    poller = threading.Thread(target=scrape, daemon=True)
    poller.start()
    try:
        rc = main([
            "--config", cfg, "--table-metas", metas,
            "--work-dir", os.path.join(tmp, "work"), "--available-now",
        ])
    finally:
        done.set()
        poller.join(5)
    assert not poller.is_alive()
    assert rc == 0
    assert seen == {"readyz": True, "metrics": True}
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=1).close()


def test_cli_sigterm_stops_dedup_mode_and_releases_lock(tmp_path):
    """SIGTERM stops a continuous --dedup-exact run cleanly: exit code 0,
    and the instance lock is released at once instead of staying held
    until its TTL runs out. Runs the real binary in a subprocess, so
    the signal reaches its main thread."""
    import glob
    import signal
    import subprocess
    import sys
    import time

    from aardappel_spark.locker import Locker, LockStorage

    docs = os.path.join(tmp_path, "docs")
    os.makedirs(docs, exist_ok=True)
    with open(os.path.join(docs, "b1.jsonl"), "w") as f:
        for i, text in [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")]:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    cfg = _write_config(tmp_path, docs, multi_instance=True)
    work = os.path.join(tmp_path, "work")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
    )
    log_path = os.path.join(tmp_path, "cli.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "aardappel_spark", "--config", cfg,
             "--source-dir", docs, "--work-dir", work, "--dedup-exact"],
            cwd=repo, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
    try:
        # batch 0 committed: its survivors written and its checkpoint
        # commit recorded, so the stream is idle when the signal lands
        deadline = time.time() + 120
        while not (
            glob.glob(os.path.join(work, "dedup_survivors", "run=*",
                                   "batch=0", "_SUCCESS"))
            and os.path.exists(os.path.join(work, "ckpt", "commits", "0"))
        ):
            assert proc.poll() is None, open(log_path).read()[-3000:]
            assert time.time() < deadline, "batch 0 never committed"
            time.sleep(0.2)
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert rc == 0, open(log_path).read()[-3000:]
    other = Locker(LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60)
    assert other.try_acquire()
    other.release()


def test_cli_compact_two_streams_without_partition_count(spark, tmp_path, capsys):
    """CDC --compact-and-exit needs only the destination tables, not a
    replication engine: on a two-stream config it runs without
    --expected-partitions (which only the quorum cut needs), leaves
    every bucket at one file, and keeps the data."""
    tmp = str(tmp_path)
    cfg, metas = _write_two_streams(tmp)
    work = os.path.join(tmp, "work")
    assert main([
        "--config", cfg, "--table-metas", metas, "--work-dir", work,
        "--expected-partitions", "2", "--available-now",
    ]) == 0
    tables = [_users(spark, tmp), _orders(spark, tmp)]
    before = [sorted(t.current().collect()) for t in tables]
    capsys.readouterr()

    assert main([
        "--config", cfg, "--table-metas", metas, "--work-dir", work,
        "--compact-and-exit",
    ]) == 0
    assert capsys.readouterr().out.count("compacted") == 2
    for t, rows in zip(tables, before):
        files = t.n_data_files()
        assert files and all(n == 1 for n in files.values()), files
        assert sorted(t.current().collect()) == rows


def test_cli_multi_stream_without_partition_count_is_usage_error(
    tmp_path, capsys
):
    """A CDC run over two streams without --expected-partitions is a
    usage error: rc 2 and a message naming the flag, decided before
    Spark starts or the lock is taken, so a standby acquires at once."""
    from aardappel_spark.locker import Locker, LockStorage

    tmp = str(tmp_path)
    cfg, metas = _write_two_streams(tmp)
    with open(cfg, "a") as f:
        f.write("multiple_instances_mode: true\n")
    work = os.path.join(tmp, "work")
    rc = main([
        "--config", cfg, "--table-metas", metas, "--work-dir", work,
        "--available-now",
    ])
    assert rc == 2
    assert "--expected-partitions" in capsys.readouterr().err
    other = Locker(LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60)
    assert other.try_acquire()
    other.release()


@pytest.mark.parametrize("mode", ["cdc", "dedup-exact", "setsim-dedup"])
def test_cli_refuses_state_from_before_the_manifest_before_spark(
    tmp_path, capsys, monkeypatch, mode
):
    """A work dir whose CDC state or dedup store was written before the
    commit manifest is a usage error: exit 2 with one line naming the
    dir, before Spark starts or the lock is taken, and without making
    a _manifest/ there."""
    from aardappel_spark import session
    from aardappel_spark.locker import Locker, LockStorage

    def no_spark(*a, **k):
        raise AssertionError("Spark started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    tmp = str(tmp_path)
    src = _write_source(tmp)
    cfg = _write_config(tmp, src, multi_instance=True)
    work = os.path.join(tmp, "work")
    store = {
        "cdc": work,
        "dedup-exact": os.path.join(work, "dedup_store"),
        "setsim-dedup": os.path.join(work, "setsim_store"),
    }[mode]
    older = {"cdc": "_state", "dedup-exact": "batch=0", "setsim-dedup": "counts"}[mode]
    os.makedirs(os.path.join(store, older))
    flags = (
        ["--table-metas", _write_metas(tmp)] if mode == "cdc" else [f"--{mode}"]
    )
    rc = main(["--config", cfg, "--work-dir", work, *flags, "--available-now"])
    assert rc == 2
    err = capsys.readouterr().err.strip()
    assert len(err.splitlines()) == 1 and store in err and older in err, err
    assert not os.path.exists(os.path.join(store, "_manifest"))
    other = Locker(LockStorage(os.path.join(work, "lock.json")), ttl_seconds=60)
    assert other.try_acquire()
    other.release()
