"""``python -m aardappel_spark`` — the engine as a service binary.

Mirrors the reference's process lifecycle (cmd/aardappel/main.go), one
lifecycle for every mode: parse flags -> load config -> reject any
usage error -> (multi-instance) acquire the distributed lock, polling
every 5 s as a standby, and renew it at half-TTL -> start ONE streaming
query (CDC replication, ``--setsim-dedup`` or ``--dedup-exact``) or make
ONE compaction call (``--compact-and-exit``) -> serve the query until
the source drains (``--available-now``), a SIGTERM/SIGINT arrives, or
the lock is lost -> stop the query, the engine's /metrics + /readyz
server and heartbeat guard (CDC; ``ReplicationEngine.from_config``
starts them), and the renewal, and release the lock.

The one honest difference from the reference: it discovers destination
schemas by describing the destination database at startup
(main.go:140-229); a parquet destination has nothing to describe until
the first commit, so schemas come from a sidecar JSON given with
``--table-metas``:

    {"dst_users": {"primary_key": ["user_id"],
                   "columns": {"user_id": "Int64",
                               "value": "Optional<Utf8>"},
                   "schema": "user_id bigint, value string"}}
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import signal
import sys
import threading
import uuid

from .casting import TableMeta
from .config import EngineConfig

LOCK_CHECK_INTERVAL = 5.0  # standby re-poll (main.go:38)
DOC_SCHEMA = "doc_id long, text string"
MULTI_STREAM_SCHEMA = "table_id int, partition int, offset long, value string"


def load_table_metas(path: str) -> dict[str, tuple[TableMeta, str]]:
    with open(path) as fh:
        raw = json.load(fh)
    metas = {}
    for dst_table, spec in raw.items():
        metas[dst_table] = (
            TableMeta(dst_table, spec["primary_key"], spec["columns"]),
            spec["schema"],
        )
    return metas


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m aardappel_spark",
        description="CDC replication engine (reference-compatible config)",
    )
    p.add_argument("--config", required=True, help="reference-shaped YAML/JSON config")
    p.add_argument(
        "--table-metas",
        default=None,
        help=(
            "JSON sidecar: dst_table -> {primary_key, columns, schema} "
            "(required for CDC replication; unused with --setsim-dedup "
            "and --dedup-exact)"
        ),
    )
    p.add_argument(
        "--source-dir",
        default=None,
        help="JSONL stream directory (defaults to src_connection_string)",
    )
    p.add_argument("--work-dir", default="./aardappel_work")
    p.add_argument("--checkpoint", default=None, help="default: WORK_DIR/ckpt")
    p.add_argument(
        "--expected-partitions",
        type=int,
        default=None,
        help="total partition count across all streams (the quorum cut width)",
    )
    p.add_argument(
        "--available-now",
        action="store_true",
        help="drain the source once and exit (otherwise run until signaled)",
    )
    p.add_argument(
        "--source-format",
        choices=("jsonl", "recorded-kafka", "kafka"),
        default="jsonl",
        help=(
            "jsonl: raw (table_id?, partition, offset, value) lines; "
            "recorded-kafka: recorded Kafka record batches replayed through "
            "the live reader's post-load() path (topics from config streams); "
            "kafka: live broker at --source-dir host:port, topics from config"
        ),
    )
    p.add_argument(
        "--lock-timeout",
        type=float,
        default=None,
        help="max seconds to wait for the instance lock (default: forever)",
    )
    p.add_argument(
        "--setsim-dedup",
        action="store_true",
        help=(
            "streaming near-dup dedup mode instead of CDC replication: "
            "read a (doc_id, text) JSONL stream from --source-dir, run "
            "each micro-batch through the incremental prefix-filter "
            "set-similarity twin (stateful.incremental_setsim_batch) "
            "against the full historical corpus, and write every "
            "emitted pair frame to WORK_DIR/setsim_pairs/"
            "run=<run>/batch=<id> (at-least-once across runs — "
            "dedupe downstream by pair)"
        ),
    )
    p.add_argument(
        "--setsim-tau",
        default="4/5",
        help="Jaccard threshold as NUM/DEN (default 4/5)",
    )
    p.add_argument(
        "--setsim-shingle",
        type=int,
        default=4,
        help="word-shingle width for the token sets (default 4)",
    )
    p.add_argument(
        "--dedup-exact",
        action="store_true",
        help=(
            "streaming EXACT-dedup mode instead of CDC replication: "
            "read a (doc_id, text) JSONL stream from --source-dir, drop "
            "every document whose md5 fingerprint already exists in the "
            "persistent store (stateful.incremental_dedup_batch), and "
            "write each batch's surviving documents to "
            "WORK_DIR/dedup_survivors/run=<run>/batch=<id> "
            "(at-least-once across runs — dedupe downstream by doc_id)"
        ),
    )
    p.add_argument(
        "--compact-and-exit",
        action="store_true",
        help=(
            "maintenance mode: acquire the instance lock (compaction must "
            "never race a live writer), rewrite every destination table to "
            "one parquet file per bucket (VersionedTable.compact_files), "
            "print before/after file counts, and exit. Combined with "
            "--setsim-dedup or --dedup-exact it instead compacts that "
            "mode's streaming state store (per-batch deltas -> one "
            "delta with one file per bucket)"
        ),
    )
    return p


def _parse_tau(text: str) -> tuple[int, int] | None:
    """``NUM/DEN`` with ``0 < NUM <= DEN``, else None."""
    try:
        num, den = (int(x) for x in text.split("/", 1))
    except ValueError:
        return None
    return (num, den) if 0 < num <= den else None


def _usage_error(args, cfg: EngineConfig) -> str | None:
    """Every argument check, run before Spark starts or the lock is
    taken, so a usage error can never leave the lock held. State the
    run could not resume (written before the commit manifest) is one
    too."""
    if args.setsim_dedup and args.dedup_exact:
        return "--setsim-dedup and --dedup-exact are mutually exclusive"
    if args.setsim_dedup and _parse_tau(args.setsim_tau) is None:
        return f"bad --setsim-tau {args.setsim_tau!r}: want NUM/DEN, 0 < NUM <= DEN"
    if not (args.setsim_dedup or args.dedup_exact) and not args.table_metas:
        return "--table-metas is required for CDC replication"
    if not (args.source_dir or cfg.src_connection_string):
        return "no source: give --source-dir or set src_connection_string"
    cdc_run = not (
        args.setsim_dedup or args.dedup_exact or args.compact_and_exit
    )
    if cdc_run and len(cfg.streams) > 1 and args.expected_partitions is None:
        return (
            "--expected-partitions is required for a multi-stream config "
            "(the quorum cut counts every partition of every stream)"
        )
    mode = _dedup_mode(args)
    if mode is not None:
        from .stateful import older_store

        return older_store(os.path.join(args.work_dir, mode[1]))
    from .streaming import older_work_dir

    return older_work_dir(args.work_dir)


def _dedup_mode(args):
    """(kernel factory, state store dir, output dir) of the selected
    dedup mode, or None in CDC mode."""
    from . import stateful

    if args.dedup_exact:
        return stateful.incremental_dedup_batch, "dedup_store", "dedup_survivors"
    if args.setsim_dedup:
        num, den = _parse_tau(args.setsim_tau)
        kernel = functools.partial(
            stateful.incremental_setsim_batch,
            tau_num=num,
            tau_den=den,
            shingle=args.setsim_shingle,
        )
        return kernel, "setsim_store", "setsim_pairs"
    return None


def _run_keyed_sink(out_dir: str):
    """foreachBatch sink writing each batch to
    ``OUT_DIR/run=<run>/batch=<id>``.

    The run key keeps a restart with a fresh checkpoint (batch ids from
    0 again) from overwriting an earlier run's output. Within a run the
    per-batch overwrite is idempotent under foreachBatch retry; across
    runs delivery is at-least-once (dedupe downstream). An empty frame
    never overwrites an existing batch dir: the exact kernel emits one
    on a replay after its publish, and it must not wipe the attempt's
    committed output (the setsim kernel skips its sink on a replay)."""
    run_dir = os.path.join(out_dir, f"run={uuid.uuid4().hex[:12]}")

    def sink(df, batch_id):
        target = os.path.join(run_dir, f"batch={batch_id}")
        if os.path.exists(target) and df.isEmpty():
            return
        df.write.mode("overwrite").parquet(target)

    return sink


def _cdc_source(spark, args, cfg: EngineConfig, source_dir: str):
    from . import sources

    if args.source_format == "jsonl":
        if len(cfg.streams) > 1:
            return spark.readStream.schema(MULTI_STREAM_SCHEMA).json(source_dir)
        return sources.read_file_stream(spark, source_dir)
    # topic -> table id from the config's stream order, exactly like the
    # reference assigns TableId by stream index (main.go:204-208)
    topics = {s.src_topic: i for i, s in enumerate(cfg.streams)}
    if args.source_format == "recorded-kafka":
        return sources.read_recorded_kafka_stream(
            spark, source_dir, table_id_by_topic=topics
        )
    return sources.read_kafka_stream(
        spark,
        bootstrap_servers=source_dir,
        topics=list(topics),
        table_id_by_topic=topics,
    )


def _compact(spark, args, cfg: EngineConfig, metas, work_dir: str) -> None:
    """The maintenance call; the instance lock guarantees no live writer.

    A dedup mode force-folds its state store: the batch write with no
    new rows (per-batch deltas -> one delta with one file per bucket,
    published like a batch). CDC rewrites each destination to one file
    per bucket and publishes ONE manifest naming every compacted
    version; that needs only the tables, not an engine (nor its
    partition count)."""
    from .streaming import Manifest, VersionedTable

    mode = _dedup_mode(args)
    if mode is not None:
        factory, store_dir, _ = mode
        store = factory(os.path.join(work_dir, store_dir)).store
        for path, (b, a) in store.fold(spark).items():
            print(f"compacted {os.path.relpath(path, work_dir)}: files {b} -> {a}")
        return
    manifest = Manifest(work_dir)
    compacted = []
    for s in cfg.streams:
        tbl = VersionedTable(spark, s.dst_table, *metas[s.dst_table], manifest)
        before = sum(tbl.n_data_files().values())
        if tbl.compact_files() == 0:
            # never-committed table: don't misreport the no-op as "v0"
            print(f"skipped {s.dst_table}: empty table, nothing to compact")
        else:
            compacted.append((tbl, before))
    if compacted:
        manifest.write()
    for tbl, before in compacted:
        after = tbl.n_data_files()
        print(
            f"compacted {tbl.path}: v{tbl.current_version()}, files "
            f"{before} -> {sum(after.values())} ({len(after)} buckets)"
        )


def _serve(query, renewer) -> int:
    """Serve ``query`` until it ends: the source drained
    (``--available-now``), SIGINT/SIGTERM, or the instance lock lost.
    The lock check runs before the first wait, so a renewal that failed
    before the handle existed (slow stream startup) still stops the
    query. Returns 0, or 4 on lock loss."""
    signaled = threading.Event()
    old_handlers = {}
    for sig in (signal.SIGINT, signal.SIGTERM):
        try:
            old_handlers[sig] = signal.signal(sig, lambda *_: signaled.set())
        except ValueError:
            pass  # not the main thread (in-process tests)
    lost = lambda: renewer is not None and renewer.lost  # noqa: E731
    try:
        while query.isActive and not signaled.is_set() and not lost():
            query.awaitTermination(1)
    finally:
        query.stop()
        for sig, h in old_handlers.items():
            signal.signal(sig, h)
    if lost():
        print("stopped: instance lock lost mid-run", file=sys.stderr)
        return 4
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = EngineConfig.load(args.config)
    err = _usage_error(args, cfg)
    if err:
        print(err, file=sys.stderr)
        return 2
    metas = load_table_metas(args.table_metas) if args.table_metas else {}
    source_dir = args.source_dir or cfg.src_connection_string
    work_dir = args.work_dir
    os.makedirs(work_dir, exist_ok=True)
    ckpt = args.checkpoint or os.path.join(work_dir, "ckpt")
    mode = _dedup_mode(args)

    from .session import get_spark

    spark = get_spark(f"aardappel-{cfg.instance_id}")
    spark.sparkContext.setLogLevel("ERROR")

    # single-writer lock (W7): standby poll every 5 s like the reference,
    # renewed at half-TTL (locker_thread.go) — without renewal a run
    # longer than one TTL silently loses the lock to a standby
    locker = renewer = None
    if cfg.multiple_instances_mode:
        from .locker import Locker, LockStorage

        ttl = 2.0 * cfg.max_expected_heartbeat_interval  # main.go:389
        locker = Locker(LockStorage(os.path.join(work_dir, "lock.json")), ttl)
        if not locker.try_acquire():
            print("standby: lock held elsewhere, waiting", file=sys.stderr)
            if not locker.wait_acquire(LOCK_CHECK_INTERVAL, args.lock_timeout):
                print("instance lock held elsewhere; giving up", file=sys.stderr)
                return 3
        renewer = locker.start_renewal()

    engine = None
    try:
        if args.compact_and_exit:
            _compact(spark, args, cfg, metas, work_dir)
            return 0
        if mode is not None:
            kernel, store_dir, out_dir = mode
            sink = _run_keyed_sink(os.path.join(work_dir, out_dir))
            writer = (
                spark.readStream.schema(DOC_SCHEMA).json(source_dir).writeStream
                .foreachBatch(kernel(os.path.join(work_dir, store_dir), sink=sink))
                .option("checkpointLocation", ckpt)
            )
            if args.available_now:
                writer = writer.trigger(availableNow=True)
            query = writer.start()
        else:
            from .streaming import ReplicationEngine

            engine = ReplicationEngine.from_config(
                spark, cfg, metas, work_dir,
                expected_partitions=args.expected_partitions,
            )
            source = _cdc_source(spark, args, cfg, source_dir)
            query = engine.run_stream(source, ckpt, available_now=args.available_now)
        rc = _serve(query, renewer)
        if engine is not None:
            print(json.dumps({
                "batches_applied": engine.batches_applied,
                "modifications": engine.modifications,
                "state": engine.state.read()["state"],
            }))
        return rc
    finally:
        if engine is not None:
            engine.stop_monitoring()
        if renewer is not None:
            renewer.stop()
        if locker is not None:
            locker.release()


if __name__ == "__main__":
    sys.exit(main())
