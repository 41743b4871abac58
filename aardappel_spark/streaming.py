"""Streaming replication: Structured Streaming wrapper around the batch
kernel (parse -> quorum gate -> cut -> compact -> cast -> merge).

Lifecycle parity with the reference (SURVEY.md §3.3, W1-W5):
  * quorum gate across ALL partitions of ALL streams (hb_tracker.go) —
    heartbeat state persists across micro-batches;
  * events at-or-above the quorum CARRY OVER to the next batch
    (strictly-less cut, tx_queue.go:26-33);
  * stage machine INITIAL_SCAN -> RUN (processor.go:621-726);
  * exactly-once effect via the §4.3 idempotent-replay recipe: position
    guard in `_state` + MERGE idempotence + Spark's checkpointed source
    offsets (offsets commit AFTER the batch succeeds = the reference's
    commit order, README.md:183-192);
  * FATAL_ERROR persisted to `_state` before the query dies
    (problem_strategy='stop', reader.go:192-204).

Storage: destination tables and `_state` are versioned parquet
directories (a stand-in for Delta/Iceberg MERGE INTO on a cluster —
same commit protocol: write new version, flip pointer, replay
overwrites the same version deterministically).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import merge_mutations
from .casting import TableMeta, typed_mutations
from .compact import compact_changes
from .cmdqueue import parse_commands, resolve_problem_actions
from .keyfilter import filter_blocked_keys
from .localrel import empty_df, local_df
from .metrics import MetricsRegistry
# split_heartbeats and get_quorum are unused here but stay bound: the
# benchmark's tracer wraps the parse/quorum names this module binds
from .parse import (
    is_event,
    is_heartbeat,
    parse_messages,
    split_events,
    split_heartbeats,
    split_problems,
)
from .quorum import cut_below_quorum, get_quorum
from .types import CDC_EVENT_SCHEMA, OP_RESOLVED, pos, pos_lit

STATE_OK = "OK"
STATE_FATAL = "FATAL_ERROR"
STAGE_INITIAL_SCAN = "INITIAL_SCAN"
STAGE_RUN = "RUN"


class StateStore:
    """The `_state` checkpoint row (FIXTURES.md §5) as a tiny versioned
    parquet dir. write() is atomic at the pointer-file level."""

    def __init__(self, spark: SparkSession, path: str, instance_id: str):
        self.spark = spark
        self.path = path
        self.instance_id = instance_id
        os.makedirs(path, exist_ok=True)

    def _ptr(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def read(self) -> dict:
        if not os.path.exists(self._ptr()):
            return {
                "id": self.instance_id,
                "step_id": Decimal(0),
                "tx_id": Decimal(0),
                "state": STATE_OK,
                "stage": STAGE_INITIAL_SCAN,
                "last_msg": "",
            }
        with open(self._ptr()) as f:
            version = f.read().strip()
        row = json.loads(
            open(os.path.join(self.path, f"v{version}.json")).read()
        )
        row["step_id"] = Decimal(row["step_id"])
        row["tx_id"] = Decimal(row["tx_id"])
        return row

    def write(
        self,
        position: tuple[Decimal, Decimal],
        stage: str,
        state: str = STATE_OK,
        last_msg: str = "",
        version: int | None = None,
        extra: dict | None = None,
    ) -> None:
        cur = 0
        if os.path.exists(self._ptr()):
            cur = int(open(self._ptr()).read().strip())
        version = cur + 1 if version is None else version
        row = {
            "id": self.instance_id,
            "step_id": str(position[0]),
            "tx_id": str(position[1]),
            "state": state,
            "stage": stage,
            "last_msg": last_msg,
            **(extra or {}),
        }
        with open(os.path.join(self.path, f"v{version}.json"), "w") as f:
            f.write(json.dumps(row))
        tmp = self._ptr() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._ptr())
        # one tiny file per batch accretes forever on a long-lived
        # deployment; only the pointed-at version (and its predecessor,
        # for post-mortem) ever gets read again
        for name in os.listdir(self.path):
            if (
                name.startswith("v")
                and name.endswith(".json")
                and name[1:-5].isdigit()
                and int(name[1:-5]) < version - 1
            ):
                os.remove(os.path.join(self.path, name))

    def ensure_startable(self) -> dict:
        """Refuse to start unless state == OK (selectReplicationState,
        processor.go:308-310 — manual recovery required)."""
        st = self.read()
        if st["state"] != STATE_OK:
            raise RuntimeError(
                f"replication state is {st['state']} ({st['last_msg']}); "
                "manual recovery required"
            )
        return st


class VersionedTable:
    """Destination table as versioned parquet snapshots with a CURRENT
    pointer, PARTITIONED by a deterministic PK bucket (``pkb``).

    A commit rewrites ONLY the buckets whose keys appear in the batch;
    untouched buckets carry over into the new version as hardlinks to the
    previous version's files — byte-identical, no data copied. That is the
    stand-in for Delta/Iceberg MERGE INTO file-level pruning: write
    amplification is O(touched partitions), not O(table), so the same
    commit protocol survives a 100 TB destination. Replaying a batch
    rewrites the same target version deterministically, so replays
    converge (§4.3)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        meta: TableMeta,
        schema: str,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.schema = schema
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)

    def _ptr(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def current_version(self) -> int:
        if not os.path.exists(self._ptr()):
            return 0
        return int(open(self._ptr()).read().strip())

    def bucket_of(self):
        """Deterministic PK bucket column — same expression at write and
        prune time, so a key always lands in the same partition."""
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.meta.primary_key]),
            F.lit(self.n_buckets),
        ).cast("int")

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def _bucket_dirs(self, v: int) -> dict[int, str]:
        d = self._version_dir(v)
        if not os.path.isdir(d):
            return {}
        return {
            int(name.split("=", 1)[1]): os.path.join(d, name)
            for name in os.listdir(d)
            if name.startswith("pkb=")
        }

    def read_buckets(self, buckets: list[int] | None) -> DataFrame:
        """Current state of the given buckets (None = all). Reading the
        leaf dirs directly IS the partition pruning: unselected buckets'
        files never reach the scan."""
        v = self.current_version()
        if v == 0:
            return empty_df(self.spark, self.schema)
        dirs = self._bucket_dirs(v)
        want = None if buckets is None else set(buckets)
        sel = [p for k, p in sorted(dirs.items()) if want is None or k in want]
        if not sel:
            return empty_df(self.spark, self.schema)
        return self.spark.read.schema(self.schema).parquet(*sel)

    def current(self) -> DataFrame:
        return self.read_buckets(None)

    def versions(self) -> list[int]:
        """Retained snapshot versions, ascending. Retention keeps the
        current and previous versions (the hardlink carry-over shares
        unchanged buckets' bytes between them, so history costs only
        the touched buckets' old files)."""
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit()
            and os.path.isdir(os.path.join(self.path, name))
        )

    def read_version(self, v: int) -> DataFrame:
        """Snapshot (time-travel) read of a retained version — the
        VERSION AS OF story (Delta time travel / Iceberg snapshot
        reads) on the versioned layout: a reader pinned to ``v`` sees
        one consistent table state no matter how many commits land
        after it, because version files are immutable once the CURRENT
        pointer swings (a commit writes a NEW directory; it never
        mutates an old one). Raises for vacuumed versions so a stale
        reader fails loudly instead of silently reading the wrong
        snapshot; the retention window (current + previous) is the
        vacuum dial."""
        if v == 0:
            return empty_df(self.spark, self.schema)
        if v not in self.versions():
            raise ValueError(
                f"version {v} is not retained at {self.path} "
                f"(retained: {self.versions()}); vacuumed by a later commit"
            )
        dirs = {
            k: p
            for k, p in (
                (int(name.split("=", 1)[1]), os.path.join(self._version_dir(v), name))
                for name in os.listdir(self._version_dir(v))
                if name.startswith("pkb=")
            )
        }
        sel = [p for _, p in sorted(dirs.items())]
        if not sel:
            return empty_df(self.spark, self.schema)
        return self.spark.read.schema(self.schema).parquet(*sel)

    def commit(
        self, df: DataFrame, version: int, touched: list[int] | None = None
    ) -> None:
        """``df`` is the post-state of the TOUCHED buckets (or of the whole
        table when ``touched`` is None = full rewrite)."""
        target = self._version_dir(version)
        # Materialize into a staging dir FIRST: on a crashed-batch replay
        # the incoming df lazily READS the existing current version (merge
        # input), so deleting it before the write would pull files out from
        # under the running plan.
        staging = target + ".staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.withColumn("pkb", self.bucket_of()).write.partitionBy("pkb").mode(
            "overwrite"
        ).parquet(staging)
        prev = self.current_version()
        if touched is not None and prev:
            tset = set(touched)
            for k, src in self._bucket_dirs(prev).items():
                if k in tset:
                    continue
                dst = os.path.join(staging, f"pkb={k}")
                os.makedirs(dst, exist_ok=True)
                for fn in os.listdir(src):
                    if fn.startswith(("_", ".")):
                        continue
                    try:
                        os.link(os.path.join(src, fn), os.path.join(dst, fn))
                    except OSError:
                        shutil.copy2(os.path.join(src, fn), os.path.join(dst, fn))
        if os.path.exists(target):
            shutil.rmtree(target)
        os.rename(staging, target)
        tmp = self._ptr() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._ptr())
        # hardlinked carry-over makes older versions redundant: data shared
        # with the new version survives the unlink. Keep current + previous.
        keep = {version, prev}
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) not in keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def n_data_files(self) -> dict[int, int]:
        """Per-bucket parquet-file count of the current version — the
        small-file thermometer that says when compact_files() is due."""
        v = self.current_version()
        return {
            k: sum(
                1
                for fn in os.listdir(d)
                if not fn.startswith(("_", "."))
            )
            for k, d in self._bucket_dirs(v).items()
        }

    def compact_files(self) -> int:
        """Maintenance compaction: rewrite the current version so every
        bucket holds ONE parquet file, and advance CURRENT. Each commit
        rewrites its touched buckets with however many tasks held rows
        (up to spark.sql.shuffle.partitions files per bucket), so a
        long-running stream accumulates exactly the small-file problem
        that degrades scan/footer performance on a 100 TB table; this
        is the OPTIMIZE/rewrite-data-files housekeeping job (Delta
        OPTIMIZE, Iceberg rewriteDataFiles) on the versioned layout.
        Repartitioning BY THE BUCKET EXPRESSION puts each bucket's rows
        in a single task before the partitioned write, so the rewrite
        is one shuffle and the data is byte-for-byte equivalent (same
        rows, same bucket layout). Crash-safe like any commit: staging
        dir + atomic CURRENT pointer swap; a replay just re-runs the
        rewrite. Returns the new version (0 = nothing to compact)."""
        v = self.current_version()
        if v == 0:
            return 0
        df = self.current().repartition(self.n_buckets, self.bucket_of())
        self.commit(df, v + 1, touched=None)
        return v + 1


@dataclass
class StreamConfig:
    """One replicated stream (reference config.go:15-21)."""

    table_id: int
    meta: TableMeta
    dst_path: str
    dst_schema: str
    problem_strategy: str = "stop"  # 'stop' | 'continue'
    # PK-bucket partition count of the destination. 16 suits tests; size
    # it so one bucket's rows fit an executor at the deployment's scale
    # (100 TB / n_buckets ~ a few GB => thousands of buckets).
    n_buckets: int = 16


@dataclass
class ReplicationEngine:
    """Driver-side engine state shared across micro-batches."""

    spark: SparkSession
    streams: list[StreamConfig]
    expected_partitions: int
    work_dir: str
    instance_id: str = "aardappel"
    topic_path: str = ""
    blocked_keys: DataFrame | None = None  # BINARY serialized keys (S13)
    commands: DataFrame | None = None  # raw command-topic messages (S12)
    metrics: MetricsRegistry = field(default_factory=MetricsRegistry)
    step_to_ms: float = 1e-3  # CDC step unit -> milliseconds (default: micros)
    # W4: start in INITIAL_SCAN (reference seeds it always, main.go:99-117).
    # False seeds stage RUN for pure change-stream deployments with no
    # snapshot backlog to sync past.
    initial_scan: bool = False
    # W4/O2: the initial-scan backlog is applied in sub-batches of at most
    # this many messages (reference cap: processor.go:641, README.md:233).
    catch_up_batch_size: int = 1000
    # Optional per-stream layout (table_id -> partition count) for the
    # heartbeat guard's census; expected_partitions stays the quorum gate.
    stream_partitions: dict[int, int] | None = None
    hb_state: dict[tuple[int, int], tuple[Decimal, Decimal]] = field(default_factory=dict)
    # W2: wall-clock of the last COMPLETE set of FRESH heartbeats
    # (lastFullHbTime, hb_tracker.go:33,113); the guard loop compares
    # against it. `hb_fresh` tracks which partitions heartbeated since the
    # last quorum consumption — the reference deletes consumed tracker
    # entries on Commit, so its full-set test only passes again once every
    # partition has produced a genuinely new heartbeat. Testing the
    # cumulative `hb_state` size instead would restamp on every batch
    # forever after the first full set and the guard would never fire.
    last_full_hb_time: float | None = None
    hb_fresh: set[tuple[int, int]] = field(default_factory=set)
    batches_applied: int = 0
    modifications: int = 0

    def __post_init__(self):
        self.state = StateStore(self.spark, os.path.join(self.work_dir, "_state"), self.instance_id)
        self._restore_snapshots(before_batch_id=None)
        if not self.initial_scan and self.state.read()["stage"] == STAGE_INITIAL_SCAN:
            # seed straight to RUN when no initial-scan sync is wanted
            st = self.state.read()
            if not os.path.exists(self.state._ptr()):
                self.state.write((st["step_id"], st["tx_id"]), STAGE_RUN)
        self.tables = {
            s.table_id: VersionedTable(
                self.spark, s.dst_path, s.meta, s.dst_schema, n_buckets=s.n_buckets
            )
            for s in self.streams
        }
        self.pending_dir = os.path.join(self.work_dir, "_pending")
        self.dlq_dir = os.path.join(self.work_dir, "_dlq")
        os.makedirs(self.pending_dir, exist_ok=True)

    # -- pending events (above-quorum carryover) ------------------------

    def _pending_versions(self) -> list[int]:
        if not os.path.exists(self.pending_dir):
            return []
        return sorted(
            int(f[1:]) for f in os.listdir(self.pending_dir) if f.startswith("v")
        )

    def _read_pending(self, before_batch_id: int) -> DataFrame | None:
        """Pending state as of BEFORE this batch. A replayed batch N must
        not see the v{N} it wrote before crashing, or its events double."""
        versions = [v for v in self._pending_versions() if v < before_batch_id]
        if not versions:
            return None
        # explicit schema: an empty pending snapshot has no footer to infer
        return self.spark.read.schema(CDC_EVENT_SCHEMA).parquet(
            os.path.join(self.pending_dir, f"v{versions[-1]}")
        )

    def _write_pending(self, df: DataFrame, version: int) -> None:
        target = os.path.join(self.pending_dir, f"v{version}")
        if os.path.exists(target):
            shutil.rmtree(target)  # crashed-batch replay
        df.select(*[f.name for f in CDC_EVENT_SCHEMA.fields]).write.mode(
            "overwrite"
        ).parquet(target)
        # keep version-1: a crash before the state write replays THIS batch,
        # which reads the previous pending version. Older ones are dead
        # (their batch's source offsets are already committed).
        for v in self._pending_versions():
            if v < version - 1:
                shutil.rmtree(os.path.join(self.pending_dir, f"v{v}"), ignore_errors=True)

    # -- durable per-batch snapshots: heartbeats (_hb) and offsets (_off) --
    #
    # Heartbeat highs: Spark commits source offsets after EVERY successful
    # foreachBatch return — including pending-only early returns — so
    # heartbeats consumed in committed batches must survive a driver
    # restart, or quorum stalls and out-of-order detection silently misses
    # pre-restart lateness (the reference re-reads uncommitted heartbeats
    # instead).
    #
    # Max-consumed offset per (table_id, partition): the reference's
    # MakeTopicReaderGuard state (internal/reader/reader.go:32-76). Spark's
    # checkpoint normally owns resume offsets (S5 by design), but a
    # partition REBALANCE hands the same partition to a new reader session
    # whose delivery can overlap already-consumed offsets; the guard is
    # what drops that overlap.
    #
    # Both are versioned like ``_write_pending``: ``<dir>/v{batch}.json``,
    # keeping v{N} and v{N-1}, so a replayed batch restores the snapshot
    # written BEFORE it and does not see its own crashed attempt's
    # heartbeats (they would flag the batch's own events as out-of-order)
    # or filter its own records.

    def _snapshot_versions(self, kind: str) -> list[int]:
        d = os.path.join(self.work_dir, kind)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def _persist_snapshots(self, batch_id: int) -> None:
        for kind, data in (
            ("_hb", [[t, p, str(s), str(x)] for (t, p), (s, x) in self.hb_state.items()]),
            ("_off", [[t, p, o] for (t, p), o in self.off_state.items()]),
        ):
            d = os.path.join(self.work_dir, kind)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"v{batch_id}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(data))
            os.replace(tmp, path)
            for v in self._snapshot_versions(kind):
                if v < batch_id - 1:
                    os.remove(os.path.join(d, f"v{v}.json"))

    def _restore_snapshots(self, before_batch_id: int | None) -> None:
        """Reset hb_state and off_state to the newest snapshots from an
        EARLIER batch (any batch when ``before_batch_id`` is None)."""

        def newest(kind: str) -> list:
            versions = [
                v
                for v in self._snapshot_versions(kind)
                if before_batch_id is None or v < before_batch_id
            ]
            if not versions:
                return []
            path = os.path.join(self.work_dir, kind, f"v{versions[-1]}.json")
            try:
                with open(path) as f:
                    return json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                return []

        self.hb_state = {
            (int(t), int(p)): (Decimal(s), Decimal(x)) for t, p, s, x in newest("_hb")
        }
        self.off_state = {(int(t), int(p)): int(o) for t, p, o in newest("_off")}

    # -- consumed-offset guard (S5) and the batch census ---------------

    def _guard_consumed_offsets(self, parsed: DataFrame) -> DataFrame:
        """Drop records at-or-below the max offset already consumed for
        their (table_id, partition) — exactly-once across an
        at-least-once rebalance overlap. Broadcast anti-condition join:
        the guard table is O(partitions) rows, the stream side never
        shuffles. The guard advances from the survivors' census
        (``_advance_offsets``)."""
        if not self.off_state:
            return parsed
        guard = local_df(
            self.spark,
            [(t, p, o) for (t, p), o in self.off_state.items()],
            "table_id int, partition int, _consumed long",
        )
        return (
            parsed.join(F.broadcast(guard), ["table_id", "partition"], "left")
            .filter(
                F.col("_consumed").isNull() | (F.col("offset") > F.col("_consumed"))
            )
            .drop("_consumed")
        )

    @staticmethod
    def _census(parsed: DataFrame) -> list:
        """The batch's one driver-side aggregate, per (table_id,
        partition): max offset (guard advance), newest heartbeat (quorum),
        error-row count (problem routing) and oldest event position
        (out-of-order test). One job over the persisted parse replaces a
        collect or count per question."""
        return (
            parsed.groupBy("table_id", "partition")
            .agg(
                F.max("offset").alias("max_off"),
                F.max(F.when(is_heartbeat(), pos())).alias("hb"),
                F.count_if(F.col("error").isNotNull()).alias("n_problems"),
                F.min(F.when(is_event(), pos())).alias("min_ev"),
            )
            .collect()
        )

    def _advance_offsets(self, census: list) -> None:
        for r in census:
            k = (r.table_id, r.partition)
            cur = self.off_state.get(k)
            if cur is None or r.max_off > cur:
                self.off_state[k] = r.max_off

    def _update_hb_state(self, census: list) -> set[tuple[int, int]]:
        """Fold a batch's heartbeats into ``hb_state``; returns the set of
        (table_id, partition) keys that heartbeated in THIS batch (fresh
        keys for the W2 guard, whether or not they advanced the high)."""
        seen: set[tuple[int, int]] = set()
        for r in census:
            if r.hb is None:
                continue
            k = (r.table_id, r.partition)
            seen.add(k)
            cur = self.hb_state.get(k)
            cand = (r.hb.step, r.hb.tx_id)
            if cur is None or cand > cur:
                self.hb_state[k] = cand
        return seen

    def _note_fresh_heartbeats(self, seen: set[tuple[int, int]], now: float) -> None:
        """W2 stamp: ``last_full_hb_time`` advances only when every expected
        partition has heartbeated since the last quorum consumption."""
        self.hb_fresh.update(seen)
        if len(self.hb_fresh) >= self.expected_partitions:
            self.last_full_hb_time = now

    def _consume_fresh_heartbeats(self, q: tuple[Decimal, Decimal]) -> None:
        """Mirror of the reference's tracker Commit (hb_tracker.go): a
        quorum apply consumes heartbeats at-or-below the cut — partitions
        whose high is still above ``q`` stay fresh."""
        self.hb_fresh = {
            k for k in self.hb_fresh if k in self.hb_state and self.hb_state[k] > q
        }

    def quorum(self) -> tuple[Decimal, Decimal] | None:
        if len(self.hb_state) < self.expected_partitions:
            return None
        return min(self.hb_state.values())

    # -- the per-batch kernel -------------------------------------------

    def process_batch(self, raw: DataFrame, batch_id: int) -> None:
        """foreachBatch body. `raw` columns: value (JSON string), and
        optionally partition/offset."""
        import time as _time

        t_start = _time.perf_counter()
        st = self.state.ensure_startable()
        checkpoint = (st["step_id"], st["tx_id"])
        # pre-batch heartbeat state (no-op in steady state; on a replay it
        # rewinds past the crashed attempt's heartbeats)
        self._restore_snapshots(before_batch_id=batch_id)

        cols = raw.columns
        has_offset = "offset" in cols
        parsed = parse_messages(
            raw,
            table_id_col="table_id" if "table_id" in cols else None,
            partition_col="partition" if "partition" in cols else None,
            offset_col="offset" if has_offset else None,
        )
        if has_offset:
            # reader-level offset guard (S5): drop rebalance-overlap
            # redelivery BEFORE out-of-order routing, like the reference's
            # topic reader guard
            parsed = self._guard_consumed_offsets(parsed)
        parsed = parsed.persist()
        try:
            census = self._census(parsed)
            if has_offset:
                self._advance_offsets(census)
            if any(r.n_problems for r in census):
                self._route_problems(split_problems(parsed), st, parsed=parsed)

            # snapshot BEFORE this batch's heartbeats: out-of-order means
            # older than a heartbeat the stream had already emitted
            # (verifyStream, reader.go:150-207)
            hb_before = dict(self.hb_state)
            seen_hb = self._update_hb_state(census)
            self._note_fresh_heartbeats(seen_hb, _time.time())

            events = split_events(parsed).select(
                *[f.name for f in CDC_EVENT_SCHEMA.fields]
            )
            # out-of-order routing first (read-path order: verifyStream runs
            # before EnqueueTx's stale filter, reader.go:243); an 'apply'
            # override below the checkpoint is still dropped by F1 next,
            # exactly like EnqueueTx would drop it. The census says whether
            # any partition's oldest event is behind its heartbeat, so a
            # batch with no late event plans no join.
            if any(
                r.min_ev is not None
                and (r.table_id, r.partition) in hb_before
                and (r.min_ev.step, r.min_ev.tx_id)
                < hb_before[(r.table_id, r.partition)]
                for r in census
            ):
                events = self._route_out_of_order(events, hb_before, st)
            # stale filter (F1): strictly-below-checkpoint replays dropped
            events = events.filter(pos() >= pos_lit(*checkpoint))
            if self.blocked_keys is not None:
                events = filter_blocked_keys(
                    events, self.blocked_keys, table_path=self.topic_path
                )

            pend = self._read_pending(before_batch_id=batch_id)
            if pend is not None:
                events = pend.unionByName(events)

            q = self.quorum()

            if st["stage"] == STAGE_INITIAL_SCAN:
                # W4 (DoInitialScan, processor.go:621-726): remember the MAX
                # of the first complete heartbeat set as the sync point;
                # nothing applies until the quorum passes it (the snapshot
                # backlog must have fully arrived). The apply below then
                # writes position AND stage=RUN in one state commit — the
                # reference's atomic final-batch flip (:679-698).
                if (
                    st.get("sync_step") is None
                    and len(self.hb_state) >= self.expected_partitions
                ):
                    sync = max(self.hb_state.values())
                    self.state.write(
                        checkpoint,
                        STAGE_INITIAL_SCAN,
                        extra={"sync_step": str(sync[0]), "sync_tx": str(sync[1])},
                    )
                    st = self.state.read()
                synced = (
                    st.get("sync_step") is not None
                    and q is not None
                    and q > (Decimal(st["sync_step"]), Decimal(st["sync_tx"]))
                )
                if not synced:
                    self._write_pending(events, batch_id)
                    self._persist_snapshots(batch_id)
                    return

            if q is None or q <= checkpoint:
                # no safe boundary yet — everything stays pending
                self._write_pending(events, batch_id)
                self._persist_snapshots(batch_id)
                return

            quorum_wait = _time.perf_counter() - t_start
            batch = cut_below_quorum(events, q).persist()
            remainder = events.filter(pos() >= pos_lit(*q))

            t_commit = _time.perf_counter()
            if st["stage"] == STAGE_INITIAL_SCAN:
                per_table = self._catch_up_apply(batch, batch_id)
            else:
                per_table = self._apply_to_tables(batch, version=batch_id + 1)
            n_mods = sum(per_table.values())
            self.modifications += n_mods

            self._write_pending(remainder, batch_id)
            stage = STAGE_RUN  # first successful quorum apply flips stage
            self.state.write(q, stage)
            self._consume_fresh_heartbeats(q)
            self._persist_snapshots(batch_id)
            self.batches_applied += 1
            self.metrics.on_batch_applied(
                modifications=n_mods,
                per_table=per_table,
                commit_seconds=_time.perf_counter() - t_commit,
                quorum_wait_seconds=quorum_wait,
                quorum_step_ms=float(q[0]) * self.step_to_ms,
            )
            batch.unpersist()
        finally:
            parsed.unpersist()

    def _apply_to_tables(self, batch: DataFrame, version: int) -> dict[str, int]:
        """Apply one (sub-)batch to every destination with PARTITION-PRUNED
        commits: compact + type the mutations, find which PK buckets they
        touch, merge against ONLY those buckets, and commit with the rest
        carried over by link. The merge join's destination side shrinks to
        the touched partitions — at 100 TB that is the difference between
        rewriting the table per micro-batch and rewriting a few files."""
        per_table: dict[str, int] = {}
        for s in self.streams:
            tbl = self.tables[s.table_id]
            ev_t = batch.filter(F.col("table_id") == s.table_id)
            typed = typed_mutations(compact_changes(ev_t), s.meta).persist()
            try:
                touched = sorted(
                    r[0]
                    for r in typed.select(tbl.bucket_of().alias("b")).distinct().collect()
                )
                merged = merge_mutations(tbl.read_buckets(touched), typed, s.meta)
                tbl.commit(merged, version=version, touched=touched)
            finally:
                typed.unpersist()
            per_table[s.meta.name] = ev_t.count()
        return per_table

    # Catch-up table versions live far above normal batch versions so the
    # two number spaces never collide (commit prunes old dirs anyway).
    CATCHUP_VERSION_STRIDE = 1_000_000

    def _catch_up_apply(self, batch: DataFrame, batch_id: int) -> dict[str, int]:
        """W4/O2 batched catch-up (DoInitialScan, processor.go:621-726, cap
        :641; README.md:226-239): the initial-scan backlog is applied in
        <= catch_up_batch_size-message sub-batches in global position
        order, each a separate destination commit, WITHOUT advancing the
        `_state` checkpoint between them. The caller writes position +
        stage=RUN once, after the last sub-batch — the reference's atomic
        final-batch flip (:679-698). A crash mid-loop replays the whole
        micro-batch (source offsets uncommitted, state still INITIAL_SCAN)
        and the deterministic chunking re-commits the same sub-batches.

        The global row_number sort is a one-time, catch-up-only operation;
        steady-state batches never pass through it."""
        from pyspark.sql.window import Window

        n = batch.count()
        cap = self.catch_up_batch_size
        if n <= cap:
            return self._apply_to_tables(batch, version=batch_id + 1)
        chunked = batch.withColumn(
            "_chunk",
            ((F.row_number().over(Window.orderBy("step", "tx_id", "seq")) - 1) / F.lit(cap)).cast("int"),
        ).persist()
        totals: dict[str, int] = {}
        base = (batch_id + 1) * self.CATCHUP_VERSION_STRIDE
        try:
            for k in range(math.ceil(n / cap)):
                sub = chunked.filter(F.col("_chunk") == k).drop("_chunk")
                for t, c in self._apply_to_tables(sub, version=base + k).items():
                    totals[t] = totals.get(t, 0) + c
        finally:
            chunked.unpersist()
        return totals

    def _route_out_of_order(
        self,
        events: DataFrame,
        hb_before: dict[tuple[int, int], tuple[Decimal, Decimal]],
        st: dict,
    ) -> DataFrame:
        """F4/W3: events older than their partition's last-known heartbeat
        are problem messages; the caller's census found at least one.
        Resolution order (README.md:577-610): command-queue override
        ('apply' keeps, 'skip' drops+DLQ), else the stream's problem
        strategy ('continue' = DLQ+drop, 'stop' = persist FATAL_ERROR and
        die)."""
        hb_df = local_df(
            self.spark,
            [(t, p, s, x) for (t, p), (s, x) in hb_before.items()],
            "table_id int, partition int, hb_step decimal(20,0), hb_tx decimal(20,0)",
        )
        marked = events.join(F.broadcast(hb_df), ["table_id", "partition"], "left")
        late_cond = F.col("hb_step").isNotNull() & (
            pos() < F.struct(F.col("hb_step").alias("step"), F.col("hb_tx").alias("tx_id"))
        )
        late = marked.filter(late_cond).drop("hb_step", "hb_tx")
        ok = marked.filter(~F.coalesce(late_cond, F.lit(False))).drop("hb_step", "hb_tx")

        if self.commands is not None:
            resolved = resolve_problem_actions(
                late, parse_commands(self.commands), self.instance_id, self.topic_path
            )
        else:
            resolved = late.withColumn("action", F.lit(None).cast("string"))
        resolved = resolved.persist()
        try:
            applied = resolved.filter(F.col("action") == "apply").drop("action")
            dropped = resolved.filter(
                F.col("action").isNull() | (F.col("action") == "skip")
            )
            unresolved = resolved.filter(F.col("action").isNull())
            os.makedirs(self.dlq_dir, exist_ok=True)
            dropped.drop("action").withColumn(
                "_reason", F.lit("out_of_order")
            ).withColumn("_ts", F.current_timestamp()).write.mode("append").parquet(
                self.dlq_dir
            )

            if not unresolved.isEmpty() and any(
                s.problem_strategy == "stop" for s in self.streams
            ):
                first = unresolved.first()
                msg = (
                    f"out-of-order change at ({first.step},{first.tx_id}) "
                    f"partition {first.partition}"
                )
                self.state.write(
                    (st["step_id"], st["tx_id"]), st["stage"], STATE_FATAL, msg
                )
                raise RuntimeError(msg)
            return ok.unionByName(applied)
        finally:
            resolved.unpersist()

    def _route_problems(
        self, problems: DataFrame, st: dict, parsed: DataFrame | None = None
    ) -> None:
        """W3: DLQ + (stop|continue). 'stop' persists FATAL_ERROR before
        failing, like reader.go:192-204 — but first DRAINS the affected
        partitions' subsequent messages to the DLQ up to their next
        heartbeat (reader.go:86-143), so the diagnostics a human needs to
        recover are on disk before the process dies."""
        os.makedirs(self.dlq_dir, exist_ok=True)
        problems.withColumn("_reason", F.lit("problem")).withColumn(
            "_ts", F.current_timestamp()
        ).write.mode("append").parquet(self.dlq_dir)
        if any(s.problem_strategy == "stop" for s in self.streams):
            first = problems.first()
            if parsed is not None:
                self._drain_to_dlq(parsed, problems)
            msg = f"problem message: {first.error}"
            self.state.write(
                (st["step_id"], st["tx_id"]), st["stage"], STATE_FATAL, msg
            )
            raise RuntimeError(msg)

    def _drain_to_dlq(self, parsed: DataFrame, problems: DataFrame) -> None:
        """Messages AFTER the first problem of each partition, up to (not
        including) that partition's next heartbeat, land in the DLQ with
        reason 'drained_on_stop' — the batch shape of the reference
        reader's drain-until-next-heartbeat loop (reader.go:86-143)."""
        pw = problems.groupBy("table_id", "partition").agg(
            F.min("offset").alias("_p_off")
        )
        after = parsed.join(F.broadcast(pw), ["table_id", "partition"]).filter(
            F.col("offset") > F.col("_p_off")
        )
        hb_after = (
            after.filter(F.col("op") == OP_RESOLVED)
            .groupBy("table_id", "partition")
            .agg(F.min("offset").alias("_hb_off"))
        )
        drained = (
            after.join(F.broadcast(hb_after), ["table_id", "partition"], "left")
            .filter(F.col("_hb_off").isNull() | (F.col("offset") < F.col("_hb_off")))
            .drop("_p_off", "_hb_off")
        )
        drained.withColumn("_reason", F.lit("drained_on_stop")).withColumn(
            "_ts", F.current_timestamp()
        ).write.mode("append").parquet(self.dlq_dir)

    # -- entry points ----------------------------------------------------

    @classmethod
    def from_config(
        cls,
        spark: SparkSession,
        cfg,
        table_metas: dict[str, tuple[TableMeta, str]],
        work_dir: str,
        **overrides,
    ) -> "ReplicationEngine":
        """doMain parity (main.go:140-229): build the engine from an
        EngineConfig. ``table_metas`` maps dst_table -> (TableMeta,
        dst schema DDL); dst paths are the configured dst_table strings.
        Command topic / key filter / DLQ attach when configured."""
        from .sources import read_file_batch

        # The quorum is a consistent cut across EVERY partition of EVERY
        # stream; the reference derives the count at startup via
        # doDescribeTopics (main.go:119-138). A file/Kafka source can't be
        # described before the stream starts, so the count must be given —
        # silently defaulting it would let a single partition's heartbeat
        # unlock the cut and break cross-stream consistency.
        expected = overrides.pop("expected_partitions", None)
        stream_partitions = overrides.pop("stream_partitions", None)
        if expected is None and stream_partitions:
            expected = sum(stream_partitions.values())
        if expected is None:
            if len(cfg.streams) > 1:
                raise ValueError(
                    "expected_partitions is required for multi-stream "
                    "configs (one count across all streams' partitions)"
                )
            expected = 1

        streams = []
        for i, s in enumerate(cfg.streams):
            meta, ddl = table_metas[s.dst_table]
            streams.append(
                StreamConfig(
                    table_id=i,
                    meta=meta,
                    dst_path=s.dst_table,
                    dst_schema=ddl,
                    problem_strategy=s.problem_strategy,
                )
            )
        eng = cls(
            spark=spark,
            streams=streams,
            expected_partitions=expected,
            stream_partitions=stream_partitions,
            work_dir=work_dir,
            instance_id=cfg.instance_id,
            topic_path=cfg.streams[0].src_topic if cfg.streams else "",
            **overrides,
        )
        if cfg.cmd_queue_path:
            eng.commands = read_file_batch(spark, cfg.cmd_queue_path)
        if cfg.key_filter_table:
            blocked = spark.read.parquet(cfg.key_filter_table)
            from .keyfilter import blocked_keys_from_table

            eng.blocked_keys = blocked_keys_from_table(blocked, cfg.instance_id)
        if cfg.dead_letter_queue_path:
            eng.dlq_dir = cfg.dead_letter_queue_path
        if cfg.mon_server_listen:
            from .pmon import start_monitoring

            eng.monitoring = start_monitoring(
                eng,
                listen=cfg.mon_server_listen,
                guard_timeout=cfg.max_expected_heartbeat_interval,
            )
        return eng

    def run_stream(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """Attach the kernel to a streaming DataFrame (file/Kafka source).
        Source offsets live in Spark's checkpoint; they commit after each
        successful batch — the reference's offset-commit order (S10)."""
        writer = (
            source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
