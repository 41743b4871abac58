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

Storage: destination tables are versioned parquet directories (a
stand-in for Delta/Iceberg MERGE INTO on a cluster). A batch writes new,
unpublished table versions and a pending dir, then commits all of them,
the `_state` row, heartbeat highs and consumed offsets in ONE manifest
file (`Manifest`); a replay rewrites the same unpublished dirs
deterministically.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import merge_mutations
from .casting import TableMeta, typed_mutations
from .commitlog import ManifestLog, older_state
from .compact import compact_changes
from .cmdqueue import parse_commands, resolve_problem_actions
from .keyfilter import filter_blocked_keys
from .localrel import _unpin, empty_df, local_df
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


class Manifest(ManifestLog):
    """The commit log of one CDC work dir, and the engine's ``state``.

    Each publish is ONE file, ``_manifest/v{seq}.json`` (``ManifestLog``).
    It names the `_state` checkpoint row (FIXTURES.md §5), each
    destination's current and previous version, the pending carry-over
    dir, the heartbeat highs and the consumed offsets: the reference's
    one transaction over every destination plus the checkpoint row
    (processor.go:753-770), shaped like Spark's FileStreamSink
    `_spark_metadata` log. Manifest ``seq`` names pending dir ``seq`` and
    table versions up to seq + 1 (0 is the empty table), so nothing a
    batch writes lands on a dir a published manifest names.

    A batch's manifest records its batch id, streaming query id and
    ``pre``, the seq it built on. A batch whose id and query match the
    newest manifest replays an attempt that published before Spark
    committed its offsets, and builds on ``pre``, however often it
    replays. Other publishes (FATAL, compaction) carry their base's
    batch, query and ``pre`` forward. A fresh checkpoint (new query id,
    batch ids from 0 again) builds on the newest manifest."""

    def __init__(self, work_dir: str, instance_id: str = "aardappel", stage: str = STAGE_INITIAL_SCAN):
        err = older_work_dir(work_dir)
        if err:
            raise RuntimeError(err)
        self.pending_dir = os.path.join(work_dir, "_pending")
        self.instance_id = instance_id
        super().__init__(work_dir, {
            "batch_id": None, "query": None, "tables": {}, "pending": None, "hb": [], "off": [],
            "state": {"id": instance_id, "step_id": "0", "tx_id": "0", "state": STATE_OK,
                      "stage": stage, "last_msg": ""},
        })
        self.staged: dict[str, int] = {}  # table path -> unpublished version

    @staticmethod
    def version(m: dict, table: str) -> int:
        """The version of ``table`` manifest ``m`` names (0 = never
        committed)."""
        return m["tables"].get(table, [0])[-1]

    def read(self, m: dict | None = None) -> dict:
        """A manifest's state row, by default the newest's."""
        row = dict((m or self.latest())["state"])
        row["step_id"], row["tx_id"] = Decimal(row["step_id"]), Decimal(row["tx_id"])
        return row

    def ensure_startable(self, m: dict | None = None) -> dict:
        """Refuse to start unless state == OK (selectReplicationState,
        processor.go:308-310 — manual recovery required)."""
        st = self.read(m)
        if st["state"] != STATE_OK:
            raise RuntimeError(
                f"replication state is {st['state']} ({st['last_msg']}); "
                "manual recovery required"
            )
        return st

    def begin(self, batch_id: int, query: str | None) -> dict:
        """Start batch ``batch_id`` of streaming query ``query``: refuse
        unless startable, choose the manifest it builds on and drop what
        a crashed attempt staged. Returns that manifest's state row."""
        newest = self.refresh()
        self.ensure_startable(newest)
        if newest["seq"] >= 0 and (newest["batch_id"], newest["query"]) == (batch_id, query):
            self.base = self._load(newest["pre"])
        self.staged = {}
        return self.read(self.base)

    def write(self, position: tuple[Decimal, Decimal] | None = None, stage: str = "",
              state: str = STATE_OK, last_msg: str = "", extra: dict | None = None,
              batch: tuple[int, str | None] | None = None, **content) -> None:
        """The one commit: the base manifest with ``content``, every
        staged table version and, given a ``position``, a new state row
        (else the base's), published as manifest ``seq``. ``batch`` =
        (batch id, query id) marks a batch's publish and records the
        base's seq as ``pre``, what a replay of that batch builds on."""
        if position is not None:
            content["state"] = {
                "id": self.instance_id, "step_id": str(position[0]), "tx_id": str(position[1]),
                "state": state, "stage": stage, "last_msg": last_msg, **(extra or {}),
            }
        if batch is not None:
            content.update(batch_id=batch[0], query=batch[1], pre=self.base["seq"])
        tables = dict(self.base["tables"])
        for table, v in self.staged.items():  # the previous version stays named
            tables[table] = [*tables.get(table, [])[-1:], v]
        self.staged = {}
        self.publish({**self.base, **content, "tables": tables})

    def _names(self, m: dict, newest: bool) -> dict[str, list]:
        """The newest manifest keeps each table's current and previous
        version, the others only the current; each keeps its pending dir."""
        tables = {t: vs if newest else vs[-1:] for t, vs in m["tables"].items()}
        return {self.pending_dir: [m["pending"]], **tables}

    def versions(self, table: str) -> list[int]:
        """``table``'s retained versions, ascending."""
        return sorted(self._retained(self._seqs())[1].get(table, ()))


def older_work_dir(work_dir: str) -> str | None:
    """The refusal of a CDC work dir written before the commit manifest,
    or None: any of the engine's older stores without ``_manifest/``."""
    older = older_state(work_dir, ("_state", "_pending", "_hb", "_off"))
    if not older:
        return None
    return (
        f"{work_dir} holds CDC state written before the commit manifest "
        f"({', '.join(older)}; no _manifest/) and cannot be resumed: start "
        "from a new --work-dir and new destination tables, and replay "
        "the source"
    )


class VersionedTable:
    """Destination table as versioned parquet dirs ``v{N}/pkb=*``,
    PARTITIONED by a deterministic PK bucket (``pkb``). The table keeps
    no pointer of its own: the newest ``Manifest`` of the work dir names
    its version, and a commit stays invisible until a manifest naming it
    is published.

    A commit rewrites the buckets whose keys appear in the batch and
    links every other bucket's files from the version it builds on —
    byte-identical, no data copied. That saves only the buckets a batch
    misses: with uniform keys a batch of a few thousand mutations touches
    every bucket, so each commit rewrites the whole table. Write
    amplification is O(table) per batch, not O(touched buckets); a
    merge-on-read layout (ROADMAP item 8) is the fix. Replaying a batch
    rewrites an unpublished version deterministically, so replays
    converge (§4.3)."""

    def __init__(self, spark: SparkSession, path: str, meta: TableMeta, schema: str,
                 manifest: Manifest, n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.schema = schema
        self.manifest = manifest
        self.n_buckets = n_buckets

    def current_version(self) -> int:
        """The version the newest manifest names (0 = never committed)."""
        return self.manifest.version(self.manifest.latest(), self.path)

    def _head(self) -> int:
        """The version the next commit builds on: the running
        transaction's last commit, else the base manifest's."""
        staged = self.manifest.staged.get(self.path)
        return staged or self.manifest.version(self.manifest.base, self.path)

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

    def _read(self, v: int, buckets: list[int] | None = None) -> DataFrame:
        """Version ``v`` of the given buckets (None = all). Reading the
        leaf dirs directly IS the partition pruning: unselected buckets'
        files never reach the scan."""
        want = None if buckets is None else set(buckets)
        sel = [
            p for k, p in sorted(self._bucket_dirs(v).items()) if want is None or k in want
        ]
        if not sel:
            return empty_df(self.spark, self.schema)
        return self.spark.read.schema(self.schema).parquet(*sel)

    def read_buckets(self, buckets: list[int] | None) -> DataFrame:
        """The given buckets as the next commit builds on them."""
        return self._read(self._head(), buckets)

    def current(self) -> DataFrame:
        return self._read(self.current_version())

    def versions(self) -> list[int]:
        """Retained versions, ascending: the current and previous one the
        newest manifest names, and what a replay may build on (the
        hardlink carry-over shares unchanged buckets' bytes between them,
        so history costs only the touched buckets' old files)."""
        return self.manifest.versions(self.path)

    def read_version(self, v: int) -> DataFrame:
        """Snapshot (time-travel) read of a retained version — the
        VERSION AS OF story (Delta time travel / Iceberg snapshot
        reads) on the versioned layout: a reader pinned to ``v`` sees
        one consistent table state no matter how many commits land
        after it, because a version dir is never rewritten once a
        manifest names it. Raises for vacuumed versions so a stale
        reader fails loudly instead of silently reading the wrong
        snapshot; the retention window (the table's current and
        previous version, however many pending-only batches publish in
        between) is the vacuum dial."""
        if v != 0 and v not in self.versions():
            raise ValueError(
                f"version {v} is not retained at {self.path} "
                f"(retained: {self.versions()}); vacuumed by a later commit"
            )
        return self._read(v)

    def commit(self, df: DataFrame, touched: list[int] | None = None) -> int:
        """Write the version the manifest's next publish names: ``df`` is
        the post-state of the TOUCHED buckets (or of the whole table when
        ``touched`` is None = full rewrite), the rest link from the
        version the commit builds on. The version is staged in the
        manifest, unpublished; returns it."""
        version = self.manifest.seq + 1
        target = self._version_dir(version)
        # Materialize into a staging dir FIRST: the incoming df lazily
        # READS the version it builds on (merge input), which is the
        # target itself when catch-up sub-batches chain through one
        # version, so deleting it before the write would pull files out
        # from under the running plan.
        staging = target + ".staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.withColumn("pkb", self.bucket_of()).write.partitionBy("pkb").mode(
            "overwrite"
        ).parquet(staging)
        prev = self._head()
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
        self.manifest.staged[self.path] = version
        return version

    def n_data_files(self) -> dict[int, int]:
        """Per-bucket parquet-file count of the current version — the
        small-file thermometer that says when compact_files() is due."""
        return {
            k: sum(1 for fn in os.listdir(d) if not fn.startswith(("_", ".")))
            for k, d in self._bucket_dirs(self.current_version()).items()
        }

    def compact_files(self) -> int:
        """Maintenance compaction: rewrite the table so every bucket
        holds ONE parquet file, staged as the version the manifest's next
        publish names. Each commit rewrites its touched buckets with
        however many tasks held rows (up to spark.sql.shuffle.partitions
        files per bucket), so a long-running stream accumulates exactly
        the small-file problem that degrades scan/footer performance on
        a 100 TB table; this is the OPTIMIZE/rewrite-data-files
        housekeeping job (Delta OPTIMIZE, Iceberg rewriteDataFiles) on
        the versioned layout. Repartitioning BY THE BUCKET EXPRESSION
        puts each bucket's rows in a single task before the partitioned
        write, so the rewrite is one shuffle and the data is
        byte-for-byte equivalent (same rows, same bucket layout).
        Crash-safe like any commit: nothing is visible until the caller
        publishes; a replay just re-runs the rewrite. Returns the new
        version (0 = nothing to compact)."""
        v = self._head()
        if v == 0:
            return 0
        df = self._read(v).repartition(self.n_buckets, self.bucket_of())
        return self.commit(df, touched=None)


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
    # (MonitoringServer, HeartbeatGuard) once from_config started them
    monitoring: tuple | None = None

    def __post_init__(self):
        self.state = Manifest(
            self.work_dir,
            self.instance_id,
            # no initial-scan sync wanted: a new work dir starts in RUN
            STAGE_INITIAL_SCAN if self.initial_scan else STAGE_RUN,
        )
        self._restore()
        self.tables = {
            s.table_id: VersionedTable(
                self.spark, s.dst_path, s.meta, s.dst_schema, self.state,
                n_buckets=s.n_buckets,
            )
            for s in self.streams
        }
        self.pending_dir = self.state.pending_dir
        self.dlq_dir = os.path.join(self.work_dir, "_dlq")

    # -- what a batch carries in its manifest besides tables and _state --
    #
    # Pending events: the above-quorum carry-over, one parquet dir per
    # manifest.
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
    # A batch restores all three from the manifest it builds on, so a
    # replay does not see its own crashed attempt's heartbeats (they would
    # flag the batch's own events as out-of-order), pending or offsets.

    def _pending_versions(self) -> list[int]:
        # unused here; the benchmark's tracer reads the retained dirs
        if not os.path.exists(self.pending_dir):
            return []
        return sorted(
            int(f[1:]) for f in os.listdir(self.pending_dir) if f.startswith("v")
        )

    def _read_pending(self) -> DataFrame | None:
        v = self.state.base["pending"]
        if v is None:
            return None
        # explicit schema: an empty pending snapshot has no footer to infer
        return self.spark.read.schema(CDC_EVENT_SCHEMA).parquet(
            os.path.join(self.pending_dir, f"v{v}")
        )

    def _write_pending(self, df: DataFrame) -> None:
        df.select(*[f.name for f in CDC_EVENT_SCHEMA.fields]).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.pending_dir, f"v{self.state.seq}"))

    def _restore(self) -> None:
        m = self.state.base
        self.hb_state = {(t, p): (Decimal(s), Decimal(x)) for t, p, s, x in m["hb"]}
        self.off_state = {(t, p): o for t, p, o in m["off"]}

    def _publish(self, position, stage: str, key: tuple, extra=None) -> None:
        """The batch's one commit, through ``state.write``: the staged
        table versions, the pending dir just written, the heartbeat
        highs and the consumed offsets."""
        self.state.write(
            position, stage, extra=extra, batch=key, pending=self.state.seq,
            hb=[[t, p, str(s), str(x)] for (t, p), (s, x) in self.hb_state.items()],
            off=[[t, p, o] for (t, p), o in self.off_state.items()],
        )

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
        (out-of-order test). One job over the pinned parse replaces a
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
        # the streaming query's id is new with every fresh checkpoint
        key = (batch_id, self.spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        st = self.state.begin(*key)
        checkpoint = (st["step_id"], st["tx_id"])
        # pre-batch heartbeats and offsets (no-op in steady state; on a
        # replay they rewind past the crashed attempt's)
        self._restore()

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
        # the batch's localCheckpoints: no columnar cache encoding, and
        # AQE still coalesces the shuffles inside them. All of them live
        # until the batch ends, because frames derived from one (e.g.
        # _route_out_of_order's result) are read after the step that
        # pinned it, and a released local checkpoint cannot be recomputed
        parsed = parsed.localCheckpoint(eager=False)
        pins = [parsed]
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
                events = self._route_out_of_order(events, hb_before, st, pins)
            # stale filter (F1): strictly-below-checkpoint replays dropped
            events = events.filter(pos() >= pos_lit(*checkpoint))
            if self.blocked_keys is not None:
                events = filter_blocked_keys(
                    events, self.blocked_keys, table_path=self.topic_path
                )

            pend = self._read_pending()
            if pend is not None:
                events = pend.unionByName(events)

            q = self.quorum()
            sync = {k: st[k] for k in ("sync_step", "sync_tx") if k in st}
            synced = True
            if st["stage"] == STAGE_INITIAL_SCAN:
                # W4 (DoInitialScan, processor.go:621-726): remember the MAX
                # of the first complete heartbeat set as the sync point;
                # nothing applies until the quorum passes it (the snapshot
                # backlog must have fully arrived). The apply below then
                # publishes position AND stage=RUN in one manifest — the
                # reference's atomic final-batch flip (:679-698).
                if not sync and len(self.hb_state) >= self.expected_partitions:
                    hi = max(self.hb_state.values())
                    sync = {"sync_step": str(hi[0]), "sync_tx": str(hi[1])}
                synced = bool(sync) and q is not None and q > (
                    Decimal(sync["sync_step"]), Decimal(sync["sync_tx"])
                )

            if not synced or q is None or q <= checkpoint:
                # no safe boundary yet — everything stays pending
                self._write_pending(events)
                self._publish(checkpoint, st["stage"], key, sync)
                return

            quorum_wait = _time.perf_counter() - t_start
            batch = cut_below_quorum(events, q)
            remainder = events.filter(pos() >= pos_lit(*q))

            t_commit = _time.perf_counter()
            if st["stage"] == STAGE_INITIAL_SCAN:
                per_table = self._catch_up_apply(batch, pins)
            else:
                per_table = self._apply_to_tables(batch, pins)
            n_mods = sum(per_table.values())
            self.modifications += n_mods

            self._write_pending(remainder)
            # the first successful quorum apply flips stage to RUN
            self._publish(q, STAGE_RUN, key)
            self._consume_fresh_heartbeats(q)
            self.batches_applied += 1
            self.metrics.on_batch_applied(
                modifications=n_mods,
                per_table=per_table,
                commit_seconds=_time.perf_counter() - t_commit,
                quorum_wait_seconds=quorum_wait,
                quorum_step_ms=float(q[0]) * self.step_to_ms,
            )
        finally:
            _unpin(*pins)

    def _apply_to_tables(
        self, batch: DataFrame, pins: list[DataFrame]
    ) -> dict[str, int]:
        """Apply one (sub-)batch to every destination with PARTITION-PRUNED
        commits: compact + type the mutations, find which PK buckets they
        touch, merge against ONLY those buckets, and commit with the rest
        carried over by link. Each commit stages the version the batch's
        manifest will name; nothing is visible before it is published."""
        per_table: dict[str, int] = {}
        for s in self.streams:
            tbl = self.tables[s.table_id]
            ev_t = batch.filter(F.col("table_id") == s.table_id)
            typed = typed_mutations(compact_changes(ev_t), s.meta).localCheckpoint(
                eager=False
            )
            pins.append(typed)
            touched = sorted(
                r[0]
                for r in typed.select(tbl.bucket_of().alias("b")).distinct().collect()
            )
            merged = merge_mutations(tbl.read_buckets(touched), typed, s.meta)
            tbl.commit(merged, touched=touched)
            per_table[s.meta.name] = ev_t.count()
        return per_table

    def _catch_up_apply(self, batch: DataFrame, pins: list[DataFrame]) -> dict[str, int]:
        """W4/O2 batched catch-up (DoInitialScan, processor.go:621-726, cap
        :641; README.md:226-239): the initial-scan backlog is applied in
        <= catch_up_batch_size-message sub-batches in global position
        order, each a commit chained through the batch's one unpublished
        table version. The caller publishes tables, position and
        stage=RUN in one manifest after the last sub-batch — the
        reference's atomic final-batch flip (:679-698). A crash mid-loop
        replays the whole micro-batch (source offsets uncommitted, no
        manifest published) and the deterministic chunking re-commits
        the same sub-batches.

        The global row_number sort is a one-time, catch-up-only operation;
        steady-state batches never pass through it."""
        from pyspark.sql.window import Window

        n = batch.count()
        cap = self.catch_up_batch_size
        if n <= cap:
            return self._apply_to_tables(batch, pins)
        chunked = batch.withColumn(
            "_chunk",
            ((F.row_number().over(Window.orderBy("step", "tx_id", "seq")) - 1) / F.lit(cap)).cast("int"),
        ).localCheckpoint(eager=False)
        pins.append(chunked)
        totals: dict[str, int] = {}
        for k in range(math.ceil(n / cap)):
            sub = chunked.filter(F.col("_chunk") == k).drop("_chunk")
            for t, c in self._apply_to_tables(sub, pins).items():
                totals[t] = totals.get(t, 0) + c
        return totals

    def _route_out_of_order(
        self,
        events: DataFrame,
        hb_before: dict[tuple[int, int], tuple[Decimal, Decimal]],
        st: dict,
        pins: list[DataFrame],
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
        # pinned for the rest of the batch: the returned frame reads it
        resolved = resolved.localCheckpoint(eager=False)
        pins.append(resolved)
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

    def stop_monitoring(self) -> None:
        """Stop the /metrics server and heartbeat guard from_config
        started, if any; idempotent."""
        if self.monitoring is not None:
            server, guard = self.monitoring
            self.monitoring = None
            guard.stop()
            server.stop()

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
