"""The traced run: spans around the program's public callables, opened
from the benchmark's own files, plus the per-layer metrics computed from
the spans, Spark's event log and counts taken outside the program.

Every span sets ``spark.job.description`` to its id while it is open, so
each Spark job is attributed to the innermost open span. The
set-similarity kernel writes its stores from threads it starts, which do
not inherit the property; a job without it is attributed by its
submission time to the latest-started ``setsim.batch`` span open at that
moment, and any other job without it counts as unattributed. The file
source's listing jobs run in Spark's stream thread outside every span;
they are counted on their own. A span around a
lazy function (one that only builds a plan) measures plan building; the
execution shows up on the span whose action forced it.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from . import eventlog, model

JOB_PREFIX = "perfbench:"
# spans whose callables submit jobs from threads that drop the description
BY_TIME_SPANS = ("setsim.batch",)
# the description of the job a file stream source runs, in the stream
# thread before ``foreachBatch``, to list a batch of more than 32 files
LISTING_PREFIX = "Listing leaf files"

# the names streaming.py binds from parse, quorum, compact, casting and apply
STREAMING_NAMES = (
    "parse_messages",
    "split_events",
    "split_heartbeats",
    "split_problems",
    "get_quorum",
    "cut_below_quorum",
    "compact_changes",
    "typed_mutations",
    "merge_mutations",
)


class Tracer:
    """One traced run: its spans, the streaming listener's progress
    reports, and the counts sampled after each CDC batch."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.marks: dict[str, float] = {}
        self.progress: list[dict] = []
        self.local = threading.local()
        self.engine = None
        self.batch_stats: list[dict] = []
        self.counts: dict = {}

        import aardappel_spark.streaming as streaming

        self._streaming = streaming
        self._saved = {n: getattr(streaming, n) for n in STREAMING_NAMES}
        for n, fn in self._saved.items():
            setattr(streaming, n, self.wrap(n, fn))

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        spark.streams.addListener(self.listener)
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # the main thread's root span: its jobs outside every other span land here
        self._root = self.span("run")
        self._root.__enter__()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
            "wall_end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        self.sc.setJobDescription(f"{JOB_PREFIX}{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            stack.pop()
            self.sc.setJobDescription(f"{JOB_PREFIX}{stack[-1]}" if stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_kernel(self, name: str, fn):
        return self.wrap(f"{name}.batch", fn)

    def wrap_batch(self, fn):
        def traced(raw, batch_id):
            with self.span("engine.process_batch", batch_id=batch_id):
                fn(raw, batch_id)
            self._sample_engine(batch_id)

        return traced

    def instrument_engine(self, engine) -> None:
        self.engine = engine
        for tbl in engine.tables.values():
            tbl.commit = self.wrap("commit", tbl.commit)
            tbl.read_buckets = self.wrap("read_buckets", tbl.read_buckets)
        engine.state.write = self.wrap("state.write", engine.state.write)

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter()

    # -- counts taken outside the program ------------------------------------

    def _rss_peak_mb(self) -> float:
        """The JVM's resident-set high-water mark so far (VmHWM)."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def _sample_engine(self, batch_id: int) -> None:
        """After a batch: the destination version it left (buckets whose
        files are all single-linked were rewritten, hard-linked ones were
        carried over) and the rows it left pending."""
        eng = self.engine
        tbl = next(iter(eng.tables.values()))
        v = tbl.current_version()
        stats = {"batch_id": batch_id, "version": v, "pending_rows": 0}
        pend = [x for x in eng._pending_versions() if x <= batch_id]
        if pend:
            stats["pending_rows"] = _parquet_rows(os.path.join(eng.pending_dir, f"v{pend[-1]}"))
        if v:
            buckets = tbl._bucket_dirs(v)
            touched = files = size = rows = 0
            for d in buckets.values():
                names = [n for n in os.listdir(d) if not n.startswith(("_", "."))]
                paths = [os.path.join(d, n) for n in names]
                if paths and all(os.stat(p).st_nlink == 1 for p in paths):
                    touched += 1
                    files += len(paths)
                    size += sum(os.path.getsize(p) for p in paths)
                    rows += sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
            stats.update(
                buckets=len(buckets),
                buckets_touched=touched,
                files_written=files,
                bytes_written=size,
                rows_rewritten=rows,
                data_files=sum(tbl.n_data_files().values()),
            )
        self.batch_stats.append(stats)

    def cdc_counts(self, feed, batches, window_start: float) -> dict:
        """Generator and reference-model counts for the window's batches;
        ``batches`` is every (start, end, committed step) of the run."""
        quorums = [step for _, _, step in batches]
        applied = model.batch_of(feed.events, quorums)
        in_window = [i for i, (s, _, _) in enumerate(batches) if s >= window_start]
        events_in = sum(len(applied[i]) for i in in_window)
        mutations = sum(len({ev.key for ev in applied[i]}) for i in in_window)
        advanced = sum(
            1 for i in in_window if i == 0 or quorums[i] > quorums[i - 1]
        )
        self.counts.update(
            events_in=events_in,
            mutations_out=mutations,
            window_batches=len(in_window),
            quorum_advances=advanced,
        )
        return self.counts

    def dedup_counts(self, replay, batch_ids) -> dict:
        """Candidate and verified pairs of the window's batches."""
        self.counts.update(
            candidates=sum(replay.candidates.get(b, 0) for b in batch_ids),
            verified=sum(replay.verified.get(b, 0) for b in batch_ids),
            window_batches=len(batch_ids),
        )
        return self.counts

    # -- the per-layer metrics ----------------------------------------------

    def finish(self, spark, event_log: str, ctx, res) -> dict:
        self._root.__exit__(None, None, None)
        for n, fn in self._saved.items():
            setattr(self._streaming, n, fn)
        gauges = {
            "cached_rdds_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "jvm.rss_peak_mb": self._rss_peak_mb(),
        }
        spark.stop()  # flushes the event log
        log = eventlog.parse(event_log)
        return layer_metrics(self, log, ctx, res, gauges)


def _parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _med_low(xs) -> float:
    """Lower median: a count that some batch actually had."""
    xs = list(xs)
    return float(statistics.median_low(xs)) if xs else 0.0


def _store_files(path: str) -> int:
    return sum(
        1
        for _, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


class Attribution:
    """Spark jobs per span, and per-span rollups over a span's subtree."""

    def __init__(self, tracer: Tracer, log: eventlog.EventLog):
        self.spans = tracer.spans
        self.log = log
        self.children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.own: dict[int, list[eventlog.Job]] = {}
        self.by_time = 0
        self.listing = 0
        self.unattributed = 0
        for job in log.jobs.values():
            d = job.description or ""
            if d.startswith(JOB_PREFIX):
                sid = int(d[len(JOB_PREFIX):])
            elif d.startswith(LISTING_PREFIX):
                self.listing += 1
                continue
            else:
                sid = self._open_at(job.submitted_ms)
                if sid is None:
                    self.unattributed += 1
                    continue
                self.by_time += 1
            self.own.setdefault(sid, []).append(job)

    def _open_at(self, ms) -> int | None:
        if ms is None:
            return None
        t = ms / 1e3
        open_spans = [
            s for s in self.spans
            if s["name"] in BY_TIME_SPANS
            and s["wall_start"] <= t
            and (s["wall_end"] is None or t <= s["wall_end"])
        ]
        return max(open_spans, key=lambda s: s["wall_start"])["id"] if open_spans else None

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, ()))
        return out

    def jobs(self, sid: int, own_only: bool = False) -> list[eventlog.Job]:
        ids = [sid] if own_only else self.subtree(sid)
        return [j for s in ids for j in self.own.get(s, ())]

    def stages(self, sid: int) -> list[eventlog.Stage]:
        return [st for j in self.jobs(sid) for st in self.log.job_stages(j)]

    def rollup(self, sid: int) -> dict:
        sts = self.stages(sid)
        return {
            "jobs": len(self.jobs(sid)),
            "self_jobs": len(self.jobs(sid, own_only=True)),
            "stages": len(sts),
            "tasks": sum(s.tasks for s in sts),
            "cpu_ms": sum(s.cpu_ns for s in sts) / 1e6,
            "shuffle_bytes": sum(s.shuffle_write_bytes for s in sts),
            "input_bytes": sum(s.input_bytes for s in sts),
        }


def layer_metrics(tracer: Tracer, log: eventlog.EventLog, ctx, res, gauges: dict) -> dict:
    att = Attribution(tracer, log)
    t0 = tracer.marks.get("window_start", 0.0)
    t1 = tracer.marks.get("window_end", float("inf"))

    def window(name):
        return [s for s in tracer.spans if s["name"] == name and t0 <= s["start"] <= t1]

    def per_span(name):
        spans = window(name)
        rolls = [att.rollup(s["id"]) for s in spans]
        return spans, rolls

    m: dict[str, tuple[float, str]] = {}
    batches, rolls = per_span("engine.process_batch")
    m["engine.batch_ms"] = (_med((s["end"] - s["start"]) * 1e3 for s in batches), "ms")
    m["engine.jobs_per_batch"] = (_med_low(r["jobs"] for r in rolls), "count")
    m["engine.self_jobs_per_batch"] = (_med_low(r["self_jobs"] for r in rolls), "count")
    m["engine.stages_per_batch"] = (_med_low(r["stages"] for r in rolls), "count")
    m["engine.tasks_per_batch"] = (_med_low(r["tasks"] for r in rolls), "count")
    m["engine.exec_cpu_ms_per_batch"] = (_med(r["cpu_ms"] for r in rolls), "ms")

    commits, crolls = per_span("commit")
    m["commit.ms"] = (_med((s["end"] - s["start"]) * 1e3 for s in commits), "ms")
    m["commit.jobs"] = (_med_low(r["jobs"] for r in crolls), "count")
    m["commit.exec_cpu_ms"] = (_med(r["cpu_ms"] for r in crolls), "ms")
    m["commit.shuffle_bytes"] = (_med(r["shuffle_bytes"] for r in crolls), "bytes")
    writes, _ = per_span("state.write")
    m["state.write_ms"] = (_med((s["end"] - s["start"]) * 1e3 for s in writes), "ms")

    in_window = {s["batch_id"] for s in batches}
    stats = [b for b in tracer.batch_stats if b["batch_id"] in in_window and b.get("buckets")]
    c = tracer.counts
    mutations = c.get("mutations_out", 0)
    rewritten = sum(b["rows_rewritten"] for b in stats)
    m["commit.buckets_touched_ratio"] = (
        sum(b["buckets_touched"] for b in stats) / max(1, sum(b["buckets"] for b in stats)),
        "ratio",
    )
    m["commit.rows_rewritten"] = (_med(b["rows_rewritten"] for b in stats), "count")
    m["commit.write_amp"] = (rewritten / mutations if mutations else 0.0, "ratio")
    m["commit.files_written"] = (_med(b["files_written"] for b in stats), "count")
    m["commit.bytes_written"] = (_med(b["bytes_written"] for b in stats), "bytes")
    m["dst.data_files"] = (float(stats[-1]["data_files"]) if stats else 0.0, "count")

    events_in = c.get("events_in", 0)
    m["compact.events_in"] = (float(events_in), "count")
    m["compact.mutations_out"] = (float(mutations), "count")
    m["compact.ratio"] = (mutations / events_in if events_in else 0.0, "ratio")
    n_win = c.get("window_batches", 0)
    m["quorum.advance_ratio"] = (c.get("quorum_advances", 0) / n_win if n_win else 0.0, "ratio")

    progress = [p for p in tracer.progress if p["batch_id"] in in_window]
    prev_pending = {b["batch_id"]: b["pending_rows"] for b in tracer.batch_stats}
    carried = sum(prev_pending.get(p["batch_id"] - 1, 0) for p in progress)
    entering = carried + sum(p["rows"] for p in progress)
    m["quorum.carryover_ratio"] = (carried / entering if entering else 0.0, "ratio")
    m["stream.overhead_ms"] = (
        _med(
            p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
            for p in progress
        ),
        "ms",
    )
    m["gen.late_p99_ms"] = (float(res["info"].get("gen_late_p99_ms", 0.0)), "ms")
    m["stream.listing_jobs"] = (float(att.listing), "count")

    for kernel in ("setsim", "exact"):
        spans, krolls = per_span(f"{kernel}.batch")
        m[f"{kernel}.batch_ms"] = (_med((s["end"] - s["start"]) * 1e3 for s in spans), "ms")
        m[f"{kernel}.jobs_per_batch"] = (_med_low(r["jobs"] for r in krolls), "count")
        m[f"{kernel}.exec_cpu_ms_per_batch"] = (_med(r["cpu_ms"] for r in krolls), "ms")
        if kernel == "setsim":
            m["setsim.store_scan_bytes"] = (_med(r["input_bytes"] for r in krolls), "bytes")
    cand = c.get("candidates", 0)
    m["setsim.candidates"] = (float(cand), "count")
    m["setsim.verify_yield"] = (c.get("verified", 0) / cand if cand else 0.0, "ratio")
    store = os.path.join(ctx.work, "store")
    m["setsim.store_files"] = (float(_store_files(os.path.join(store, "setsim"))), "count")
    m["exact.store_files"] = (float(_store_files(os.path.join(store, "exact"))), "count")

    m["cached_rdds_end"] = (float(gauges["cached_rdds_end"]), "count")
    m["jvm.rss_peak_mb"] = (gauges["jvm.rss_peak_mb"], "MB")
    m["trace.spans"] = (float(len(tracer.spans)), "count")
    m["trace.jobs"] = (float(len(log.jobs)), "count")
    m["trace.jobs_by_time"] = (float(att.by_time), "count")
    m["trace.unattributed_jobs"] = (float(att.unattributed), "count")
    for k, (v, u) in res["metrics"].items():
        m[f"traced.{k}"] = (v, u)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
