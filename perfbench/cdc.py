"""CDC replication workloads: ``cdc_stream`` (open loop) and
``cdc_backlog`` (closed loop), both driven through
``ReplicationEngine.run_stream`` over a JSONL file source.

The program only ever sees the files rendered by ``gen.CdcFeed``. Each
file is written under a dot-name (which the file source ignores) and
renamed into the source directory, so the source never lists a
half-written file.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from . import gen, model

# cdc_stream: open loop at a fixed offered rate against a large destination
STREAM_KEYS = 50_000  # destination rows after the preload
STREAM_EPS = 1_000  # offered change events per second
STREAM_TICK_S = 0.25  # one source file per tick
SLOW_EVERY = 4  # the slow partition heartbeats on every 4th tick only
STREAM_ERASE_SHARE = 0.10
WARMUP_S = 4  # the schedule runs this long before the timed window opens
# batch_cpu_s: CPU seconds per batch over the CPU_BATCHES batches that
# follow the first CPU_SKIP after the preload. The first batch after the
# preload holds only the ticks due while the preload ran, and the next one
# still costs the most while the JVM warms up. The batches are counted,
# not timed, so a slower machine measures the same ones: the schedule runs
# past its timed part until they have all ended, for at most as long
# again.
CPU_SKIP = 2
CPU_BATCHES = 2

# cdc_backlog: closed-loop drain of a Zipf-skewed backlog into a small table
BACKLOG_KEYS = 2_000
BACKLOG_EPS = 20_000  # backlog events per requested second of drain
BACKLOG_FILES = 12
BACKLOG_BATCHES = 3  # maxFilesPerTrigger = BACKLOG_FILES / BACKLOG_BATCHES
BACKLOG_ZIPF_S = 1.1
BACKLOG_ERASE_SHARE = 0.10

APPLY_TIMEOUT_S = 90


class BatchClock:
    """Wraps ``process_batch``: records each call's start, end, the
    `_state` position it committed and the CPU seconds it took, and lets
    the caller wait for a position to be reached."""

    def __init__(self, engine, cpu, wrap=None):
        self.engine = engine
        self.cpu = cpu
        self.cpu_s: list[float] = []
        self.inner = wrap(engine.process_batch) if wrap else engine.process_batch
        self.batches: list[tuple[float, float, int]] = []  # start, end, step
        self.cond = threading.Condition()
        engine.process_batch = self  # run_stream binds self.process_batch

    def __call__(self, raw, batch_id):
        t0 = time.perf_counter()
        c0 = self.cpu()
        self.inner(raw, batch_id)
        t1, c1 = time.perf_counter(), self.cpu()
        step = int(self.engine.state.read()["step_id"])
        with self.cond:
            self.batches.append((t0, t1, step))
            self.cpu_s.append(c1 - c0)
            self.cond.notify_all()

    def committed(self) -> int:
        return self.batches[-1][2] if self.batches else 0

    def wait_for(self, step: int, query, timeout: float = APPLY_TIMEOUT_S) -> None:
        deadline = time.monotonic() + timeout
        with self.cond:
            while self.committed() < step:
                if query.exception() is not None:
                    raise RuntimeError(f"stream failed: {query.exception()}")
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"position {step} not applied in {timeout}s")
                self.cond.wait(min(left, 0.5))


def write_file(src_dir: str, name: str, lines) -> None:
    tmp = os.path.join(src_dir, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def make_engine(spark, work: str):
    from aardappel_spark.casting import TableMeta
    from aardappel_spark.streaming import ReplicationEngine, StreamConfig

    meta = TableMeta("bench_kv", ["id"], gen.TABLE_YDB_TYPES)
    return ReplicationEngine(
        spark=spark,
        streams=[
            StreamConfig(
                table_id=0,
                meta=meta,
                dst_path=os.path.join(work, "dst"),
                dst_schema=gen.TABLE_DDL,
                problem_strategy="stop",
            )
        ],
        expected_partitions=gen.PARTITIONS,
        work_dir=os.path.join(work, "engine"),
    )


def start_stream(spark, engine, work: str, max_files: int | None = None):
    from aardappel_spark.sources import read_file_stream

    src = read_file_stream(spark, os.path.join(work, "src"), max_files)
    return engine.run_stream(src, os.path.join(work, "ckpt"), available_now=False)


def read_destination(engine) -> dict:
    """Current destination rows via the parquet files, outside Spark."""
    tbl = engine.tables[0]
    vdir = os.path.join(tbl.path, f"v{tbl.current_version()}")
    rows = {}
    for bdir in sorted(os.listdir(vdir)):
        if not bdir.startswith("pkb="):
            continue
        d = os.path.join(vdir, bdir)
        for fn in sorted(os.listdir(d)):
            if fn.startswith(("_", ".")):
                continue
            t = pq.read_table(os.path.join(d, fn), columns=["id", *gen.VALUE_COLUMNS])
            for r in t.to_pylist():
                rows[r.pop("id")] = r
    return rows


def check(engine, feed: gen.CdcFeed, final_q: tuple, quorums: list[int]) -> dict:
    """Diff the whole destination against the model applied in the
    batches cut at the committed ``quorums``, and check that `_state`
    holds the quorum ``final_q`` of the last file written and that the
    DLQ is empty. Returns counts for the result line."""
    expected = model.apply_cdc({}, model.batch_of(feed.events, quorums))
    actual = read_destination(engine)
    bad_keys = model.diff_tables(expected, actual, gen.VALUE_COLUMNS)
    st = engine.state.read()
    state_ok = (int(st["step_id"]), int(st["tx_id"])) == final_q
    dlq_files = 0
    if os.path.isdir(engine.dlq_dir):
        dlq_files = sum(
            1 for fn in os.listdir(engine.dlq_dir) if not fn.startswith(("_", "."))
        )
    return {
        "bad_keys": bad_keys,
        "rows": len(actual),
        "state_ok": state_ok and st["state"] == "OK",
        "dlq_files": dlq_files,
    }


def run_cdc_stream(ctx) -> dict:
    """Open loop: the calling thread renames pre-rendered tick files into
    the source on a fixed schedule while the engine runs with the default
    trigger in Spark's stream thread; an event's lag runs from its tick's
    due time."""
    spark, work, seed, seconds = ctx.spark, ctx.work, ctx.seed, ctx.seconds
    src = os.path.join(work, "src")
    os.makedirs(src)
    feed = gen.CdcFeed(seed)
    rng = feed.rng
    slow = seed % gen.PARTITIONS
    all_parts = range(gen.PARTITIONS)

    # preload: every key as a full row, then a full heartbeat round
    keys = list(range(STREAM_KEYS))
    rng.shuffle(keys)
    preload = feed.full_rows(keys) + feed.heartbeats(all_parts)
    preload_q = feed.final_quorum()[0]

    per_tick = round(STREAM_EPS * STREAM_TICK_S)

    def render_tick(hb_parts):
        first = len(feed.events)
        lines = [
            feed.random_change(rng.randrange(STREAM_KEYS), STREAM_ERASE_SHARE)
            for _ in range(per_tick)
        ]
        lines += feed.heartbeats(hb_parts)
        return lines, (first, len(feed.events)), feed.final_quorum()

    # one schedule: warm-up ticks, then the timed ticks, with no pause
    # between them, so the window opens on a stream already running; then
    # as many spare ticks as there are timed ones, written only while the
    # batches batch_cpu_s measures have not all ended
    n_warm = round(WARMUP_S / STREAM_TICK_S) // SLOW_EVERY * SLOW_EVERY
    n_ticks = max(SLOW_EVERY, round(seconds / STREAM_TICK_S) // SLOW_EVERY * SLOW_EVERY)
    n_sched = n_warm + n_ticks
    fast = [p for p in all_parts if p != slow]
    # every SLOW_EVERY-th tick, the last scheduled one among them,
    # heartbeats all partitions: the quorum then covers all written so far
    ticks = [
        render_tick(all_parts if (k + 1) % SLOW_EVERY == 0 else fast)
        for k in range(n_sched + n_ticks)
    ]
    ctx.phase("render")

    engine = make_engine(spark, work)
    clock = BatchClock(engine, ctx.cpu, ctx.wrap_batch)
    ctx.instrument(engine)
    for i in range(0, len(preload), 50_000):
        write_file(src, f"preload-{i // 50_000:03d}.jsonl", preload[i : i + 50_000])
    query = start_stream(spark, engine, work)
    try:
        clock.wait_for(preload_q, query)
        n_pre = len(clock.batches)
        n_measured = n_pre + CPU_SKIP + CPU_BATCHES
        ctx.phase("preload")

        # the generator: this thread, on a schedule the engine cannot slow
        late: list[float] = []
        t0 = time.perf_counter() + (n_warm + 1) * STREAM_TICK_S
        written = 0
        for k, (lines, _, _) in enumerate(ticks):
            if k >= n_sched and k % SLOW_EVERY == 0 and len(clock.batches) >= n_measured:
                break
            due = t0 + (k - n_warm) * STREAM_TICK_S
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            if k == n_warm:
                ctx.setup_done(scheduled_s=(n_warm + 1) * STREAM_TICK_S)
            write_file(src, f"tick-{k:05d}.jsonl", lines)
            late.append(time.perf_counter() - due)
            written = k + 1
        final_q = ticks[written - 1][2]
        clock.wait_for(final_q[0], query)
    finally:
        query.stop()
    ctx.window_done()

    due, steps = [], []
    for k, (_, (lo, hi), _) in enumerate(ticks[n_warm:n_sched]):
        for ev in feed.events[lo:hi]:
            due.append(t0 + k * STREAM_TICK_S)
            steps.append(ev.step)
    ends = [(end, step) for _, end, step in clock.batches]
    lag = model.lags(due, steps, ends)
    applied = [x for x in lag if x is not None]
    # the batches that overlap the schedule's timed part; a batch that
    # starts after the last tick only drains what is left
    t_end = t0 + n_ticks * STREAM_TICK_S
    in_window = [e - s for s, e, _ in clock.batches if e > t0 and s < t_end]
    last_apply = max(t for t in model.apply_times(steps, ends) if t is not None)
    quorums = [step for _, _, step in clock.batches]
    measured = clock.cpu_s[n_pre + CPU_SKIP : n_measured]
    chk = check(engine, feed, final_q, quorums)
    failed = chk["bad_keys"] + (len(lag) - len(applied))
    if ctx.tracer:
        ctx.tracer.cdc_counts(feed, clock.batches, window_start=t0)
    return {
        "attempted": len(lag),
        "failed": failed,
        "correct": failed == 0 and chk["state_ok"] and chk["dlq_files"] == 0,
        "metrics": {
            "batch_cpu_s": (statistics.fmean(measured), "s"),
            "lag_p50_s": (model.percentile(applied, 50), "s"),
            "lag_p90_s": (model.percentile(applied, 90), "s"),
            "batch_p50_s": (statistics.median(in_window), "s"),
        },
        "info": {
            "drain_eps": len(applied) / (last_apply - t0),
            "events": len(lag),
            "batches": len(in_window),
            "batch_s": [round(x, 3) for x in in_window],
            "cpu_s": [round(x, 3) for x in clock.cpu_s],
            "preload_batches": n_pre,
            "offered_eps": STREAM_EPS,
            "destination_rows": chk["rows"],
            "gen_late_p99_ms": model.percentile(late, 99) * 1e3,
            "spare_ticks": written - n_sched,
            "window_msgs": sum(len(t[0]) for t in ticks[n_warm:n_sched]),
            "window_bytes": sum(len(line) + 1 for t in ticks[n_warm:n_sched] for line in t[0]),
            **chk,
        },
    }


def run_cdc_backlog(ctx) -> dict:
    """Closed loop: a replica restarted over a backlog written before
    timing drains it in ``BACKLOG_BATCHES`` capped batches; every event
    is due when the drain starts."""
    spark, work, seed, seconds = ctx.spark, ctx.work, ctx.seed, ctx.seconds
    src = os.path.join(work, "src")
    os.makedirs(src)
    feed = gen.CdcFeed(seed)
    rng = feed.rng
    all_parts = range(gen.PARTITIONS)
    draw = gen.zipf_sampler(rng, BACKLOG_KEYS, BACKLOG_ZIPF_S)

    preload = feed.full_rows(range(BACKLOG_KEYS)) + feed.heartbeats(all_parts)
    preload_q = feed.final_quorum()[0]
    first = len(feed.events)
    n_events = BACKLOG_EPS * seconds
    per_file = -(-n_events // BACKLOG_FILES)
    files = [
        [feed.random_change(draw(), BACKLOG_ERASE_SHARE) for _ in range(per_file)]
        + feed.heartbeats(all_parts)
        for _ in range(BACKLOG_FILES)
    ]
    final_q = feed.final_quorum()[0]

    # first life of the replica: apply the preload, then stop
    write_file(src, "preload-000.jsonl", preload)
    engine = make_engine(spark, work)
    clock = BatchClock(engine, ctx.cpu)
    query = start_stream(spark, engine, work)
    try:
        clock.wait_for(preload_q, query)
    finally:
        query.stop()
    first_life = clock.batches
    for i, lines in enumerate(files):
        write_file(src, f"backlog-{i:03d}.jsonl", lines)

    # restarted replica: same work dir and checkpoint, fresh in-memory state
    engine = make_engine(spark, work)
    clock = BatchClock(engine, ctx.cpu, ctx.wrap_batch)
    ctx.instrument(engine)
    ctx.setup_done()
    t0 = time.perf_counter()
    query = start_stream(spark, engine, work, BACKLOG_FILES // BACKLOG_BATCHES)
    try:
        clock.wait_for(final_q, query)
    finally:
        query.stop()
    ctx.window_done()

    steps = [ev.step for ev in feed.events[first:]]
    ends = [(end, step) for _, end, step in clock.batches]
    lag = model.lags([t0] * len(steps), steps, ends)
    applied = [x for x in lag if x is not None]
    batches = first_life + clock.batches
    chk = check(engine, feed, feed.final_quorum(), [step for _, _, step in batches])
    failed = chk["bad_keys"] + (len(lag) - len(applied))
    drain_s = max(applied)
    if ctx.tracer:
        ctx.tracer.cdc_counts(feed, batches, window_start=t0)
    return {
        "attempted": len(lag),
        "failed": failed,
        "correct": failed == 0 and chk["state_ok"] and chk["dlq_files"] == 0,
        "metrics": {
            "batch_cpu_s": (statistics.fmean(clock.cpu_s), "s"),
            "lag_p50_s": (model.percentile(applied, 50), "s"),
            "lag_p90_s": (model.percentile(applied, 90), "s"),
            "batch_p50_s": (statistics.median(e - s for s, e, _ in clock.batches), "s"),
        },
        "info": {
            "drain_eps": len(applied) / drain_s,
            "events": len(lag),
            "batches": len(clock.batches),
            "keys": BACKLOG_KEYS,
            "window_msgs": sum(len(lines) for lines in files),
            "window_bytes": sum(len(line) + 1 for lines in files for line in lines),
            "destination_rows": chk["rows"],
            **chk,
        },
    }
