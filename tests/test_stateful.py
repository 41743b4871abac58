"""applyInPandasWithState operator: state must persist across micro-batches."""

import json
import os
import re

import pytest


def write_batch(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for key, value, step, tx in rows:
            f.write(json.dumps({"key": key, "value": value, "step": step, "tx_id": tx}) + "\n")


def run_stream(spark, src, ckpt, out_dir):
    from aardappel_spark.stateful import streaming_lww

    stream = spark.readStream.schema("key string, value string, step long, tx_id long").json(src)
    q = (
        streaming_lww(stream)
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_lww_state_persists_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    write_batch(src, "b1.jsonl", [("a", "v1", 1, 1), ("a", "v2", 2, 1), ("b", "x", 5, 1)])
    run_stream(spark, src, ckpt, out)

    rows = {r.key: r for r in spark.read.parquet(out).collect()}
    assert rows["a"].value == "v2" and rows["a"].n_changes == 2
    assert rows["b"].value == "x"

    # second batch: an OLDER change for 'a' must NOT win; counter continues
    write_batch(src, "b2.jsonl", [("a", "stale", 1, 0, ), ("b", "y", 9, 1)])
    run_stream(spark, src, ckpt, out)
    latest = {}
    for r in spark.read.parquet(out).collect():
        cur = latest.get(r.key)
        if cur is None or (r.step, r.tx_id, r.n_changes) >= (cur.step, cur.tx_id, cur.n_changes):
            latest[r.key] = r
    assert latest["a"].value == "v2"  # stale change lost
    assert latest["a"].n_changes == 3  # but was counted
    assert latest["b"].value == "y"


def test_streaming_windowed_counts_drops_late_events(spark, tmp_path):
    """Watermarked tumbling windows in append mode: a window's count is
    emitted once its watermark passes, and events arriving later than
    the delay never reach the sink."""
    import json
    import os

    from aardappel_spark.stateful import streaming_windowed_counts

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    out_dir = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def hour(h):  # epoch micros at hour h
        return h * 3600 * 1_000_000

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for ts_us, et in rows:
                f.write(json.dumps({"ts": ts_us, "event_type": et}) + "\n")

    stream = spark.readStream.schema("ts long, event_type string").json(src)
    # ts given in micros here; convert to timestamp directly
    from pyspark.sql import functions as F

    shaped = stream.withColumn("ts", F.expr("ts * 1000"))  # micros -> nanos shape
    win = streaming_windowed_counts(
        shaped, ts_col="ts", window_duration="1 hour", watermark_delay="30 minutes",
        group_cols=["event_type"],
    )

    collected = []

    def sink(df, _bid):
        collected.extend(df.collect())

    # batch 1: two events in hour 1, advance max event time to hour 3
    # (watermark = h3 - 30min > end of hour-1 window -> it finalizes)
    write("f1.jsonl", [(hour(1) + 60, "a"), (hour(1) + 120, "a"), (hour(3), "b")])
    q = (
        win.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch 2: a LATE hour-1 event (behind the watermark) + fresh hour-5
    # event that finalizes hour 3
    write("f2.jsonl", [(hour(1) + 180, "a"), (hour(5), "b")])
    q = (
        win.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.window_start.hour, r.event_type): r.n for r in collected}
    # hour-1 'a' count is 2 — the late third event was dropped, not merged
    assert got[(1, "a")] == 2
    assert got[(3, "b")] == 1


def test_streaming_sessions_merge_close_and_drop_late(spark, tmp_path):
    """session_window streaming: in-gap events merge into one session,
    the session is emitted once the watermark passes its close, and
    late events behind the watermark are dropped."""
    import json
    import os

    from aardappel_spark.stateful import streaming_sessions

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def mins(m):  # epoch micros at minute m
        return m * 60 * 1_000_000

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for ts_us, uid in rows:
                f.write(json.dumps({"ts": ts_us, "user_id": uid}) + "\n")

    stream = spark.readStream.schema("ts long, user_id long").json(src)
    from pyspark.sql import functions as F

    shaped = stream.withColumn("ts", F.expr("ts * 1000"))  # micros -> nanos shape
    sess = streaming_sessions(
        shaped, ts_col="ts", gap="10 minutes", watermark_delay="10 minutes"
    )

    collected = []

    def sink(df, _bid):
        collected.extend(df.collect())

    def run():
        q = (
            sess.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # one session (0 + 5min within gap), then a t=60min event pushes the
    # watermark to 50min -> the [0, 15min) session closes and is emitted
    write("f1.jsonl", [(mins(0), 1), (mins(5), 1), (mins(60), 1)])
    run()
    # late event inside the closed session (dropped), fresh t=120min
    # event closes the session around t=60
    write("f2.jsonl", [(mins(7), 1), (mins(120), 1)])
    run()

    sessions = sorted(
        (r.user_id, r.session_start.hour * 60 + r.session_start.minute,
         r.session_end.hour * 60 + r.session_end.minute, r.n_events)
        for r in collected
    )
    # [0, 15min) with the merged pair (late third event NOT added), and
    # [60, 70min) closed by the t=120min event
    assert sessions == [(1, 0, 15, 2), (1, 60, 70, 1)]


def test_streaming_dedup_exact_across_batches(spark, tmp_path):
    """A duplicate text arriving in a later micro-batch (within the
    watermark) is suppressed; distinct texts pass through."""
    import json
    import os

    from aardappel_spark.stateful import streaming_dedup_exact

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def mins(m):
        # offset well past epoch 0: an event at exactly the initial
        # watermark (epoch 0) would be dropped as late on arrival
        return (1_000_000 + m) * 60 * 1_000_000

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for ts_us, did, text in rows:
                f.write(json.dumps({"ts": ts_us, "doc_id": did, "text": text}) + "\n")

    stream = spark.readStream.schema("ts long, doc_id long, text string").json(src)
    from pyspark.sql import functions as F

    shaped = stream.withColumn("ts", F.expr("ts * 1000"))
    dd = streaming_dedup_exact(shaped, watermark_delay="1 hour")

    collected = []

    def sink(df, _bid):
        collected.extend(df.collect())

    def run():
        q = (
            dd.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("f1.jsonl", [(mins(0), 1, "alpha text"), (mins(1), 2, "beta text")])
    run()
    write("f2.jsonl", [(mins(2), 3, "alpha text"), (mins(3), 4, "gamma text")])
    run()

    ids = sorted(r.doc_id for r in collected)
    assert ids == [1, 2, 4]  # doc 3's text was already seen


def test_streaming_interval_join_across_batches(spark, tmp_path):
    """Symmetric state-store join: a right event arriving in a LATER
    micro-batch still pairs with an in-window left event kept in state;
    out-of-window pairs never appear."""
    import json
    import os

    from aardappel_spark.stateful import streaming_interval_join

    ldir = os.path.join(str(tmp_path), "l")
    rdir = os.path.join(str(tmp_path), "r")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(ldir), os.makedirs(rdir)

    def mins(m):
        return (1_000_000 + m) * 60 * 1_000_000

    def write(d, name, rows):
        with open(os.path.join(d, name), "w") as f:
            for ts_us, k, tag in rows:
                f.write(json.dumps({"ts": ts_us, "k": k, "tag": tag}) + "\n")

    from pyspark.sql import functions as F

    def stream(d):
        s = spark.readStream.schema("ts long, k long, tag string").json(d)
        return s.withColumn("ts", F.expr("ts * 1000"))

    j = streaming_interval_join(
        stream(ldir), stream(rdir), ["k"], gap="5 minutes",
        watermark_delay="5 minutes",
    )

    collected = []

    def sink(df, _bid):
        collected.extend(df.collect())

    def run():
        q = (
            j.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write(ldir, "l1.jsonl", [(mins(0), 1, "L0"), (mins(20), 1, "L20")])
    write(rdir, "r1.jsonl", [(mins(2), 1, "R2")])
    run()
    # R21 arrives a batch later but is within 5min of L20 (kept in state)
    write(rdir, "r2.jsonl", [(mins(21), 1, "R21"), (mins(40), 1, "R40")])
    run()

    pairs = sorted((r.tag, r.r_tag) for r in collected)
    assert ("L0", "R2") in pairs
    assert ("L20", "R21") in pairs
    assert all(not (a == "L0" and b in ("R21", "R40")) for a, b in pairs)
    assert ("L20", "R40") not in pairs  # 20 vs 40: outside the 5-minute gap


def test_streaming_funnel_advances_across_batches(spark, tmp_path):
    """Funnel state persists and only advances: a user's chain completes
    across THREE micro-batches, out-of-chain events are ignored, and a
    late pre-stage event cannot regress a completed stage."""
    from aardappel_spark.stateful import streaming_funnel

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    collected = []

    def write(name, rows):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for uid, et, mic in rows:
                f.write(json.dumps({"user_id": uid, "event_type": et, "ts": mic * 1000}) + "\n")

    def run():
        stream = spark.readStream.schema("user_id long, event_type string, ts long").json(src)
        q = (
            streaming_funnel(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 1 views (stage 1); a click BEFORE the view must not count
    write("b1.jsonl", [(1, "click", 50), (1, "view", 100), (2, "purchase", 10)])
    run()
    latest = {r.user_id: r for r in collected}
    assert (latest[1].stage, latest[1].t1, latest[1].t2) == (1, 100, None)
    assert latest[2].stage == 0  # purchase without view/click: no progress

    # batch 2: click after the view -> stage 2
    write("b2.jsonl", [(1, "click", 200)])
    run()
    latest = {r.user_id: r for r in collected if r.user_id == 1}
    assert (latest[1].stage, latest[1].t2) == (2, 200)

    # batch 3: purchase completes; an extra EARLIER view can't regress t1
    write("b3.jsonl", [(1, "view", 20), (1, "purchase", 300)])
    run()
    latest = {r.user_id: r for r in collected if r.user_id == 1}
    assert (latest[1].stage, latest[1].t1, latest[1].t3) == (3, 100, 300)


def test_streaming_countmin_matches_batch_sketch(spark, tmp_path):
    """The stream-built count-min sketch must be cell-for-cell identical
    to the batch kernel over the same data — the merge/replay property
    that lets a sketch survive restarts and backfills."""
    import json
    import os

    from pyspark.sql import functions as F

    from aardappel_spark.stateful import streaming_countmin

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    batches = [
        [f"user{i % 7}" for i in range(50)],
        [f"user{i % 13}" for i in range(80)],
    ]

    latest = {}

    def sink(df, _bid):
        for r in df.collect():
            latest[(r.row, r.col)] = r.total

    for bi, keys in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for k in keys:
                f.write(json.dumps({"user_id": k}) + "\n")
        stream = spark.readStream.schema("user_id string").json(src)
        q = (
            streaming_countmin(stream, key_col="user_id")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    all_keys = [k for b in batches for k in b]
    batch_df = spark.createDataFrame([(k,) for k in all_keys], ["user_id"])
    from aardappel_spark.stateful import streaming_countmin as _  # same kernel

    model = {
        (r.row, r.col): r.total
        for r in streaming_countmin(batch_df, key_col="user_id").collect()
    }
    assert latest == model
    # bounded state: never more cells than rows x cols
    assert len(latest) <= 4 * 256


def test_streaming_heavy_hitters_invariants_and_restart(spark, tmp_path):
    import json
    import os
    from collections import Counter

    from aardappel_spark.stateful import HH_CAPACITY, streaming_heavy_hitters

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    batches = [
        ["hot"] * 40 + [f"cold{i}" for i in range(30)] + ["warm"] * 10,
        ["hot"] * 25 + [f"cold{i}" for i in range(30, 60)] + ["warm"] * 15,
    ]

    # each batch emits a touched shard's FULL summary: replace the whole
    # shard on every emission (an evicted item must not linger)
    shards = {}

    def sink(df, _bid):
        rows = df.collect()
        for shard in {r.shard for r in rows}:
            shards[shard] = {
                r.item: (r.est_count, r.max_err) for r in rows if r.shard == shard
            }

    for bi, items in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for it in items:
                f.write(json.dumps({"event_type": it}) + "\n")
        stream = spark.readStream.schema("event_type string").json(src)
        q = (
            streaming_heavy_hitters(stream, item_col="event_type")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    true = Counter(it for b in batches for it in b)
    summary = {item: v for s in shards.values() for item, v in s.items()}
    # SpaceSaving guarantees: est >= true, est - err <= true
    for item, (est, err) in summary.items():
        assert est >= true[item], item
        assert est - err <= true[item], item
    # the heavy items survived every eviction and their counts are exact
    # across the restart boundary (they were always present, so no error)
    assert summary["hot"] == (65, 0)
    assert summary["warm"] == (25, 0)
    # bounded state: per-shard summaries never exceed capacity
    assert all(len(s) <= HH_CAPACITY for s in shards.values())


def test_incremental_dedup_across_batches_and_restart(spark, tmp_path):
    """Streaming ingest dedup against the persistent fingerprint store:
    duplicates are dropped within a batch, across batches, and across a
    query restart (the store, not the checkpoint, carries the corpus
    memory)."""
    import json
    import os

    from aardappel_spark.stateful import incremental_dedup_batch

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src, exist_ok=True)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    store = os.path.join(str(tmp_path), "fps")

    survivors = []
    fn = incremental_dedup_batch(
        store, sink=lambda df, bid: survivors.extend(df.collect())
    )

    def run_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for i, text in rows:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch("b1.jsonl", [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")])
    # batch 2 (fresh query run = restart): doc 4 repeats batch 1's text,
    # doc 5 is new, docs 6+7 duplicate each other within the batch
    run_batch("b2.jsonl", [(4, "gamma"), (5, "delta"), (6, "eps"), (7, "eps")])

    assert sorted(r.doc_id for r in survivors) == [1, 3, 5, 6]
    # the store holds exactly the distinct fingerprints
    fps = spark.read.parquet(store)
    assert fps.distinct().count() == 4


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """The stream-maintained EWMA over three micro-batches (including a
    checkpoint restart between them) must equal the batch left fold over
    the same ordered events — the split-anywhere composition property."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import batch_ewma_fold, streaming_ewma

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    collected = []

    rows = [
        # (user_id, event_id, mic, value) — user 1 spans all batches,
        # batch 2 carries a same-micros tie broken by event_id
        [(1, 1, 100, 10.0), (1, 2, 200, 20.0), (2, 3, 100, 5.0)],
        [(1, 4, 300, 30.0), (1, 5, 300, 40.0), (3, 6, 50, 7.5)],
        [(2, 7, 400, 1.0), (1, 8, 500, 2.0)],
    ]

    def write(name, batch):
        with open(os.path.join(src, name), "w") as f:
            for uid, eid, mic, v in batch:
                f.write(
                    json.dumps(
                        {"user_id": uid, "event_id": eid, "ts": mic * 1000, "value": v}
                    )
                    + "\n"
                )

    def run():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts long, value double"
        ).json(src)
        q = (
            streaming_ewma(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, batch in enumerate(rows):
        write(f"b{i}.jsonl", batch)
        run()  # each run() is a fresh query from the checkpoint: restart per batch

    latest = {}
    for r in collected:
        latest[r.user_id] = (r.ewma, r.n_events)

    flat = [r for batch in rows for r in batch]
    batch_df = spark.createDataFrame(
        flat, "user_id long, event_id long, mic long, value double"
    ).select("user_id", "event_id", F.expr("mic * 1000").alias("ts"), "value")
    expect = {
        r.user_id: (r.ewma, r.n_events) for r in batch_ewma_fold(batch_df).collect()
    }
    assert set(latest) == set(expect) == {1, 2, 3}
    for uid in expect:
        assert latest[uid][1] == expect[uid][1], uid
        assert abs(latest[uid][0] - expect[uid][0]) < 1e-12, uid
    # hand-check user 1: fold 10,20,30,40,2 with alpha=.25
    acc = 10.0
    for v in (20.0, 30.0, 40.0, 2.0):
        acc = 0.25 * v + 0.75 * acc
    assert abs(latest[1][0] - acc) < 1e-12


def test_streaming_anomaly_flags_spike_once(spark, tmp_path):
    """A steady series with one injected spike (arriving in a LATER
    micro-batch, after a restart) flags exactly that event, with the
    same result as an equivalent single-batch run — and a level shift
    flags once, then the baseline re-converges."""
    from aardappel_spark.stateful import streaming_anomaly

    def series():
        rows = []
        eid = 0
        # steady baseline with mild wiggle
        for i in range(12):
            eid += 1
            rows.append((1, eid, 100 * eid, 10.0 + (0.5 if i % 2 else -0.5)))
        spike_id = eid + 1
        rows.append((1, spike_id, 100 * spike_id, 60.0))  # the outlier
        eid = spike_id
        for i in range(4):  # back to baseline: no further flags
            eid += 1
            rows.append((1, eid, 100 * eid, 10.0 + (0.5 if i % 2 else -0.5)))
        return rows, spike_id

    def run_chunks(tmp, chunks):
        src = os.path.join(tmp, "src")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src, exist_ok=True)
        flags = []
        for bi, chunk in enumerate(chunks):
            with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
                for uid, eid, mic, v in chunk:
                    f.write(
                        json.dumps(
                            {"user_id": uid, "event_id": eid, "ts": mic * 1000, "value": v}
                        )
                        + "\n"
                    )
            stream = spark.readStream.schema(
                "user_id long, event_id long, ts long, value double"
            ).json(src)
            q = (
                streaming_anomaly(stream)
                .writeStream.foreachBatch(lambda df, bid: flags.extend(df.collect()))
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        return flags

    rows, spike_id = series()
    # split so the spike arrives in its own batch after a restart
    flags_split = run_chunks(str(tmp_path / "a"), [rows[:10], rows[10:13], rows[13:]])
    flags_single = run_chunks(str(tmp_path / "b"), [rows])

    assert [f.event_id for f in flags_split] == [spike_id]
    assert [f.event_id for f in flags_single] == [spike_id]
    assert flags_split[0].deviation > 0
    assert abs(flags_split[0].deviation - flags_single[0].deviation) < 1e-12


def test_streaming_ewma_multi_arrow_chunk_order(spark, tmp_path):
    """One micro-batch whose rows for a single user span SEVERAL Arrow
    record batches (maxRecordsPerBatch=3) and arrive in REVERSE event
    order. The fold must sort across all chunks, not per chunk — a
    per-chunk sort would fold the highest-mic chunk first and produce a
    different EWMA (regression test for the concat-then-sort fix)."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import batch_ewma_fold, streaming_ewma

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    # 10 events, values distinct, written in reverse mic order so chunk 1
    # holds the LATEST events
    rows = [(1, eid, 100 * eid, float(eid)) for eid in range(10, 0, -1)]
    with open(os.path.join(src, "b0.jsonl"), "w") as f:
        for uid, eid, mic, v in rows:
            f.write(
                json.dumps(
                    {"user_id": uid, "event_id": eid, "ts": mic * 1000, "value": v}
                )
                + "\n"
            )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        collected = []
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts long, value double"
        ).json(src)
        q = (
            streaming_ewma(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert len(collected) == 1 and collected[0].n_events == 10
    batch_df = spark.createDataFrame(
        rows, "user_id long, event_id long, mic long, value double"
    ).select("user_id", "event_id", F.expr("mic * 1000").alias("ts"), "value")
    expect = batch_ewma_fold(batch_df).collect()[0].ewma
    # the mic-ordered fold over values 1..10 with alpha=.25
    acc = 1.0
    for v in range(2, 11):
        acc = 0.25 * v + 0.75 * acc
    assert abs(expect - acc) < 1e-12
    assert abs(collected[0].ewma - acc) < 1e-12


def test_streaming_anomaly_multi_arrow_chunk_order(spark, tmp_path):
    """Same multi-chunk regression for the anomaly fold: a spike written
    FIRST in file order (so it lands in Arrow chunk 1) but carrying the
    LAST event time must still be judged against the full pre-spike
    baseline and flagged exactly once."""
    from aardappel_spark.stateful import streaming_anomaly

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    baseline = [
        (1, eid, 100 * eid, 10.0 + (0.5 if eid % 2 else -0.5)) for eid in range(1, 13)
    ]
    spike = (1, 13, 1300, 60.0)
    # file order: spike first, then baseline in reverse — every chunk
    # boundary crosses out-of-order rows
    rows = [spike] + baseline[::-1]
    with open(os.path.join(src, "b0.jsonl"), "w") as f:
        for uid, eid, mic, v in rows:
            f.write(
                json.dumps(
                    {"user_id": uid, "event_id": eid, "ts": mic * 1000, "value": v}
                )
                + "\n"
            )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        flags = []
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts long, value double"
        ).json(src)
        q = (
            streaming_anomaly(stream)
            .writeStream.foreachBatch(lambda df, bid: flags.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert [f.event_id for f in flags] == [13]
    assert flags[0].deviation > 0


def test_streaming_kmv_matches_batch_sketch(spark, tmp_path):
    """The stream-maintained KMV distinct sketch over three micro-batches
    (with a checkpoint restart between each) must equal the batch KMV
    over the union of all rows: same k-minimum hash sets, same
    (k-1)/u_k estimates, including the 'ALL' union group — the
    mergeability property that makes the sketch shippable."""
    import hashlib

    from aardappel_spark.stateful import KMV_K, streaming_kmv_distinct

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    batches = [
        [("click", uid) for uid in range(0, 120)],
        [("view", uid) for uid in range(60, 260)] + [("click", uid) for uid in range(100, 140)],
        [("purchase", uid) for uid in range(0, 30)] + [("view", uid) for uid in range(250, 400)],
    ]
    collected = []

    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for et, uid in batch:
                f.write(json.dumps({"event_type": et, "user_id": uid}) + "\n")
        stream = spark.readStream.schema("event_type string, user_id long").json(src)
        q = (
            streaming_kmv_distinct(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    latest = {}
    for r in collected:
        latest[r.event_type] = (r.n_state, r.est_distinct)

    # python model over ALL rows, same md5 hash and estimator
    def h(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)

    groups: dict[str, set] = {"ALL": set()}
    for batch in batches:
        for et, uid in batch:
            groups.setdefault(et, set()).add(h(uid))
            groups["ALL"].add(h(uid))
    for et, hs in groups.items():
        keep = sorted(hs)[:KMV_K]
        est = (
            float(len(keep))
            if len(keep) < KMV_K
            else float(KMV_K - 1) * float(2**60) / float(keep[-1])
        )
        assert latest[et] == (len(keep), round(est, 4)), et
    # the sketch state is genuinely bounded AND the big groups' exact
    # counts exceeded it (the estimate is doing real work)
    assert latest["ALL"][0] == KMV_K and len(groups["ALL"]) > KMV_K
    assert latest["purchase"][0] == 30  # small group: exact


def test_streaming_cusum_matches_batch_fold(spark, tmp_path):
    """The stream-maintained CUSUM over three micro-batches (with a
    checkpoint restart between each) must equal the batch window
    rewrite at each user's last event — including a user whose spike
    crosses the alarm threshold mid-stream and one who never does."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import batch_cusum_fold, streaming_cusum

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    collected = []

    rows = [
        # (user_id, event_id, mic, value) — user 1 spikes (alarm), user
        # 2 stays at the reference, batch 2 has a same-micros tie
        [(1, 1, 100, 200.0), (1, 2, 200, 180.0), (2, 3, 100, 50.0)],
        [(1, 4, 300, 30.0), (1, 5, 300, 250.0), (2, 6, 400, 55.0)],
        [(2, 7, 500, 40.0), (1, 8, 500, 10.0), (3, 9, 50, 70.0)],
    ]

    def write(name, batch):
        with open(os.path.join(src, name), "w") as f:
            for uid, eid, mic, v in batch:
                f.write(
                    json.dumps(
                        {"user_id": uid, "event_id": eid, "ts": mic * 1000, "value": v}
                    )
                    + "\n"
                )

    def run():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts long, value double"
        ).json(src)
        q = (
            streaming_cusum(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, batch in enumerate(rows):
        write(f"b{i}.jsonl", batch)
        run()

    latest = {}
    for r in collected:
        latest[r.user_id] = (r.cusum, r.n_events, r.alarm)

    flat = [r for batch in rows for r in batch]
    batch_df = spark.createDataFrame(
        flat, "user_id long, event_id long, mic long, value double"
    ).select("user_id", "event_id", F.expr("mic * 1000").alias("ts"), "value")
    expect = {
        r.user_id: (r.cusum, r.n_events, r.alarm)
        for r in batch_cusum_fold(batch_df).collect()
    }
    assert latest == expect
    assert expect[1][2] is True  # the spike user alarms
    assert expect[2][2] is False  # the at-reference user never does


def test_cusum_window_rewrite_equals_classic_recursion(spark):
    """The S - min(0, min-prefix S) window rewrite must equal the
    textbook recursion s_i = max(0, s_{i-1} + (x_i - ref)) on random
    sequences — including all-below-reference and spike-then-recover
    shapes."""
    import random

    from aardappel_spark.stateful import _CUSUM_REF, batch_cusum_fold

    rng = random.Random(42)
    rows = []
    eid = 0
    for uid in range(8):
        for i in range(rng.randint(1, 40)):
            eid += 1
            base = rng.uniform(0.0, 120.0)
            if rng.random() < 0.1:
                base += rng.uniform(100.0, 300.0)  # spike
            rows.append((uid, eid, i * 10 + rng.randint(0, 5), round(base, 2)))

    batch_df = spark.createDataFrame(
        rows, "user_id long, event_id long, mic long, value double"
    ).selectExpr("user_id", "event_id", "mic * 1000 AS ts", "value")
    got = {r.user_id: (r.cusum, r.n_events) for r in batch_cusum_fold(batch_df).collect()}

    expect = {}
    per_user: dict[int, list] = {}
    for uid, eid_, mic, v in rows:
        per_user.setdefault(uid, []).append((mic, eid_, v))
    for uid, evs in per_user.items():
        s = 0.0
        for _, _, v in sorted(evs):
            s = max(0.0, s + (v - _CUSUM_REF))
        expect[uid] = (round(s, 6), len(evs))
    assert got == expect


def test_streaming_psi_matches_batch_statistic(spark, tmp_path):
    """The stream-maintained PSI over three micro-batches (with a
    checkpoint restart between each) must equal psi_statistic over the
    union of the same rows — per key, against a frozen baseline — and
    drift must move the number: the shifted key's PSI ends above the
    stable key's."""
    import math

    from aardappel_spark.stateful import (
        PSI_BIN_WIDTH,
        psi_statistic,
        streaming_psi_drift,
    )

    baseline = {
        "page_view": {0: 40, 1: 40, 2: 20},
        "purchase": {0: 40, 1: 40, 2: 20},
    }

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    collected = []

    rows = [
        # purchase drifts upward; page_view tracks the baseline shape
        [("page_view", 10.0), ("page_view", 30.0), ("purchase", 60.0)],
        [("page_view", 26.0), ("purchase", 70.0), ("purchase", 55.0)],
        [("page_view", 51.0), ("purchase", 64.0), ("page_view", 12.0)],
    ]

    def write(name, batch):
        with open(os.path.join(src, name), "w") as f:
            for et, v in batch:
                f.write(json.dumps({"event_type": et, "value": v}) + "\n")

    def run():
        stream = spark.readStream.schema("event_type string, value double").json(src)
        q = (
            streaming_psi_drift(stream, baseline)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, batch in enumerate(rows):
        write(f"b{i}.jsonl", batch)
        run()

    latest = {r.event_type: (r.n_cur, r.n_bins, r.psi) for r in collected}

    hist: dict[str, dict[int, int]] = {}
    for batch in rows:
        for et, v in batch:
            b = math.floor(v / PSI_BIN_WIDTH)
            hist.setdefault(et, {}).setdefault(b, 0)
            hist[et][b] += 1
    expect = {et: psi_statistic(baseline[et], cur) for et, cur in hist.items()}
    assert latest == expect
    assert latest["purchase"][2] > latest["page_view"][2]


def test_streaming_reservoir_matches_batch_sample(spark, tmp_path):
    """The stream-maintained A-ES reservoir over three micro-batches
    (checkpoint restart between each, one doc redelivered with the same
    payload, one zero-weight doc) must equal the batch weighted_sample
    over the distinct union of rows: same doc set, same order, same
    keys — the mergeability that keeps a live training subset honest."""
    import json
    import os

    from aardappel_spark.ops.sampling import weighted_sample
    from aardappel_spark.stateful import RESERVOIR_K, streaming_reservoir

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    collected = []

    batches = [
        [(i, 100 + 7 * i) for i in range(0, 40)],
        # doc 5 redelivered (same weight) + zero-weight doc 999
        [(5, 100 + 7 * 5), (999, 0)] + [(i, 100 + 7 * i) for i in range(40, 90)],
        [(i, 100 + 7 * i) for i in range(90, 140)],
    ]
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for did, w in batch:
                f.write(json.dumps({"doc_id": did, "n_chars": w}) + "\n")
        stream = spark.readStream.schema("doc_id long, n_chars long").json(src)
        q = (
            streaming_reservoir(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # latest emission = final reservoir
    last = {}
    for r in collected:
        last[r.pick_order] = (r.doc_id, r.weight, r.wkey)
    assert len(last) == RESERVOIR_K

    all_rows = sorted({(did, w) for b in batches for did, w in b})
    batch_df = spark.createDataFrame(all_rows, "doc_id long, n_chars long")
    want = weighted_sample(batch_df, RESERVOIR_K, weight_col="n_chars").collect()
    assert len(want) == RESERVOIR_K
    for order, w_row in enumerate(want, start=1):
        got = last[order]
        assert got[0] == w_row.doc_id, (order, got, w_row)
        assert got[1] == w_row.n_chars
        assert got[2] == w_row.wkey
    # zero-weight doc is unsampleable by definition
    assert all(did != 999 for did, _, _ in last.values())


def test_streaming_wau_hll_matches_batch_registers(spark, tmp_path):
    """The stream-maintained rolling-WAU HLL registers over three
    micro-batches (checkpoint restart between each, out-of-order days,
    a duplicate redelivery, and forced-small Arrow chunks) must equal
    the batch kernel's 7-day register merge over the union of all rows:
    same per-anchor estimates from the same md5/register/rho formulas
    (registry.q_events_wau_hll), including which anchors had an event
    on the anchor day itself."""
    import hashlib

    from aardappel_spark.stateful import _WAU_M, streaming_wau_hll

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def ts_ns(day_num, sec):
        return (day_num * 86400 + sec) * 1_000_000 * 1000

    # (user_id, day_num, sec) — days 100..112, users overlap across days,
    # batch 2 arrives out of order (earlier days after later ones),
    # batch 3 redelivers two batch-1 rows verbatim
    batches = [
        [(u, 100, u) for u in range(0, 40)] + [(u, 101, u) for u in range(20, 70)],
        [(u, 108, u) for u in range(0, 80)] + [(u, 103, u) for u in range(50, 90)]
        + [(u, 100, 400 + u) for u in range(200, 230)],
        [(u, 112, u) for u in range(10, 25)]
        + [(0, 100, 0), (21, 101, 21)],  # duplicate redelivery
    ]

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    collected = []
    try:
        for bi, batch in enumerate(batches):
            with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
                for uid, d, sec in batch:
                    f.write(json.dumps({"user_id": uid, "ts": ts_ns(d, sec)}) + "\n")
            stream = spark.readStream.schema("user_id long, ts long").json(src)
            q = (
                streaming_wau_hll(stream)
                .writeStream.foreachBatch(
                    lambda df, bid: collected.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    latest = {}
    for r in collected:
        latest[r.day] = (r.wau_estimate, r.own_day_seen)

    # python model: identical hash/register/rho and 7-day trailing merge
    def h(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)

    rows = [(uid, d) for batch in batches for uid, d, _ in batch]
    event_days = {d for _, d in rows}
    anchors = {a for _, d in rows for a in range(d, d + 7)}
    for a in sorted(anchors):
        regs = [0] * _WAU_M
        for uid, d in rows:
            if a - 6 <= d <= a:
                hv = h(uid)
                reg, v = hv % _WAU_M, hv >> 6
                rho = 55 if v == 0 else 55 - v.bit_length()
                regs[reg] = max(regs[reg], rho)
        inv = sum(2.0 ** -r for r in regs)
        est = round(0.709 * _WAU_M * _WAU_M / inv, 4)
        assert latest[a] == (est, a in event_days), a
    # the sketch is doing real estimation work (big anchors have far
    # more distinct users than registers) and stays bounded
    assert len({u for u, d in rows if 102 <= d <= 108}) > _WAU_M
    assert set(latest) == anchors


def test_streaming_activity_bitmap_matches_batch(spark, tmp_path):
    """The stream-maintained (month, user) day bitmasks over three
    micro-batches (checkpoint restart between each, duplicate
    redelivery, cross-month keys) must equal the batch kernel's bit_or
    over the union of all rows: same masks, same active-day counts."""
    from aardappel_spark.stateful import streaming_activity_bitmap

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def ts_ns(day_num, sec):
        return (day_num * 86400 + sec) * 1_000_000 * 1000

    # day 19723 = 2024-01-01 (anchor January and February 2024)
    jan, feb = 19723, 19754
    batches = [
        [(1, jan + 0, 10), (1, jan + 2, 20), (2, jan + 0, 5)],
        [(1, jan + 2, 99), (2, feb + 3, 1), (1, feb + 27, 0)],
        [(1, jan + 0, 10), (3, feb + 0, 7), (2, jan + 30, 2)],  # dup redelivery
    ]
    collected = []
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for uid, d, sec in batch:
                f.write(json.dumps({"user_id": uid, "ts": ts_ns(d, sec)}) + "\n")
        stream = spark.readStream.schema("user_id long, ts long").json(src)
        q = (
            streaming_activity_bitmap(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    latest = {}
    for r in collected:
        latest[(r.month, r.user_id)] = (r.mask, r.active_days)

    import datetime

    model = {}
    for batch in batches:
        for uid, d, _ in batch:
            date = datetime.date(1970, 1, 1) + datetime.timedelta(days=d)
            k = (date.strftime("%Y-%m"), uid)
            model[k] = model.get(k, 0) | (1 << (date.day - 1))
    assert latest == {
        k: (m, bin(m).count("1")) for k, m in model.items()
    }
    # the cross-month key split is real and a dup did not double-set
    assert ("2024-01", 1) in latest and ("2024-02", 1) in latest
    assert latest[("2024-01", 1)][1] == 2  # days 1 and 3, dup collapsed


def test_streaming_agg_deltas_maintains_materialized_view(spark, tmp_path):
    """streaming_agg_deltas + MaterializedAggState maintain a grouped
    (sum, n_keys) aggregate over an LWW change stream: updates retract
    the old contribution (including group moves), erases retract only,
    stale and duplicate rows emit no delta, and a replayed batch_id is
    skipped by the applier — the final view equals a batch GROUP BY
    over the surviving LWW rows across checkpoint restarts."""
    from aardappel_spark.stateful import (
        MaterializedAggState,
        streaming_agg_deltas,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    agg_path = str(tmp_path / "agg.json")
    os.makedirs(src, exist_ok=True)

    batches = [
        [("k1", "A", 10.0, "upsert", 1, 1), ("k2", "A", 20.0, "upsert", 1, 2),
         ("k3", "B", 5.0, "upsert", 1, 3)],
        # k1 moves group A->B, k2 updated in place, new key k4
        [("k1", "B", 7.0, "upsert", 2, 1), ("k2", "A", 25.0, "upsert", 2, 2),
         ("k4", "B", 1.0, "upsert", 1, 9)],
        # erase k3; duplicate redelivery of k1's batch-2 row (no delta);
        # stale out-of-order row for k2 (loses LWW -> no delta); new k5
        [("k3", None, 0.0, "erase", 3, 1), ("k1", "B", 7.0, "upsert", 2, 1),
         ("k2", "A", 999.0, "upsert", 0, 7), ("k5", "A", 2.0, "upsert", 1, 4)],
    ]

    state = MaterializedAggState(agg_path)
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for k, g, v, op, s, t in batch:
                f.write(json.dumps(
                    {"key": k, "grp": g, "value": v, "op": op,
                     "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(
            "key string, grp string, value double, op string, step long, tx_id long"
        ).json(src)

        def sink(df, bid):
            st = MaterializedAggState(agg_path)  # reload: crash-safe path
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_agg_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    final = MaterializedAggState(agg_path)
    assert final.groups == {"A": (27.0, 2), "B": (8.0, 2)}, final.groups

    # replayed batch id is a no-op (exactly-once per batch)
    assert final.apply_deltas(
        [{"grp": "A", "delta_value": 100.0, "delta_keys": 1}], final.last_batch
    ) is False
    assert final.groups["A"] == (27.0, 2)


@pytest.mark.parametrize("seed", [11, 42])
def test_streaming_agg_deltas_random_fuzz(spark, tmp_path, seed):
    """Randomized IVM fuzz: random upsert/erase ops over random keys,
    groups, and unique (step, tx) positions, arriving shuffled across
    random micro-batch splits with duplicate redelivery mixed in — the
    maintained view must equal a python LWW model's GROUP BY at the
    end, for any split and any arrival order."""
    import random

    from aardappel_spark.stateful import (
        MaterializedAggState,
        streaming_agg_deltas,
    )

    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(8)]
    groups = ["A", "B", "C"]
    positions = rng.sample(range(1, 500), 60)
    ops = []
    for pos in positions:
        k = rng.choice(keys)
        if rng.random() < 0.15:
            ops.append((k, None, 0.0, "erase", pos, pos * 7 % 97))
        else:
            ops.append(
                (k, rng.choice(groups), float(rng.randint(1, 50)),
                 "upsert", pos, pos * 7 % 97)
            )
    arrival = ops[:]
    rng.shuffle(arrival)
    # duplicate redelivery: resend ~20% of rows later in the stream
    dups = rng.sample(arrival, 12)
    for d in dups:
        arrival.insert(rng.randint(0, len(arrival)), d)
    # random batch split into 4 micro-batches
    cuts = sorted(rng.sample(range(1, len(arrival)), 3))
    batches = [arrival[a:b] for a, b in zip([0] + cuts, cuts + [len(arrival)])]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    agg_path = str(tmp_path / "agg.json")
    os.makedirs(src, exist_ok=True)
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for k, g, v, op, s, t in batch:
                f.write(json.dumps(
                    {"key": k, "grp": g, "value": v, "op": op,
                     "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(
            "key string, grp string, value double, op string, step long, tx_id long"
        ).json(src)

        def sink(df, bid):
            st = MaterializedAggState(agg_path)
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_agg_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # python model: LWW winner per key by (step, tx), then GROUP BY
    lww = {}
    for k, g, v, op, s, t in ops:
        if k not in lww or (s, t) > lww[k][:2]:
            lww[k] = (s, t, g, v, op)
    model = {}
    for _, _, g, v, op in lww.values():
        if op == "erase":
            continue
        sm, n = model.get(g, (0.0, 0))
        model[g] = (sm + v, n + 1)

    final = MaterializedAggState(agg_path)
    assert final.groups == model, (seed, final.groups, model)


def test_streaming_join_view_deltas_maintains_joined_view(spark, tmp_path):
    """streaming_join_view_deltas + MaterializedAggState maintain a
    grouped aggregate over a JOIN of two change streams: item upserts
    and erases adjust the parent's contribution, a parent group move
    re-groups the whole item sum, a parent erase retracts it, and
    duplicates/stale rows emit no delta — the final view equals the
    batch join+GROUP BY over the surviving rows."""
    from aardappel_spark.stateful import (
        MaterializedAggState,
        streaming_join_view_deltas,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    agg_path = str(tmp_path / "agg.json")
    os.makedirs(src, exist_ok=True)

    # rows: (jk, side, sub_key, grp, value, op, step, tx_id)
    batches = [
        # order o1 in month A with two items; o2 in B with one item
        [("o1", "o", None, "A", None, "upsert", 1, 1),
         ("o1", "l", "i1", None, 10.0, "upsert", 1, 2),
         ("o1", "l", "i2", None, 5.0, "upsert", 1, 3),
         ("o2", "o", None, "B", None, "upsert", 1, 4),
         ("o2", "l", "i1", None, 7.0, "upsert", 1, 5)],
        # o1 moves A->B (whole 15.0 re-groups); o2's item repriced;
        # o3 arrives items-first (no parent yet -> contributes nothing)
        [("o1", "o", None, "B", None, "upsert", 2, 1),
         ("o2", "l", "i1", None, 9.0, "upsert", 2, 2),
         ("o3", "l", "i1", None, 100.0, "upsert", 1, 6)],
        # erase o1's i2 (retract 5); duplicate redelivery of o1's move
        # (no delta); stale reprice for o2.i1 (loses LWW, no delta);
        # o3's parent lands -> its 100.0 finally joins in C
        [("o1", "l", "i2", None, 0.0, "erase", 3, 1),
         ("o1", "o", None, "B", None, "upsert", 2, 1),
         ("o2", "l", "i1", None, 999.0, "upsert", 0, 9),
         ("o3", "o", None, "C", None, "upsert", 2, 3)],
        # erase parent o2 entirely: B loses 9.0 and its item count
        [("o2", "o", None, None, None, "erase", 3, 5)],
    ]

    schema = ("jk string, side string, sub_key string, grp string,"
              " value double, op string, step long, tx_id long")
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for jk, side, sk, g, v, op, s, t in batch:
                f.write(json.dumps(
                    {"jk": jk, "side": side, "sub_key": sk, "grp": g,
                     "value": v, "op": op, "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(schema).json(src)

        def sink(df, bid):
            st = MaterializedAggState(agg_path)
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_join_view_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    final = MaterializedAggState(agg_path)
    # surviving rows: o1 in B with i1=10.0; o3 in C with i1=100.0
    assert final.groups == {"B": (10.0, 1), "C": (100.0, 1)}, final.groups


@pytest.mark.parametrize("seed", [7, 23])
def test_streaming_join_view_deltas_random_fuzz(spark, tmp_path, seed):
    """Randomized join-view IVM fuzz: random upsert/erase ops on BOTH
    sides of the join (parent group moves and erases, item reprices and
    erases, items arriving before their parent), shuffled across random
    micro-batch splits with duplicate redelivery — the maintained view
    must equal a python model's join+GROUP BY over the LWW survivors."""
    import random

    from aardappel_spark.stateful import (
        MaterializedAggState,
        streaming_join_view_deltas,
    )

    rng = random.Random(seed)
    jks = [f"o{i}" for i in range(6)]
    groups = ["A", "B", "C"]
    positions = rng.sample(range(1, 600), 80)
    ops = []
    for pos in positions:
        jk = rng.choice(jks)
        if rng.random() < 0.4:  # parent-side op
            if rng.random() < 0.15:
                ops.append((jk, "o", None, None, None, "erase", pos, pos * 7 % 97))
            else:
                ops.append((jk, "o", None, rng.choice(groups), None,
                            "upsert", pos, pos * 7 % 97))
        else:  # item-side op
            sk = f"i{rng.randint(0, 3)}"
            if rng.random() < 0.15:
                ops.append((jk, "l", sk, None, 0.0, "erase", pos, pos * 7 % 97))
            else:
                ops.append((jk, "l", sk, None, float(rng.randint(1, 50)),
                            "upsert", pos, pos * 7 % 97))
    arrival = ops[:]
    rng.shuffle(arrival)
    for d in rng.sample(arrival, 16):  # duplicate redelivery ~20%
        arrival.insert(rng.randint(0, len(arrival)), d)
    cuts = sorted(rng.sample(range(1, len(arrival)), 3))
    batches = [arrival[a:b] for a, b in zip([0] + cuts, cuts + [len(arrival)])]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    agg_path = str(tmp_path / "agg.json")
    os.makedirs(src, exist_ok=True)
    schema = ("jk string, side string, sub_key string, grp string,"
              " value double, op string, step long, tx_id long")
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for jk, side, sk, g, v, op, s, t in batch:
                f.write(json.dumps(
                    {"jk": jk, "side": side, "sub_key": sk, "grp": g,
                     "value": v, "op": op, "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(schema).json(src)

        def sink(df, bid):
            st = MaterializedAggState(agg_path)
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_join_view_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # python model: LWW per parent jk and per (jk, sub_key) item, then
    # join the survivors and GROUP BY the parent's group
    parents, items = {}, {}
    for jk, side, sk, g, v, op, s, t in ops:
        if side == "o":
            if jk not in parents or (s, t) > parents[jk][:2]:
                parents[jk] = (s, t, g, op)
        else:
            if (jk, sk) not in items or (s, t) > items[(jk, sk)][:2]:
                items[(jk, sk)] = (s, t, v, op)
    model = {}
    for (jk, sk), (_, _, v, op) in items.items():
        if op == "erase":
            continue
        p = parents.get(jk)
        if p is None or p[3] == "erase":
            continue
        sm, n = model.get(p[2], (0.0, 0))
        model[p[2]] = (sm + v, n + 1)

    final = MaterializedAggState(agg_path)
    assert final.groups == model, (seed, final.groups, model)


def test_streaming_attribution_matches_batch_query(spark, tmp_path):
    """The stream-maintained last-touch attribution over three
    micro-batches (fresh query from the checkpoint each time = restart
    per batch) must sum to EXACTLY what the gated batch query
    (registry events_attribution) computes over the same events —
    touch carry across batch boundaries, the 7-day lookback cutoff,
    same-timestamp ties broken by event_id, and half-up cent rounding
    all included."""
    from pyspark.sql import functions as F

    from aardappel_spark import registry
    from aardappel_spark.stateful import streaming_attribution

    day = 86_400 * 10**9
    t0 = 1_700_000_000_000_000_000  # ~2023-11, inside the nanos guard
    # (user_id, event_id, ts_ns, event_type, value)
    rows = [
        # user 1: click -> purchase (click), then view -> 8-day-late
        # purchase (none; crosses batches AND the lookback)
        [(1, 1, t0, "click", 0.0), (1, 2, t0 + day, "purchase", 12.34)],
        [(1, 3, t0 + 2 * day, "view", 0.0), (2, 6, t0, "purchase", 5.0)],
        [
            (1, 4, t0 + 10 * day, "purchase", 10.005),
            # user 3: touch and purchase share a timestamp — event_id
            # order decides the touch is visible
            (3, 7, t0, "view", 0.0), (3, 8, t0, "purchase", 99.99),
            # user 2's second purchase now has a prior click (batch 2's
            # state would NOT have it — it arrives in this batch first)
            (2, 9, t0 + day, "click", 0.0),
            (2, 10, t0 + 2 * day, "purchase", 1.0),
        ],
    ]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    collected = []

    def run():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts long, event_type string, value double"
        ).json(src)
        q = (
            streaming_attribution(stream)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, batch in enumerate(rows):
        with open(os.path.join(src, f"b{i}.jsonl"), "w") as f:
            for uid, eid, ts, et, v in batch:
                f.write(
                    json.dumps(
                        {"user_id": uid, "event_id": eid, "ts": ts,
                         "event_type": et, "value": v}
                    ) + "\n"
                )
        run()

    latest = {}
    for r in collected:
        latest[r.user_id] = r
    got = {
        "click": (sum(r.n_click for r in latest.values()),
                  sum(r.cents_click for r in latest.values())),
        "view": (sum(r.n_view for r in latest.values()),
                 sum(r.cents_view for r in latest.values())),
        "none": (sum(r.n_none for r in latest.values()),
                 sum(r.cents_none for r in latest.values())),
    }

    # the gated batch query over the SAME events, via the real loader
    flat = [r for batch in rows for r in batch]
    spark.createDataFrame(
        flat, "user_id long, event_id long, ts long, event_type string, value double"
    ).select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "sf" / "events.parquet"))
    expect = {
        r.touch_type: (r.n_purchases, r.revenue_cents)
        for r in registry.QUERIES["events_attribution"](
            spark, str(tmp_path / "sf")
        ).collect()
    }
    for k in ("click", "view", "none"):
        assert got[k] == expect.get(k, (0, 0)), (k, got, expect)


def test_streaming_dq_counters_match_batch_gate(spark, tmp_path):
    """The stream-maintained per-constraint (total, violations)
    counters over three micro-batches (checkpoint restart between
    each, NULL predicate rows, multiple constraints) must equal the
    batch dq_check report over the union of all rows — same totals,
    same violation counts, same ok bits."""
    from aardappel_spark.ops.dq import RowCheck, dq_check
    from aardappel_spark.stateful import streaming_dq_counters

    checks = [
        RowCheck("type_domain", "event_type IN ('click', 'view')"),
        RowCheck("value_bounds", "value IS NOT NULL AND value >= 0 AND value <= 100"),
    ]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    batches = [
        [("click", 5.0), ("view", 101.0), ("error", 3.0)],
        [("click", None), ("view", -1.0)],
        [("signup", 50.0), ("click", 100.0), ("view", 0.0)],
    ]
    collected = []
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for et, v in batch:
                f.write(json.dumps({"event_type": et, "value": v}) + "\n")
        stream = spark.readStream.schema("event_type string, value double").json(src)
        q = (
            streaming_dq_counters(stream, checks)
            .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    latest = {}
    for r in collected:
        latest[r.constraint] = (r.total, r.violations, r.ok)

    rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(rows, "event_type string, value double")
    want = {
        r.constraint: (r.total, r.violations, r.ok)
        for r in dq_check(batch_df, "events", checks).collect()
    }
    assert latest == want
    # the counters saw real violations, not a vacuous pass
    assert latest["type_domain"][1] == 2  # error + signup
    assert latest["value_bounds"][1] == 3  # 101.0, NULL, -1.0


def test_materialized_topk_handles_demoting_deletion(spark, tmp_path):
    """Top-k is not self-maintainable under deletions — a retraction
    that demotes a top-k member needs the (k+1)th group. The maintained
    state is the full per-group aggregate, so the erase of the leading
    group's only key must surface the PREVIOUSLY-INVISIBLE third group
    into the top-2, and a group move must re-rank, all across restarts
    (a fresh reader per batch)."""
    from aardappel_spark.stateful import (
        MaterializedTopKState,
        streaming_agg_deltas,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "topk.json")
    os.makedirs(src, exist_ok=True)

    batches = [
        # A=100(a1), B=50(b1), C=30(c1): top2 = [A, B]
        [("a1", "A", 100.0, "upsert", 1, 1),
         ("b1", "B", 50.0, "upsert", 1, 2),
         ("c1", "C", 30.0, "upsert", 1, 3)],
        # erase a1: A vanishes -> top2 must become [B, C] (C was
        # outside the top-2 before the deletion)
        [("a1", None, None, "erase", 2, 1)],
        # b1 moves B->C: C=80, B gone -> top2 = [C]
        [("b1", "C", 50.0, "upsert", 3, 1)],
    ]
    schema = "key string, grp string, value double, op string, step long, tx_id long"
    expected = [
        [("A", 100.0, 1), ("B", 50.0, 1)],
        [("B", 50.0, 1), ("C", 30.0, 1)],
        [("C", 80.0, 2)],
    ]
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for k, g, v, op, s, t in batch:
                f.write(json.dumps({"key": k, "grp": g, "value": v,
                                    "op": op, "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(schema).json(src)

        def sink(df, bid):
            st = MaterializedTopKState(path, k=2)  # restart per batch
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_agg_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert MaterializedTopKState(path, k=2).topk() == expected[bi], bi


@pytest.mark.parametrize("seed", [11, 37])
def test_materialized_topk_random_fuzz(spark, tmp_path, seed):
    """Randomized maintained-top-k fuzz: random upserts/erases/group
    moves with duplicate redelivery across random micro-batch splits
    and a restart per batch — after the stream drains, topk() must
    equal the python model's (sum DESC, grp ASC) head over the LWW
    survivors, ties and deletions included."""
    import random

    from aardappel_spark.stateful import (
        MaterializedTopKState,
        streaming_agg_deltas,
    )

    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(12)]
    groups = ["A", "B", "C", "D", "E"]
    positions = rng.sample(range(1, 700), 90)
    ops = []
    for pos in positions:
        k = rng.choice(keys)
        if rng.random() < 0.2:
            ops.append((k, None, None, "erase", pos, pos * 11 % 89))
        else:
            # integer-valued doubles: exact retract-add folding
            ops.append((k, rng.choice(groups), float(rng.randint(1, 40)),
                        "upsert", pos, pos * 11 % 89))
    arrival = ops[:]
    rng.shuffle(arrival)
    for d in rng.sample(arrival, 18):
        arrival.insert(rng.randint(0, len(arrival)), d)
    cuts = sorted(rng.sample(range(1, len(arrival)), 4))
    batches = [arrival[a:b] for a, b in zip([0] + cuts, cuts + [len(arrival)])]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "topk.json")
    os.makedirs(src, exist_ok=True)
    schema = "key string, grp string, value double, op string, step long, tx_id long"
    for bi, batch in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
            for k, g, v, op, s, t in batch:
                f.write(json.dumps({"key": k, "grp": g, "value": v,
                                    "op": op, "step": s, "tx_id": t}) + "\n")
        stream = spark.readStream.schema(schema).json(src)

        def sink(df, bid):
            st = MaterializedTopKState(path, k=3)
            st.apply_deltas([r.asDict() for r in df.collect()], bid)

        q = (
            streaming_agg_deltas(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # python model: LWW fold, group, total-order head
    lww = {}
    for k, g, v, op, s, t in ops:
        if k not in lww or (s, t) > lww[k][:2]:
            lww[k] = (s, t, g, v, op)
    model = {}
    for _, _, g, v, op in lww.values():
        if op == "erase":
            continue
        sm, n = model.get(g, (0.0, 0))
        model[g] = (sm + v, n + 1)
    want = sorted(
        ((g, s, n) for g, (s, n) in model.items()),
        key=lambda r: (-r[1], r[0]),
    )[:3]
    assert MaterializedTopKState(path, k=3).topk() == want, seed


def test_incremental_setsim_matches_batch_kernel_and_model(spark, tmp_path):
    """The streaming prefix-filter setsim twin over three micro-batches
    must emit exactly the batch kernel's verified pairs over the union
    corpus (candidate sets differ between the twin's hash order and the
    batch kernel's df order; DETECTIONS cannot — both are exact), and
    both must equal the brute-force Jaccard model. Redelivery of every
    document through a fresh checkpoint must emit nothing new."""
    import json

    from aardappel_spark.ops.dedup import setsim_prefix_pairs
    from aardappel_spark.stateful import incremental_setsim_batch

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "pack my box with five dozen brown liquor jugs"),
        (4, "pack my box with five dozen brown liquor jugs"),
        (5, "streaming joins maintain postings state across batches"),
        (6, "completely unrelated words about gardening and tulips"),
        (7, "the quick brown fox jumps over the lazy dog tonight"),
        (8, "pack my box with five dozen brown liquor mugs"),
        (9, "tiny doc"),
        (10, "streaming joins maintain postings state across restarts"),
    ]
    tau_num, tau_den, w = 1, 2, 2

    def sh2(text):
        ws = [x for x in text.split() if x]
        return {" ".join(ws[i : i + w]) for i in range(len(ws) - w + 1)}

    model = set()
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1 :]:
            a, b = sh2(ta), sh2(tb)
            if not a or not b:
                continue
            inter = len(a & b)
            if tau_den * inter >= tau_num * (len(a) + len(b) - inter):
                model.add((ia, ib))

    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    kernel = {
        (r.id_a, r.id_b): (r.n_a, r.n_b, r.n_inter)
        for r in setsim_prefix_pairs(
            batch_df, tau_num=tau_num, tau_den=tau_den, shingle=w
        ).filter("verified").collect()
    }
    assert set(kernel) == model

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    store = str(tmp_path / "store")
    emitted = []
    fn = incremental_setsim_batch(
        store, tau_num=tau_num, tau_den=tau_den, shingle=w,
        sink=lambda df, bid: emitted.extend(df.collect()),
    )

    def run(name, rows, ckpt):
        with open(os.path.join(src, name), "w") as f:
            for i, text in rows:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("b1.jsonl", docs[:4], "ckpt")
    run("b2.jsonl", docs[4:7], "ckpt")
    run("b3.jsonl", docs[7:], "ckpt")

    got = {
        (r.id_a, r.id_b): (r.n_a, r.n_b, r.n_inter)
        for r in emitted
        if r.verified
    }
    assert got == kernel  # pairs AND their exact counts
    # each pair emitted exactly once across the whole feed
    keys = [(r.id_a, r.id_b) for r in emitted]
    assert len(keys) == len(set(keys))

    # redelivery: a fresh checkpoint re-reads every file; the sets-store
    # anti-join must drop all of it — nothing emitted, stores unchanged
    n_post = spark.read.parquet(f"{store}/postings").count()
    before = len(emitted)
    run("b4.jsonl", [], "ckpt2")
    assert len(emitted) == before
    assert spark.read.parquet(f"{store}/postings").count() == n_post


def test_incremental_setsim_crash_replay_never_duplicates_postings(
    spark, tmp_path
):
    """r10 ADVICE: a crash between the postings write and the sets
    write used to leave permanently duplicated postings rows (append
    mode). With per-batch overwrite subdirectories the replay must
    rebuild the SAME store state — postings count identical to a clean
    run — and re-emit the batch's pairs (at-least-once per batch_id,
    never lost)."""
    import shutil

    from aardappel_spark.stateful import incremental_setsim_batch

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "pack my box with five dozen brown liquor jugs"),
        (4, "pack my box with five dozen brown liquor jugs"),
    ]
    batch = spark.createDataFrame(docs, "doc_id long, text string")

    def mk(store):
        emitted = []
        fn = incremental_setsim_batch(
            store, tau_num=1, tau_den=2, shingle=2,
            sink=lambda df, bid: emitted.extend(
                (bid, r.id_a, r.id_b) for r in df.filter("verified").collect()
            ),
        )
        return fn, emitted

    # clean run: the ground truth store shape
    clean = str(tmp_path / "clean")
    fn, emitted = mk(clean)
    fn(batch, 0)
    clean_post = spark.read.parquet(f"{clean}/postings")
    clean_n = clean_post.count()
    clean_pairs = sorted(emitted)
    assert clean_pairs  # the fixture plants near-dups

    # exact replay of a COMPLETED batch: nothing emitted, store intact
    fn(batch, 0)
    assert sorted(emitted) == clean_pairs
    assert spark.read.parquet(f"{clean}/postings").count() == clean_n

    # crash window A: postings written, sets write never happened
    crashed = str(tmp_path / "crashed")
    fn2, emitted2 = mk(crashed)
    fn2(batch, 0)
    shutil.rmtree(f"{crashed}/sets")  # simulate the crash
    fn2(batch, 0)  # replay
    assert spark.read.parquet(f"{crashed}/postings").count() == clean_n
    assert spark.read.parquet(f"{crashed}/sets").count() == 4
    # pairs re-emitted once per replayed batch_id — at-least-once,
    # dedupable downstream by batch_id; never silently lost
    assert sorted(set(emitted2)) == clean_pairs

    # crash window B: sink fired, NO store write landed
    crashed2 = str(tmp_path / "crashed2")
    fn3, emitted3 = mk(crashed2)
    fn3(batch, 0)
    shutil.rmtree(f"{crashed2}/sets")
    shutil.rmtree(f"{crashed2}/postings")
    fn3(batch, 0)
    assert spark.read.parquet(f"{crashed2}/postings").count() == clean_n
    assert sorted(set(emitted3)) == clean_pairs


def test_incremental_stores_propagate_real_read_errors(spark, tmp_path):
    """r10 ADVICE: only a MISSING store path may mean 'empty corpus';
    a corrupt store file must propagate, not silently forget all
    history and re-admit duplicates."""
    import pytest as _pytest

    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    docs = spark.createDataFrame(
        [(1, "some document text here")], "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    os.makedirs(f"{store}/sets/batch=0", exist_ok=True)
    with open(f"{store}/sets/batch=0/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file at all, corrupt footer")
    fn = incremental_setsim_batch(store, sink=lambda df, bid: None)
    with _pytest.raises(Exception) as ei:
        fn(docs, 1)
    assert "AnalysisException" not in type(ei.value).__name__

    store2 = str(tmp_path / "fps")
    os.makedirs(store2, exist_ok=True)
    with open(f"{store2}/part-00000.parquet", "wb") as f:
        f.write(b"garbage bytes")
    fn2 = incremental_dedup_batch(store2, sink=lambda df, bid: None)
    with _pytest.raises(Exception) as ei2:
        fn2(docs, 1)
    assert "AnalysisException" not in type(ei2.value).__name__


def test_incremental_setsim_guard_refuses_degenerate_batch(spark, tmp_path):
    """The per-batch candidate-mass guard must refuse a token space
    with no rare tail, same contract as the batch kernel."""
    from aardappel_spark.stateful import incremental_setsim_batch

    rows = [(i, "a b a b a b a b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fn = incremental_setsim_batch(
        str(tmp_path / "store"), tau_num=1, tau_den=2, shingle=1,
        guard_max_candidates=10,
    )
    with pytest.raises(ValueError, match="degenerate token space"):
        fn(df, 0)


def test_incremental_setsim_fully_replayed_batch_never_reaches_sink(
    spark, tmp_path
):
    """r11 ADVICE (high): a replay of a COMMITTED batch must not call
    the sink AT ALL — an overwrite-by-batch sink handed an empty frame
    (under the original batch id, or under a restarted id after a
    fresh checkpoint) would wipe the batch's committed output — and
    must leave the stores untouched."""
    from aardappel_spark.stateful import incremental_setsim_batch

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "pack my box with five dozen brown liquor jugs"),
        (4, "pack my box with five dozen brown liquor jugs"),
    ]
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    store = str(tmp_path / "store")
    calls = []
    fn = incremental_setsim_batch(
        store, tau_num=1, tau_den=2, shingle=2,
        sink=lambda df, bid: calls.append((bid, df.count())),
    )
    fn(batch, 0)
    assert calls and calls[0][0] == 0 and calls[0][1] > 0
    post_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{store}/postings") for f in fs
    )

    # replay under the SAME id (foreachBatch retry) and under a NEW id
    # (fresh-checkpoint restart): the sink must not fire again, and the
    # store must not gain batch directories
    n_calls = len(calls)
    fn(batch, 0)
    fn(batch, 7)
    assert len(calls) == n_calls
    assert sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{store}/postings") for f in fs
    ) == post_files
    assert not os.path.exists(f"{store}/postings/batch=7")

    # an EMPTY source batch is also a no-op, not an empty sink call
    empty = spark.createDataFrame([], "doc_id long, text string")
    fn(empty, 8)
    assert len(calls) == n_calls


def test_setsim_store_bucketed_and_candidate_scan_prunes(spark, tmp_path):
    """r11 verdict #4: both state stores are hive-partitioned
    batch=<id>/bucket=<b> (postings by xxhash64(tok), sets by
    xxhash64(id)), and the bucket-pruned read the candidate/anti-joins
    use actually scans ONLY matching bucket directories — asserted on
    input_file_name(), the runtime truth of what the scan read."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import (
        _read_store_buckets,
        incremental_setsim_batch,
    )

    docs = [
        (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h")
        for i in range(48)
    ]
    store = str(tmp_path / "store")
    fn = incremental_setsim_batch(
        store, tau_num=4, tau_den=5, shingle=1, sink=lambda df, bid: None
    )
    fn(spark.createDataFrame(docs, "doc_id long, text string"), 0)

    post = f"{store}/postings"
    bucket_dirs = sorted(os.listdir(f"{post}/batch=0"))
    bucket_dirs = [d for d in bucket_dirs if d.startswith("bucket=")]
    assert len(bucket_dirs) >= 2, bucket_dirs  # diverse tokens spread out
    sets_dirs = [
        d for d in os.listdir(f"{store}/sets/batch=0")
        if d.startswith("bucket=")
    ]
    assert len(sets_dirs) >= 2, sets_dirs

    schema = "tok string, id long, n long, rn long, bucket int"
    want = int(bucket_dirs[0].split("=")[1])
    pruned = _read_store_buckets(spark, post, schema, [want])
    read_files = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and all(f"/bucket={want}/" in f for f in read_files)
    full_files = {
        r[0]
        for r in spark.read.parquet(post)
        .select(F.input_file_name()).distinct().collect()
    }
    assert len(full_files) > len(read_files)
    # pruned frame's rows really are the requested bucket only
    assert {
        r.bucket for r in pruned.select("bucket").distinct().collect()
    } == {want}
    # empty bucket list = read nothing (first-batch shape)
    assert _read_store_buckets(spark, post, schema, []).count() == 0


def test_read_store_or_empty_only_swallows_no_committed_data(
    spark, tmp_path
):
    """r11 ADVICE (medium): only 'no committed data' may mean 'first
    batch / empty corpus' — a missing path, or a dir with no parquet
    footers (pre-created store dir / orphaned _temporary: by the store
    protocol every committed batch leaves a footer). A half-migrated
    MIXED store layout (flat batch dirs alongside bucketed ones) must
    re-raise instead of silently forgetting all history."""
    from aardappel_spark.stateful import _read_store_or_empty

    missing = str(tmp_path / "never_written")
    df = _read_store_or_empty(spark, missing, "fp string")
    assert df.count() == 0 and df.columns == ["fp"]

    # pre-created empty dir (tempfile.mkdtemp pattern) = empty corpus
    pre_created = str(tmp_path / "pre_created")
    os.makedirs(pre_created)
    assert _read_store_or_empty(spark, pre_created, "fp string").count() == 0

    # orphaned _temporary from a crashed uncommitted write = empty too
    orphaned = str(tmp_path / "orphaned")
    os.makedirs(f"{orphaned}/batch=0/_temporary/0")
    assert _read_store_or_empty(spark, orphaned, "fp string").count() == 0

    # legacy flat batch dirs MIXED with bucketed ones: partition
    # discovery conflict — must propagate (re-admitting history's
    # duplicates would be silent wrongness)
    mixed = str(tmp_path / "mixed")
    spark.range(3).write.parquet(f"{mixed}/batch=0/bucket=1")
    spark.range(3).write.parquet(f"{mixed}/batch=1")
    with pytest.raises(Exception, match="CONFLICTING_PARTITION"):
        _read_store_or_empty(spark, mixed, "fp string").count()


def test_setsim_batch_never_scans_full_history(spark, tmp_path, monkeypatch):
    """r12 verdict #1/#2: EVERY historical read the setsim batch
    performs is bucket-pruned — including the VERIFY join's sets read,
    which used to union the full store (token arrays) into every
    micro-batch — and the degenerate-regime guard reads the one-row-
    per-batch counts sidecar (driver-side Arrow, no Spark job at all)
    instead of counting the full sets store. Pinned by recording every
    store read the batch kernel issues: zero non-pruned Spark reads,
    and exactly one driver-side sidecar read per batch."""
    from pyspark.sql import functions as F

    import aardappel_spark.stateful as st

    calls = []
    real_buckets = st._read_store_buckets
    real_or_empty = st._read_store_or_empty
    real_counts = st._read_counts_total
    inside = {"buckets": False}

    def rec_buckets(spark_, path, schema, bks):
        calls.append(("pruned", path, sorted(set(bks))))
        inside["buckets"] = True
        try:
            return real_buckets(spark_, path, schema, bks)
        finally:
            inside["buckets"] = False

    def rec_or_empty(spark_, path, schema):
        if not inside["buckets"]:
            calls.append(("full", path, None))
        return real_or_empty(spark_, path, schema)

    def rec_counts(path, exclude_bid):
        calls.append(("sidecar", path, None))
        return real_counts(path, exclude_bid)

    monkeypatch.setattr(st, "_read_store_buckets", rec_buckets)
    monkeypatch.setattr(st, "_read_store_or_empty", rec_or_empty)
    monkeypatch.setattr(st, "_read_counts_total", rec_counts)

    store = str(tmp_path / "store")
    outs = []
    fn = st.incremental_setsim_batch(
        store, tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: outs.append(df.collect()),
    )
    # batch 0 seeds history, incl. doc 1 whose near-dup arrives later
    b0 = [(1, "a b c d")] + [
        (i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(2, 20)
    ]
    fn(spark.createDataFrame(b0, "doc_id long, text string"), 0)

    calls.clear()
    outs.clear()
    # batch 1: doc 101 is a cross-batch near-dup of doc 1
    # (J({a,b,c,d},{a,b,c,e}) = 3/5 >= 1/2), plus unrelated docs
    b1 = [(101, "a b c e")] + [
        (i, f"z{i}a z{i}b z{i}c z{i}d") for i in range(102, 110)
    ]
    fn(spark.createDataFrame(b1, "doc_id long, text string"), 1)

    # the cross-batch pair is detected and verified (semantics held)
    pairs = {(r.id_a, r.id_b) for o in outs for r in o if r.verified}
    assert (1, 101) in pairs

    # every sets/postings read was bucket-pruned; NO full Spark read
    # of any store happens at all — the guard's corpus count comes
    # from the driver-side Arrow read of the counts sidecar
    full_paths = [p for kind, p, _ in calls if kind == "full"]
    assert full_paths == [], calls
    sidecar_paths = [p for kind, p, _ in calls if kind == "sidecar"]
    assert sidecar_paths == [f"{store}/counts"], calls
    pruned = [(p, bks) for kind, p, bks in calls if kind == "pruned"]
    sets_reads = [bks for p, bks in pruned if p == f"{store}/sets"]
    post_reads = [bks for p, bks in pruned if p == f"{store}/postings"]
    # replay anti-join + verify join on sets, candidate join on postings
    assert len(sets_reads) == 2 and len(post_reads) == 1, pruned

    # the verify read's bucket list is exactly the candidate pairs'
    # id buckets (ids 1 and 101 are the only candidates here)
    want = {
        r.b
        for r in spark.createDataFrame([(1,), (101,)], "id long")
        .select(F.pmod(F.xxhash64("id"), F.lit(16)).cast("int").alias("b"))
        .collect()
    }
    assert set(sets_reads[1]) == want, (sets_reads, want)

    # the counts sidecar really carries one row per committed batch,
    # matching the sets-store row counts the old guard used to count
    counts = {
        r.bid: r.n for r in spark.read.parquet(f"{store}/counts").collect()
    }
    n_sets = spark.read.parquet(f"{store}/sets").count()
    assert counts == {0: 19, 1: 9} and sum(counts.values()) == n_sets


def test_setsim_verify_join_evaluates_sets_union_once(
    spark, tmp_path, monkeypatch
):
    """r13 verdict #2: the verify join consumes the pruned-store ∪
    new-sets union on BOTH key legs (id_a, id_b); without the per-batch
    pin each leg planned its OWN evaluation of the identical union —
    two pruned sets FileScans + two derivations per batch, and at scale
    two shuffles of the toks arrays. Pinned: the captured per-batch
    verify plan reads the union as checkpointed RDD blocks on both legs
    (Scan ExistingRDD) with ZERO file scans and ZERO Union nodes — the
    derivation runs once, when the blocks materialize."""
    from pyspark.sql.classic.dataframe import DataFrame

    import aardappel_spark.stateful as st

    plans = []
    orig = DataFrame.localCheckpoint

    def patched(self, eager=True):
        if eager and "verified" in self.columns:
            plans.append(
                self._sc._jvm.PythonSQLUtils.explainString(
                    self._jdf.queryExecution(), "simple"
                )
            )
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", patched)

    store = str(tmp_path / "store")
    fn = st.incremental_setsim_batch(
        store, tau_num=1, tau_den=2, shingle=1, sink=lambda df, bid: None
    )
    b0 = [(1, "a b c d")] + [
        (i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(2, 20)
    ]
    fn(spark.createDataFrame(b0, "doc_id long, text string"), 0)
    # batch 1 has history: the verify join reads store ∪ new sets
    b1 = [(101, "a b c e")] + [
        (i, f"z{i}a z{i}b z{i}c z{i}d") for i in range(102, 110)
    ]
    fn(spark.createDataFrame(b1, "doc_id long, text string"), 1)

    assert len(plans) == 2
    batch1_plan = plans[1]
    # both verify legs read the pinned union's RDD blocks; no leg
    # re-derives it (no file scan of sets/, no re-planned Union)
    assert "FileScan" not in batch1_plan, batch1_plan
    assert "Union" not in batch1_plan, batch1_plan
    # the scans' column sets name what they read: cand's pinned pairs,
    # and the pinned union on each key leg (at least one scan per leg —
    # a bound, so a different join strategy cannot flake the pin)
    scans = [
        re.sub(r"#\d+L?", "", cols).split(",")
        for cols in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", batch1_plan)
    ]
    assert scans.count(["id_a", "id_b"]) >= 1, batch1_plan
    assert scans.count(["id", "toks", "n"]) >= 2, batch1_plan


def test_read_counts_total_driver_side(spark, tmp_path):
    """_read_counts_total matches the Spark aggregate it replaced:
    sums n over every committed sidecar row except the excluded batch
    id, missing dir = 0 (first batch), and it reads the same files a
    Spark read of the store would."""
    from aardappel_spark.localrel import local_df
    from aardappel_spark.stateful import _read_counts_total

    path = str(tmp_path / "counts")
    assert _read_counts_total(path, 0) == 0  # missing = first batch
    for n, bid in ((19, 0), (9, 1), (7, 2)):
        local_df(spark, [(n, bid)], "n long, bid long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/batch={bid}")
    # exclude the current batch's own (crashed prior attempt) row
    assert _read_counts_total(path, 2) == 28
    assert _read_counts_total(path, 99) == 35
    # agrees with the Spark read of the identical store
    got = (
        spark.read.parquet(path)
        .filter("bid != 2")
        .groupBy()
        .sum("n")
        .collect()[0][0]
    )
    assert got == 28
    # an uncommitted write's rows under _temporary are not corpus, as
    # for Spark's reader — neither whole (it used to add them) nor torn
    # (it used to raise ArrowInvalid on every later batch)
    import pyarrow as pa
    import pyarrow.parquet as pq

    orphan = f"{path}/batch=3/_temporary/0/_temporary/attempt_0"
    os.makedirs(orphan)
    pq.write_table(
        pa.table({"n": pa.array([7], pa.int64()), "bid": pa.array([3], pa.int64())}),
        f"{orphan}/part-00000.parquet",
    )
    assert _read_counts_total(path, 99) == 35
    with open(f"{orphan}/part-00001.parquet", "wb") as f:
        f.write(b"PAR1 torn")
    assert _read_counts_total(path, 99) == 35
    assert spark.read.parquet(path).groupBy().sum("n").collect()[0][0] == 35


def test_dedup_fp_store_bucketed_prunes_and_replay_never_wipes(
    spark, tmp_path
):
    """r12 verdict #3: the exact-dedup fingerprint store uses the same
    batch=<id>/bucket=<b> layout (pmod(xxhash64(fp), 16)); the
    anti-join's pruned read scans ONLY matching bucket directories
    (input_file_name, the runtime truth), a replayed batch must not
    overwrite its committed fingerprints with an empty frame, and a
    legacy flat store fails fast instead of being silently misread."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import (
        _read_store_buckets,
        incremental_dedup_batch,
    )

    store = str(tmp_path / "fps")
    emitted = []
    fn = incremental_dedup_batch(
        store, sink=lambda df, bid: emitted.append((bid, df.collect()))
    )
    b0 = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(32)],
        "doc_id long, text string",
    )
    fn(b0, 0)
    assert [d for (bid, rows) in emitted for d in rows if bid == 0]

    bucket_dirs = sorted(
        d for d in os.listdir(f"{store}/batch=0") if d.startswith("bucket=")
    )
    assert len(bucket_dirs) >= 2, bucket_dirs  # fps spread across buckets

    # pruned read really scans only the requested bucket's files
    want = int(bucket_dirs[0].split("=")[1])
    pruned = _read_store_buckets(
        spark, store, "fp string, bucket int", [want]
    )
    read_files = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and all(f"/bucket={want}/" in f for f in read_files)
    full_files = {
        r[0]
        for r in spark.read.parquet(store)
        .select(F.input_file_name()).distinct().collect()
    }
    assert len(full_files) > len(read_files)

    # REPLAY of the committed batch: every fp is already in the store
    # (its own batch=0 rows), so the sink legitimately sees an empty
    # frame — but the store write must be SKIPPED, not an empty
    # overwrite that wipes batch=0's committed fingerprints
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{store}/batch=0") for f in fs
    )
    n_emits = len(emitted)
    fn(b0, 0)
    assert len(emitted) == n_emits + 1 and emitted[-1][1] == []
    assert sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{store}/batch=0") for f in fs
    ) == files_before

    # dedup across batches still holds on the bucketed store
    emitted.clear()
    b1 = spark.createDataFrame(
        [(100, "text number 3"), (101, "brand new text")],
        "doc_id long, text string",
    )
    fn(b1, 1)
    assert [d.doc_id for (_, rows) in emitted for d in rows] == [101]

    # legacy flat (unbucketed) store: missing bucket column must fail
    # fast rather than silently forgetting history
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([("abc",)], "fp string").write.parquet(legacy)
    fn_legacy = incremental_dedup_batch(legacy, sink=lambda df, bid: None)
    with pytest.raises(Exception):
        fn_legacy(b1, 0)


def test_setsim_store_compaction_is_content_identical(spark, tmp_path):
    """r13: state-store compaction bounds partition-discovery cost (one
    dir per micro-batch otherwise grows without bound). Compacting to
    batch=-1 must be CONTENT-identical for every reader: a post-
    compaction batch emits exactly the pairs it would have over the
    uncompacted store, a replayed old batch id stays a no-op (the
    anti-join is content-based, and batch=-1 can never collide with a
    foreachBatch id), and the guard's corpus count is preserved."""
    import shutil

    from aardappel_spark.stateful import (
        compact_setsim_store,
        incremental_setsim_batch,
    )

    def batch(i):
        lo = 20 * i
        rows = [(lo, "a b c d")] if i == 2 else []
        rows += [
            (lo + j, f"w{lo + j}a w{lo + j}b w{lo + j}c w{lo + j}d")
            for j in range(1, 15)
        ]
        if i == 0:
            rows.append((19, "a b c e"))  # near-dup partner for batch 2
        return spark.createDataFrame(rows, "doc_id long, text string")

    store_a = str(tmp_path / "a")
    outs_a = []
    fn_a = incremental_setsim_batch(
        store_a, tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: outs_a.append((bid, {
            (r.id_a, r.id_b) for r in df.collect() if r.verified
        })),
    )
    fn_a(batch(0), 0)
    fn_a(batch(1), 1)

    store_b = str(tmp_path / "b")
    shutil.copytree(store_a, store_b)

    rep = compact_setsim_store(spark, store_a)
    for part in ("postings", "sets"):
        b, a = rep[part]
        assert a <= b and a > 0, rep
        dirs = [
            d for d in os.listdir(f"{store_a}/{part}")
            if d.startswith("batch=")
        ]
        assert dirs == ["batch=-1"], dirs
    # counts folded to one bid=-1 row with the same total
    counts = spark.read.parquet(f"{store_a}/counts").collect()
    assert len(counts) == 1 and counts[0].bid == -1
    assert counts[0].n == 29  # 15 + 14 committed docs

    # the same third batch over compacted vs uncompacted stores
    outs_b = []
    fn_b = incremental_setsim_batch(
        store_b, tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: outs_b.append((bid, {
            (r.id_a, r.id_b) for r in df.collect() if r.verified
        })),
    )
    fn_a(batch(2), 2)
    fn_b(batch(2), 2)
    assert outs_a[-1] == outs_b[-1]
    assert (19, 40) in outs_a[-1][1]  # cross-batch pair found post-compact

    # a replayed old batch id is still a no-op after compaction
    n = len(outs_a)
    fn_a(batch(0), 0)
    assert len(outs_a) == n
    assert not os.path.exists(f"{store_a}/postings/batch=0")


def test_dedup_store_compaction_and_crash_recovery(spark, tmp_path):
    """r13: fp-store compaction is content-identical (duplicates still
    drop afterwards), and a compaction crash in ANY window must never
    make the corpus read as empty — _recover_compaction rolls the
    mid-swap window back and drops stale artifacts."""
    import shutil

    from aardappel_spark.stateful import (
        _recover_compaction,
        compact_dedup_store,
        incremental_dedup_batch,
    )

    store = str(tmp_path / "fps")
    emitted = []
    fn = incremental_dedup_batch(
        store, sink=lambda df, bid: emitted.append([r.doc_id for r in df.collect()])
    )
    fn(spark.createDataFrame(
        [(i, f"text {i}") for i in range(24)], "doc_id long, text string"
    ), 0)
    fn(spark.createDataFrame(
        [(100, "text 3"), (101, "new one")], "doc_id long, text string"
    ), 1)
    assert emitted[-1] == [101]

    b, a = compact_dedup_store(spark, store)
    assert a <= b and a > 0
    assert [d for d in os.listdir(store) if d.startswith("batch=")] == [
        "batch=-1"
    ]
    # duplicates of both pre-compaction batches still drop
    fn(spark.createDataFrame(
        [(200, "text 7"), (201, "new one"), (202, "really new")],
        "doc_id long, text string",
    ), 2)
    assert emitted[-1] == [202]

    # crash window 1: store renamed away, .old present -> restore
    shutil.rmtree(f"{store}.old", ignore_errors=True)
    os.rename(store, f"{store}.old")
    _recover_compaction(store)
    assert os.path.exists(store) and not os.path.exists(f"{store}.old")
    # crash window 2: completed swap, backup left -> backup dropped
    shutil.copytree(store, f"{store}.old")
    os.makedirs(f"{store}.compacting/batch=-1", exist_ok=True)
    _recover_compaction(store)
    assert os.path.exists(store)
    assert not os.path.exists(f"{store}.old")
    assert not os.path.exists(f"{store}.compacting")
    # the recovered store still dedups (factory recovery path)
    fn2 = incremental_dedup_batch(
        store, sink=lambda df, bid: emitted.append([r.doc_id for r in df.collect()])
    )
    fn2(spark.createDataFrame(
        [(300, "text 5")], "doc_id long, text string"
    ), 0)
    assert emitted[-1] == []

    # compacting an empty/missing store is a no-op
    assert compact_dedup_store(spark, str(tmp_path / "nope")) == (0, 0)


def _stream_docs(seed, lo, n, history=()):
    """``n`` documents with ids from ``lo``: mostly fresh word soup, plus
    near-dups (one word changed) and verbatim re-sends of ``history``."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    docs, texts = [], list(history)
    for i in range(lo, lo + n):
        r = rng.random()
        if texts and r < 0.1:
            ws = rng.choice(texts).split()
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
            text = " ".join(ws)
        elif texts and r < 0.15:
            text = rng.choice(texts)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 20)))
        docs.append((i, text))
        texts.append(text)
    return docs


def test_steady_state_dedup_batch_job_bound(spark, tmp_path):
    """A steady-state micro-batch through both streaming dedup kernels
    runs at most 36 Spark jobs, the sinks' collects and the store
    writes' threads included. Neither kernel infers a store schema it
    already read, one pinned per-token count answers the batch size,
    the bucket list and the guard, and the store writes are sized by
    AQE. An upper bound, not an exact pin: AQE may plan fewer."""
    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    sc = spark.sparkContext
    setsim = incremental_setsim_batch(
        str(tmp_path / "setsim"), sink=lambda df, bid: df.collect()
    )
    exact = incremental_dedup_batch(
        str(tmp_path / "exact"), sink=lambda df, bid: df.collect()
    )
    texts = []
    for k in range(3):
        docs = _stream_docs(k, 100 * k, 60, texts)
        texts += [t for _, t in docs]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        group = f"steady-dedup-{tmp_path.name}-{k}"
        sc.setJobGroup(group, "steady-state dedup batch")
        try:
            setsim(df, k)
            exact(df, k)
        finally:
            sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 36, sorted(jobs)


def _bucket_dir_files(store):
    """{(batch dir, bucket dir): committed parquet files} of a store."""
    out = {}
    for dp, dirs, files in os.walk(store):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if os.path.basename(dp).startswith("bucket="):
            key = (os.path.basename(os.path.dirname(dp)), os.path.basename(dp))
            out[key] = [f for f in files if f.endswith(".parquet")]
    return out


def test_store_writes_one_file_per_bucket_dir(spark, tmp_path):
    """Every batch=<id>/bucket=<b> dir of the postings, sets and
    fingerprint stores holds exactly ONE parquet file, both for a batch
    that touches every bucket and for a one-document batch: the writes
    hash-partition on the bucket, so however AQE sizes the write, one
    task owns each bucket."""
    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    store = tmp_path / "store"
    setsim = incremental_setsim_batch(
        str(store / "setsim"), tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: None,
    )
    exact = incremental_dedup_batch(str(store / "fps"), sink=lambda df, bid: None)
    wide = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c u{i}d") for i in range(200)],
        "doc_id long, text string",
    )
    tiny = spark.createDataFrame([(1000, "one lone doc")], "doc_id long, text string")
    for bid, df in ((0, wide), (1, tiny)):
        setsim(df, bid)
        exact(df, bid)
    for sub in ("setsim/postings", "setsim/sets", "fps"):
        files = _bucket_dir_files(str(store / sub))
        per_batch = {b: sum(1 for (bb, _) in files if bb == b) for b, _ in files}
        assert per_batch["batch=0"] == 16, (sub, sorted(files))  # every bucket
        assert 1 <= per_batch["batch=1"] <= 3, (sub, sorted(files))
        assert all(len(fs) == 1 for fs in files.values()), (sub, files)


def test_setsim_guard_mass_exact_with_history(spark, tmp_path):
    """The guard's candidate mass on a batch WITH history equals the
    brute-force count of (new prefix posting, old-or-new prefix
    posting) pairs sharing a token — the candidate join's output bound,
    measured before that join runs."""
    import hashlib

    from aardappel_spark.stateful import incremental_setsim_batch

    tau_num, tau_den = 1, 2

    def prefix(text):
        toks = sorted(
            {t for t in text.split(" ") if t},
            key=lambda t: (hashlib.md5(t.encode()).hexdigest(), t),
        )
        n = len(toks)
        return toks[: n - (tau_num * n + tau_den - 1) // tau_den + 1]

    old = _stream_docs(1, 0, 40)
    new = _stream_docs(2, 100, 25, [t for _, t in old])
    store = str(tmp_path / "store")
    incremental_setsim_batch(
        store, tau_num=tau_num, tau_den=tau_den, shingle=1,
        sink=lambda df, bid: None,
    )(spark.createDataFrame(old, "doc_id long, text string"), 0)

    new_post = [t for _, text in new for t in prefix(text)]
    all_post = new_post + [t for _, text in old for t in prefix(text)]
    want = sum(a == b for a in new_post for b in all_post)
    batch_only = sum(a == b for a in new_post for b in new_post)
    assert want > batch_only  # the history term is really exercised

    guarded = incremental_setsim_batch(
        store, tau_num=tau_num, tau_den=tau_den, shingle=1,
        sink=lambda df, bid: None, guard_max_candidates=1,
    )
    with pytest.raises(ValueError, match="degenerate token space") as ei:
        guarded(spark.createDataFrame(new, "doc_id long, text string"), 1)
    got = int(re.search(r"bound (\d+) candidate pairs", str(ei.value)).group(1))
    assert got == want


def test_dedup_kernels_release_internal_pins(spark, tmp_path):
    """Each batch releases its internal localCheckpoint pins once its
    last store write is done: over 4 batches through both kernels the
    JVM's persistent-RDD count grows by at most the frames the sinks
    still hold (setsim's pairs, the exact kernel's survivors)."""
    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    held = []
    setsim = incremental_setsim_batch(
        str(tmp_path / "setsim"), tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: held.append(df),
    )
    exact = incremental_dedup_batch(
        str(tmp_path / "exact"), sink=lambda df, bid: held.append(df)
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    texts = []
    for k in range(4):
        docs = _stream_docs(10 + k, 100 * k, 30, texts)
        texts += [t for _, t in docs]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        setsim(df, k)
        exact(df, k)
    assert len(held) == 8
    assert persistent().size() - before <= len(held)
    # the sink-owned frames are still readable after the kernels return
    assert sum(h.count() for h in held) > 0
