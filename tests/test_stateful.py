"""The streaming dedup kernels (``incremental_dedup_batch``,
``incremental_setsim_batch``) and their bucketed stores: results across
micro-batches, restarts and replays, store layout and pruning, the
manifest commit and the store compactions."""

import os
import re

import pytest


def _published(spark, root, path, schema):
    """What a reader of the store rooted at ``root`` sees at ``path``:
    the delta dirs its newest manifest names."""
    from aardappel_spark.stateful import StoreLog, _read_store

    return _read_store(spark, path, StoreLog(root, []).latest()["deltas"], schema)


def _fail_once(monkeypatch, obj, name):
    """Make ``obj.name`` raise on its next call only (a crash there)."""
    real = getattr(obj, name)

    def crash(*a, **k):
        monkeypatch.setattr(obj, name, real)
        raise RuntimeError(f"crash in {name}")

    monkeypatch.setattr(obj, name, crash)


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


def test_fresh_checkpoint_restart_keeps_dedup_history(spark, tmp_path):
    """A fresh --checkpoint restarts Spark's batch ids at 0. Both
    kernels name their store deltas by the manifest's sequence, not the
    batch id, so run 2's batch 0 cannot overwrite run 1's batch 0: a
    later batch still drops doc 1's duplicate and pairs with doc 1,
    exactly as the same feed under batch ids 0, 1, 2 does."""
    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    t1 = "the early train to the coast leaves at six from the old station daily"
    t2 = "fresh bread and strong coffee make every cold winter morning better"
    t3 = "a small garden needs water light patience and a little luck"
    feed = [
        [(1, t1), (2, t2)],
        [(1, t1), (3, t3)],
        [(4, t1), (5, t1 + " again")],
    ]

    def run(store, runs):
        out = {}
        for ids in runs:  # one kernel instance per run
            setsim = incremental_setsim_batch(
                f"{store}/setsim",
                sink=lambda df, bid: out.__setitem__(("pairs", bid), sorted(
                    (r.id_a, r.id_b) for r in df.collect() if r.verified
                )),
            )
            exact = incremental_dedup_batch(
                f"{store}/exact",
                sink=lambda df, bid: out.__setitem__(
                    ("survivors", bid), sorted(r.doc_id for r in df.collect())
                ),
            )
            for bid, docs in ids:
                df = spark.createDataFrame(docs, "doc_id long, text string")
                setsim(df, bid)
                exact(df, bid)
        return out

    restarted = run(
        str(tmp_path / "restarted"),
        [[(0, feed[0])], [(0, feed[1]), (1, feed[2])]],
    )
    want = [(1, 4), (1, 5), (4, 5)]
    assert restarted[("survivors", 1)] == [5]
    assert restarted[("pairs", 1)] == want
    one_run = run(str(tmp_path / "one_run"), [list(enumerate(feed))])
    assert one_run[("survivors", 2)] == [5]
    assert one_run[("pairs", 2)] == want


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
    spark, tmp_path, monkeypatch
):
    """r10 ADVICE: a crash between the postings write and the sets
    write used to leave permanently duplicated postings rows (append
    mode). Now a crash anywhere before the manifest publish leaves the
    deltas written but unnamed: readers see the store as it was, and
    the replay rewrites the same dirs — postings count identical to a
    clean run — and re-emits the batch's pairs (at-least-once per
    batch_id, never lost)."""
    import aardappel_spark.stateful as st

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "pack my box with five dozen brown liquor jugs"),
        (4, "pack my box with five dozen brown liquor jugs"),
    ]
    batch = spark.createDataFrame(docs, "doc_id long, text string")

    def mk(store):
        emitted = []
        fn = st.incremental_setsim_batch(
            store, tau_num=1, tau_den=2, shingle=2,
            sink=lambda df, bid: emitted.extend(
                (bid, r.id_a, r.id_b) for r in df.filter("verified").collect()
            ),
        )
        return fn, emitted

    def postings(store):
        return _published(spark, store, f"{store}/postings", st.POSTINGS_SCHEMA)

    def sets(store):
        return _published(spark, store, f"{store}/sets", st.SETS_SCHEMA)

    # clean run: the ground truth store shape
    clean = str(tmp_path / "clean")
    fn, emitted = mk(clean)
    fn(batch, 0)
    clean_n = postings(clean).count()
    clean_pairs = sorted(emitted)
    assert clean_pairs  # the fixture plants near-dups

    # exact replay of a COMPLETED batch: nothing emitted, store intact
    fn(batch, 0)
    assert sorted(emitted) == clean_pairs
    assert postings(clean).count() == clean_n

    # crash window A: sink fired, both deltas written, no publish
    crashed = str(tmp_path / "crashed")
    fn2, emitted2 = mk(crashed)
    _fail_once(monkeypatch, st.StoreLog, "publish")
    with pytest.raises(RuntimeError, match="crash in publish"):
        fn2(batch, 0)
    assert os.listdir(f"{crashed}/postings") == ["v=0"]
    assert os.listdir(f"{crashed}/sets") == ["v=0"]
    assert postings(crashed).count() == 0 and sets(crashed).count() == 0
    fn2(batch, 0)  # replay
    assert postings(crashed).count() == clean_n
    assert sets(crashed).count() == 4
    # pairs re-emitted once per replayed batch_id — at-least-once,
    # dedupable downstream by batch_id; never silently lost
    assert sorted(emitted2) == sorted(clean_pairs * 2)

    # crash window B: sink fired, postings delta written, sets write
    # crashed; the crashed attempt's postings stay out of the replay's
    # candidate join (no pair against itself), and the replay converges
    crashed2 = str(tmp_path / "crashed2")
    fn3, emitted3 = mk(crashed2)
    real_write = st._write_buckets
    calls = []

    def write_postings_only(df, path):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("crash in the sets write")
        real_write(df, path)

    monkeypatch.setattr(st, "_write_buckets", write_postings_only)
    with pytest.raises(RuntimeError, match="sets write"):
        fn3(batch, 0)
    monkeypatch.setattr(st, "_write_buckets", real_write)
    assert postings(crashed2).count() == 0
    fn3(batch, 0)
    assert postings(crashed2).count() == clean_n
    assert sets(crashed2).count() == 4
    assert sorted(emitted3) == sorted(clean_pairs * 2)
    assert os.listdir(f"{crashed2}/postings") == ["v=0"]


def test_incremental_stores_propagate_real_read_errors(spark, tmp_path):
    """r10 ADVICE: a corrupt file in a delta the manifest names must
    propagate, not silently forget all history and re-admit
    duplicates."""
    import pytest as _pytest

    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    docs = spark.createDataFrame(
        [(1, "some document text here")], "doc_id long, text string"
    )

    def corrupt(d):
        for dp, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".parquet"):
                    with open(os.path.join(dp, f), "wb") as fh:
                        fh.write(b"not a parquet file at all, corrupt footer")

    store = str(tmp_path / "store")
    fn = incremental_setsim_batch(store, sink=lambda df, bid: None)
    fn(docs, 0)
    corrupt(f"{store}/sets/v=0")
    with _pytest.raises(Exception) as ei:
        fn(docs, 1)
    assert "AnalysisException" not in type(ei.value).__name__

    store2 = str(tmp_path / "fps")
    fn2 = incremental_dedup_batch(store2, sink=lambda df, bid: None)
    fn2(docs, 0)
    corrupt(f"{store2}/v=0")
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
    assert os.listdir(f"{store}/postings") == ["v=0"]

    # an EMPTY source batch is also a no-op, not an empty sink call
    empty = spark.createDataFrame([], "doc_id long, text string")
    fn(empty, 8)
    assert len(calls) == n_calls


def test_setsim_store_bucketed_and_candidate_scan_prunes(spark, tmp_path):
    """r11 verdict #4: both state stores' deltas are hive-partitioned
    v=<seq>/bucket=<b> (postings by xxhash64(tok), sets by
    xxhash64(id)), and the bucket-pruned read the candidate/anti-joins
    use actually scans ONLY matching bucket directories — asserted on
    input_file_name(), the runtime truth of what the scan read."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import (
        POSTINGS_SCHEMA,
        _read_store,
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
    bucket_dirs = sorted(os.listdir(f"{post}/v=0"))
    bucket_dirs = [d for d in bucket_dirs if d.startswith("bucket=")]
    assert len(bucket_dirs) >= 2, bucket_dirs  # diverse tokens spread out
    sets_dirs = [
        d for d in os.listdir(f"{store}/sets/v=0")
        if d.startswith("bucket=")
    ]
    assert len(sets_dirs) >= 2, sets_dirs

    schema = POSTINGS_SCHEMA
    want = int(bucket_dirs[0].split("=")[1])
    pruned = _read_store(spark, post, [0], schema, [want])
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
    assert _read_store(spark, post, [0], schema, []).count() == 0


def test_read_store_reads_only_named_deltas(spark, tmp_path):
    """r11 ADVICE (medium), on the manifest store: the reader reads
    exactly the delta dirs it is given, with the declared schema. No
    deltas is the empty store; an unnamed dir (a crashed attempt's
    write) is never read; a named dir that is missing must raise
    instead of silently forgetting history."""
    from aardappel_spark.stateful import FPS_SCHEMA, _read_store

    store = str(tmp_path / "fps")
    df = _read_store(spark, store, [], FPS_SCHEMA)
    assert df.count() == 0 and df.columns == ["fp", "bucket"]
    assert _read_store(spark, store, [], FPS_SCHEMA, [1]).count() == 0

    for v, fps in ((0, ["a", "b"]), (1, ["c"]), (2, ["unpublished"])):
        spark.createDataFrame(
            [(f, i % 2) for i, f in enumerate(fps)], FPS_SCHEMA
        ).write.partitionBy("bucket").parquet(f"{store}/v={v}")
    got = _read_store(spark, store, [0, 1], FPS_SCHEMA).select("fp", "bucket")
    assert sorted(got.collect()) == [("a", 0), ("b", 1), ("c", 0)]
    pruned = _read_store(spark, store, [0, 1], FPS_SCHEMA, [1]).select("fp")
    assert [r.fp for r in pruned.collect()] == ["b"]

    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        _read_store(spark, store, [0, 3], FPS_SCHEMA).count()


def test_setsim_batch_never_scans_full_history(spark, tmp_path, monkeypatch):
    """r12 verdict #1/#2: EVERY historical read the setsim batch
    performs is bucket-pruned — including the VERIFY join's sets read,
    which used to union the full store (token arrays) into every
    micro-batch — and the degenerate-regime guard takes the corpus
    size from the manifest instead of counting the full sets store.
    Pinned by recording every store read the batch kernel issues: zero
    non-pruned reads, and each read names the manifest's deltas."""
    from pyspark.sql import functions as F

    import aardappel_spark.stateful as st

    calls = []
    real_read = st._read_store

    def rec_read(spark_, path, deltas, schema, buckets=None):
        kind = "full" if buckets is None else "pruned"
        calls.append((kind, path, list(deltas), sorted(set(buckets or ()))))
        return real_read(spark_, path, deltas, schema, buckets)

    monkeypatch.setattr(st, "_read_store", rec_read)

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

    # every sets/postings read was bucket-pruned and read batch 0's
    # delta, the one the newest manifest named
    assert [c for c in calls if c[0] == "full"] == [], calls
    assert {tuple(c[2]) for c in calls} == {(0,)}, calls
    sets_reads = [bks for _, p, _, bks in calls if p == f"{store}/sets"]
    post_reads = [bks for _, p, _, bks in calls if p == f"{store}/postings"]
    # replay anti-join + verify join on sets, candidate join on postings
    assert len(sets_reads) == 2 and len(post_reads) == 1, calls

    # the verify read's bucket list is exactly the candidate pairs'
    # id buckets (ids 1 and 101 are the only candidates here)
    want = {
        r.b
        for r in spark.createDataFrame([(1,), (101,)], "id long")
        .select(F.pmod(F.xxhash64("id"), F.lit(16)).cast("int").alias("b"))
        .collect()
    }
    assert set(sets_reads[1]) == want, (sets_reads, want)

    # the manifest's corpus count is the sets store's row count, the
    # figure the old guard used to count
    m = st.StoreLog(store, []).latest()
    n_sets = real_read(spark, f"{store}/sets", m["deltas"], st.SETS_SCHEMA).count()
    assert m["deltas"] == [0, 1] and m["docs"] == 28 == n_sets


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


def test_dedup_fp_store_bucketed_prunes_and_replay_never_wipes(
    spark, tmp_path
):
    """r12 verdict #3: the exact-dedup fingerprint store uses the same
    v=<seq>/bucket=<b> layout (pmod(xxhash64(fp), 16)); the
    anti-join's pruned read scans ONLY matching bucket directories
    (input_file_name, the runtime truth), a replayed batch must not
    overwrite its committed fingerprints with an empty frame, and a
    legacy flat store is refused instead of being silently misread."""
    from pyspark.sql import functions as F

    from aardappel_spark.stateful import (
        FPS_SCHEMA,
        _read_store,
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
        d for d in os.listdir(f"{store}/v=0") if d.startswith("bucket=")
    )
    assert len(bucket_dirs) >= 2, bucket_dirs  # fps spread across buckets

    # pruned read really scans only the requested bucket's files
    want = int(bucket_dirs[0].split("=")[1])
    pruned = _read_store(spark, store, [0], FPS_SCHEMA, [want])
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
    # (its own v=0 rows), so the sink legitimately sees an empty
    # frame — but the store write must be SKIPPED, not an empty
    # delta or a rewrite of v=0's committed fingerprints
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(store) for f in fs
    )
    n_emits = len(emitted)
    fn(b0, 0)
    assert len(emitted) == n_emits + 1 and emitted[-1][1] == []
    assert sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(store) for f in fs
    ) == files_before

    # dedup across batches still holds on the bucketed store
    emitted.clear()
    b1 = spark.createDataFrame(
        [(100, "text number 3"), (101, "brand new text")],
        "doc_id long, text string",
    )
    fn(b1, 1)
    assert [d.doc_id for (_, rows) in emitted for d in rows] == [101]

    # legacy flat (unbucketed) store: refused before any read rather
    # than silently forgetting history
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([("abc",)], "fp string").write.parquet(legacy)
    with pytest.raises(RuntimeError, match="before the commit manifest"):
        incremental_dedup_batch(legacy, sink=lambda df, bid: None)


def test_setsim_store_compaction_is_content_identical(
    spark, tmp_path, monkeypatch
):
    """r13: state-store compaction bounds partition-discovery cost (one
    dir per micro-batch otherwise grows without bound). Compacting to
    one delta must be CONTENT-identical for every reader: a post-
    compaction batch emits exactly the pairs it would have over the
    uncompacted store, a replayed old batch id stays a no-op (the
    anti-join is content-based), and the guard's corpus count is
    preserved. A compaction that crashes after writing its delta but
    before the publish leaves readers on the previous manifest, and
    the next compaction converges."""
    import shutil

    import aardappel_spark.stateful as st

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
    fn_a = st.incremental_setsim_batch(
        store_a, tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: outs_a.append((bid, {
            (r.id_a, r.id_b) for r in df.collect() if r.verified
        })),
    )
    fn_a(batch(0), 0)
    fn_a(batch(1), 1)

    store_b = str(tmp_path / "b")
    shutil.copytree(store_a, store_b)

    def rows(part, schema):
        return sorted(
            _published(spark, store_a, f"{store_a}/{part}", schema)
            .select(*[c.split()[0] for c in schema.split(",")]).collect()
        )

    before = {
        "postings": rows("postings", st.POSTINGS_SCHEMA),
        "sets": rows("sets", st.SETS_SCHEMA),
    }
    _fail_once(monkeypatch, st.StoreLog, "publish")
    with pytest.raises(RuntimeError, match="crash in publish"):
        st.compact_setsim_store(spark, store_a)
    # the compacted delta is written but unnamed: readers still see
    # the two batch deltas
    assert os.path.isdir(f"{store_a}/postings/v=2")
    assert st.StoreLog(store_a, []).latest()["deltas"] == [0, 1]
    assert rows("postings", st.POSTINGS_SCHEMA) == before["postings"]

    rep = st.compact_setsim_store(spark, store_a)
    assert set(rep) == {"postings", "sets"}
    m = st.StoreLog(store_a, []).latest()
    assert m["deltas"] == [2] and m["docs"] == 29  # 15 + 14 committed docs
    for part, schema in (
        ("postings", st.POSTINGS_SCHEMA), ("sets", st.SETS_SCHEMA)
    ):
        b, a = rep[part]
        assert a <= b and a > 0, rep
        assert rows(part, schema) == before[part]
        buckets = os.listdir(f"{store_a}/{part}/v=2")
        assert all(
            len([f for f in os.listdir(f"{store_a}/{part}/v=2/{d}")
                 if f.endswith(".parquet")]) == 1
            for d in buckets if d.startswith("bucket=")
        )

    # the same third batch over compacted vs uncompacted stores
    outs_b = []
    fn_b = st.incremental_setsim_batch(
        store_b, tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: outs_b.append((bid, {
            (r.id_a, r.id_b) for r in df.collect() if r.verified
        })),
    )
    fn_a(batch(2), 2)
    fn_b(batch(2), 2)
    assert outs_a[-1] == outs_b[-1]
    assert (19, 40) in outs_a[-1][1]  # cross-batch pair found post-compact
    # the next publish retired the folded deltas
    assert sorted(os.listdir(f"{store_a}/postings")) == ["v=2", "v=3"]

    # a replayed old batch id is still a no-op after compaction
    n = len(outs_a)
    fn_a(batch(0), 0)
    assert len(outs_a) == n
    assert st.StoreLog(store_a, []).latest()["deltas"] == [2, 3]


def test_dedup_store_compaction_and_crash_recovery(spark, tmp_path, monkeypatch):
    """r13: fp-store compaction is content-identical (duplicates still
    drop afterwards), and a compaction that crashes after writing its
    delta but before the publish never changes what readers see: the
    corpus still dedups, and the next compaction converges."""
    import aardappel_spark.stateful as st

    store = str(tmp_path / "fps")
    emitted = []
    fn = st.incremental_dedup_batch(
        store, sink=lambda df, bid: emitted.append([r.doc_id for r in df.collect()])
    )
    fn(spark.createDataFrame(
        [(i, f"text {i}") for i in range(24)], "doc_id long, text string"
    ), 0)
    fn(spark.createDataFrame(
        [(100, "text 3"), (101, "new one")], "doc_id long, text string"
    ), 1)
    assert emitted[-1] == [101]

    b, a = st.compact_dedup_store(spark, store)
    assert a <= b and a > 0
    assert st.StoreLog(store, []).latest()["deltas"] == [2]
    # duplicates of both pre-compaction batches still drop
    fn(spark.createDataFrame(
        [(200, "text 7"), (201, "new one"), (202, "really new")],
        "doc_id long, text string",
    ), 2)
    assert emitted[-1] == [202]
    assert sorted(d for d in os.listdir(store) if d.startswith("v=")) == [
        "v=2", "v=3"
    ]

    # a compaction crash after its delta is written: unpublished, so
    # readers keep the previous manifest's deltas
    _fail_once(monkeypatch, st.StoreLog, "publish")
    with pytest.raises(RuntimeError, match="crash in publish"):
        st.compact_dedup_store(spark, store)
    assert os.path.isdir(f"{store}/v=4")
    assert st.StoreLog(store, []).latest()["deltas"] == [2, 3]
    # a new kernel instance over the store still dedups (both deltas)
    fn2 = st.incremental_dedup_batch(
        store, sink=lambda df, bid: emitted.append([r.doc_id for r in df.collect()])
    )
    fn2(spark.createDataFrame(
        [(300, "text 5"), (301, "really new")], "doc_id long, text string"
    ), 0)
    assert emitted[-1] == []
    # the next compaction converges on one delta holding every fp
    st.compact_dedup_store(spark, store)
    m = st.StoreLog(store, []).latest()
    assert len(m["deltas"]) == 1
    fps = _published(spark, store, store, st.FPS_SCHEMA)
    assert fps.count() == fps.select("fp").distinct().count() == 26

    # compacting an empty/missing store is a no-op
    assert st.compact_dedup_store(spark, str(tmp_path / "nope")) == (0, 0)


def test_store_from_before_the_manifest_is_refused(spark, tmp_path):
    """A store dir holding data but no _manifest/ (the per-batch-dir
    layout, with its counts sidecar) is refused by both kernel
    factories and both compactions, naming the dir; an empty
    pre-created dir is a new store."""
    import aardappel_spark.stateful as st

    setsim = tmp_path / "setsim"
    (setsim / "counts" / "batch=0").mkdir(parents=True)
    (setsim / "postings" / "batch=0").mkdir(parents=True)
    exact = tmp_path / "fps" / "batch=0" / "bucket=1"
    exact.mkdir(parents=True)
    for call in (
        lambda: st.incremental_setsim_batch(str(setsim)),
        lambda: st.compact_setsim_store(spark, str(setsim)),
    ):
        with pytest.raises(RuntimeError, match=re.escape(str(setsim)) + ".*counts"):
            call()
    fps = str(tmp_path / "fps")
    for call in (
        lambda: st.incremental_dedup_batch(fps),
        lambda: st.compact_dedup_store(spark, fps),
    ):
        with pytest.raises(RuntimeError, match=re.escape(fps) + ".*batch=0"):
            call()
    assert not os.path.exists(f"{fps}/_manifest")
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    st.incremental_dedup_batch(str(fresh))
    assert os.listdir(fresh) == ["_manifest"]


def test_one_manifest_is_the_only_store_commit_mechanism(spark, tmp_path):
    """Both dedup stores commit through one manifest log: after a few
    batches and a compaction each store has _manifest/, none of the
    older mechanisms' dirs (counts/, .old, .compacting) exist, and every
    data dir is named by a retained manifest."""
    import json

    import aardappel_spark.stateful as st

    root = tmp_path / "store"
    setsim = st.incremental_setsim_batch(
        str(root / "setsim"), tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: None,
    )
    exact = st.incremental_dedup_batch(str(root / "exact"), sink=lambda df, bid: None)
    texts = []
    for k in range(3):
        docs = _stream_docs(20 + k, 100 * k, 20, texts)
        texts += [t for _, t in docs]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        setsim(df, k)
        exact(df, k)
        if k == 1:
            st.compact_setsim_store(spark, str(root / "setsim"))
            st.compact_dedup_store(spark, str(root / "exact"))

    assert sorted(os.listdir(root)) == ["exact", "setsim"]
    assert sorted(os.listdir(root / "setsim")) == ["_manifest", "postings", "sets"]
    for store, subs in (("setsim", ("postings", "sets")), ("exact", ("",))):
        mdir = root / store / "_manifest"
        named = set()
        for name in os.listdir(mdir):
            with open(mdir / name) as f:
                named.update(f"v={d}" for d in json.load(f)["deltas"])
        assert len(os.listdir(mdir)) == 2  # the newest and the one before
        for sub in subs:
            data = {
                d for d in os.listdir(root / store / sub) if d != "_manifest"
            }
            assert data and data <= named, (store, sub, data, named)


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
    runs at most 35 Spark jobs, the sinks' collects included. Neither
    kernel infers a store schema (both are declared), the corpus count
    rides in the manifest, one pinned per-token count answers the batch
    size, the bucket list and the guard, and the store writes are sized
    by AQE. An upper bound, not an exact pin: AQE may plan fewer."""
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
    assert 0 < len(jobs) <= 35, sorted(jobs)


def _bucket_dir_files(store):
    """{(delta dir, bucket dir): committed parquet files} of a store."""
    out = {}
    for dp, dirs, files in os.walk(store):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if os.path.basename(dp).startswith("bucket="):
            key = (os.path.basename(os.path.dirname(dp)), os.path.basename(dp))
            out[key] = [f for f in files if f.endswith(".parquet")]
    return out


def test_store_writes_one_file_per_bucket_dir(spark, tmp_path):
    """Every v=<seq>/bucket=<b> dir of the postings, sets and
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
        assert per_batch["v=0"] == 16, (sub, sorted(files))  # every bucket
        assert 1 <= per_batch["v=1"] <= 3, (sub, sorted(files))
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
    """Each batch releases every localCheckpoint pin it made, the frame
    it handed its sink included, once the batch ends: after every batch
    through either kernel no persistent RDD is left that was not there
    before the batch (the ContextCleaner may still drop older ones). A
    sink consumes its frame inside the call."""
    from aardappel_spark.stateful import (
        incremental_dedup_batch,
        incremental_setsim_batch,
    )

    emitted = []
    setsim = incremental_setsim_batch(
        str(tmp_path / "setsim"), tau_num=1, tau_den=2, shingle=1,
        sink=lambda df, bid: emitted.append(df.count()),
    )
    exact = incremental_dedup_batch(
        str(tmp_path / "exact"), sink=lambda df, bid: emitted.append(df.count())
    )
    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    texts = []
    for k in range(4):
        docs = _stream_docs(10 + k, 100 * k, 30, texts)
        texts += [t for _, t in docs]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for kernel in (setsim, exact):
            before = pinned()
            kernel(df, k)
            assert pinned() - before == set()
    assert len(emitted) == 8 and sum(emitted) > 0
