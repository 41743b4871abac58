"""Long-replay probe for the streaming dedup kernels.

Replays the perfbench ``dedup_stream`` batch shape (500-document JSONL
micro-batches of the seeded sf0.1-shaped corpus, each through the
set-similarity kernel, then the exact kernel, over fresh stores) for N
batches, and records after every batch:

* ``persistent_rdds``: the JVM's persistent-RDD count. A kernel that
  leaves a ``localCheckpoint`` pin behind grows it with the batch count
  (its blocks stay in the block manager for the session's life).
* ``jobs``: the Spark jobs each kernel ran for the batch.
* ``store_files``: the parquet files under each store, counted on
  disk (retained but unnamed deltas included).
* ``live_deltas``: the deltas each store's newest manifest names. A
  batch adds one; once they reach the session's
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` the next
  write folds them into its own delta (``StoreLog.commit``).
* ``folded``: whether either store folded in this batch.

The claim under test is that block-manager state and jobs per batch
stay flat over a long replay. ``summary`` reports non-fold batches
(first and last ten, and the job counts of every batch after the
first) and fold batches apart, with each fold's extra wall time over
the non-fold median amortized over all batches.

Usage: python tools/dedup_replay_probe.py [n_batches] [seed]
       -> DEDUP_REPLAY.json
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _store_files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )


def _live_deltas(path: str) -> int:
    from aardappel_spark.stateful import StoreLog

    return len(StoreLog(path, {}).latest()["deltas"])


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1501
    from aardappel_spark.session import get_spark
    from perfbench import gen
    from perfbench.dedup import (
        DOC_SCHEMA,
        DOCS_PER_BATCH,
        NEAR_DUP_SHARE,
        REDELIVER_SHARE,
        Replay,
        write_batches,
    )

    spark = get_spark("dedup-replay-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    root = tempfile.mkdtemp(prefix="dedup_replay_")
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        docs = gen.documents(seed, DOCS_PER_BATCH * n_batches, NEAR_DUP_SHARE)
        paths = write_batches(
            src, gen.replay_batches(seed, docs, n_batches, REDELIVER_SHARE)
        )

        def in_group(name, kernel):
            def run(df, batch_id):
                group = f"probe-{name}-{batch_id}"
                sc.setJobGroup(group, group)
                kernel(df, batch_id)
                rows[-1][f"{name}_jobs"] = len(tracker.getJobIdsForGroup(group))

            return run

        store = os.path.join(root, "store")
        replay = Replay(store, time.process_time, in_group)
        rows: list[dict] = []
        for b, path in enumerate(paths):
            rows.append({"batch": b})
            t0 = time.perf_counter()
            replay.run(spark, [path], b)
            row = rows[-1]
            row.update(
                batch_s=round(time.perf_counter() - t0, 3),
                persistent_rdds=sc._jsc.getPersistentRDDs().size(),
            )
            for name in ("setsim", "exact"):
                row[f"{name}_store_files"] = _store_files(os.path.join(store, name))
                row[f"{name}_live_deltas"] = _live_deltas(os.path.join(store, name))
            row["folded"] = b > 0 and any(
                row[f"{n}_live_deltas"] < rows[-2][f"{n}_live_deltas"]
                for n in ("setsim", "exact")
            )
            print(json.dumps(rows[-1]), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)

    def window(rs):
        return {
            k: statistics.median(r[k] for r in rs)
            for k in ("persistent_rdds", "setsim_jobs", "exact_jobs", "batch_s")
        }

    plain = [r for r in rows if not r["folded"]]
    folds = [r for r in rows if r["folded"]]
    k = min(10, len(plain))
    plain_s = statistics.median(r["batch_s"] for r in plain)
    jobs = collections.Counter(
        f"{r['setsim_jobs']}+{r['exact_jobs']}" for r in plain[1:]
    )
    out = {
        "n_batches": n_batches,
        "seed": seed,
        "docs_per_batch": DOCS_PER_BATCH,
        "schema": DOC_SCHEMA,
        "summary": {
            "first": window(plain[:k]),
            "last": window(plain[-k:]),
            "non_fold_jobs": dict(jobs),
            "folds": {
                "batches": [r["batch"] for r in folds],
                "median": window(folds) if folds else None,
                "extra_s_per_batch": round(
                    sum(r["batch_s"] - plain_s for r in folds) / n_batches, 3
                ),
            },
            "max_live_deltas": max(
                max(r["setsim_live_deltas"], r["exact_live_deltas"]) for r in rows
            ),
            "max_store_files": {
                n: max(r[f"{n}_store_files"] for r in rows)
                for n in ("setsim", "exact")
            },
            "max_persistent_rdds": max(r["persistent_rdds"] for r in rows),
            "survivors": len(replay.survivors),
            "verified_pairs": len(replay.pairs),
        },
        "batches": rows,
    }
    with open("DEDUP_REPLAY.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["summary"]))


if __name__ == "__main__":
    main()
