"""Small-files churn probe for VersionedTable.compact_files().

The compaction job's operational claim is measured, not asserted:
drive N small upsert commits through the SAME merge-then-commit path
the streaming engine uses (read touched buckets, merge the batch,
commit post-state, publish a manifest naming it), record the current
version's data-file count as it evolves, then run compact_files() and
measure the before/after file count and full-scan wall clock (read
amplification).

Two claims under test:
1. File count under churn is BOUNDED (<= n_buckets * write tasks), not
   linear in commits — each commit REWRITES its touched buckets, so
   files don't accumulate per commit; they fragment up to the task
   count. The probe records the count at checkpoints to show the
   plateau.
2. compact_files() collapses the plateau to one file per bucket and
   the full-table scan gets measurably faster (footer/open overhead
   dominates small-file scans).

Usage: python tools/churn_probe.py [n_commits] -> CHURN_PROBE.json
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from aardappel_spark.casting import TableMeta
    from aardappel_spark.session import get_spark
    from aardappel_spark.streaming import Manifest, VersionedTable

    spark = get_spark("churn-probe")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="churn_probe_")
    meta = TableMeta(
        "churn",
        primary_key=["k"],
        columns={"k": "Int64", "v": "Optional<Utf8>"},
    )
    manifest = Manifest(os.path.join(root, "work"))
    vt = VersionedTable(
        spark, os.path.join(root, "t"), meta, "k bigint, v string", manifest
    )
    rng = random.Random(7)

    checkpoints = sorted({1, 10, 25, 50, n_commits})
    growth = {}
    t_commits0 = time.perf_counter()
    for i in range(1, n_commits + 1):
        # a realistic micro-batch: a handful of upserts on random keys
        rows = [(rng.randint(0, 4999), f"v{i}_{j}") for j in range(20)]
        batch = spark.createDataFrame(rows, "k bigint, v string")
        touched = [
            r[0]
            for r in batch.select(vt.bucket_of().alias("b")).distinct().collect()
        ]
        cur = vt.read_buckets(touched)
        # last-wins merge: batch rows shadow current rows with the same key
        merged = batch.unionByName(cur.join(batch.select("k"), "k", "left_anti"))
        vt.commit(merged, touched=touched)
        manifest.write()
        if i in checkpoints:
            growth[str(i)] = sum(vt.n_data_files().values())
    t_commits = round(time.perf_counter() - t_commits0, 1)

    files_before = vt.n_data_files()
    n_before = sum(files_before.values())
    n_rows = vt.current().count()

    def scan_time(passes=3):
        best = float("inf")
        for _ in range(passes):
            t0 = time.perf_counter()
            vt.current().agg(F.count("*"), F.max("v")).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    t_scan_before = scan_time()
    t0 = time.perf_counter()
    new_v = vt.compact_files()
    manifest.write()
    t_compact = round(time.perf_counter() - t0, 2)
    files_after = vt.n_data_files()
    n_after = sum(files_after.values())
    n_rows_after = vt.current().count()
    t_scan_after = scan_time()

    assert n_rows == n_rows_after, "compaction must not change row count"

    out = {
        "n_commits": n_commits,
        "rows_per_commit": 20,
        "n_buckets": vt.n_buckets,
        "commit_wall_sec": t_commits,
        "file_count_at_commit": growth,
        "n_rows": n_rows,
        "files_before_compact": n_before,
        "files_after_compact": n_after,
        "max_files_per_bucket_before": max(files_before.values()),
        "compact_version": new_v,
        "compact_sec": t_compact,
        "scan_sec_before": t_scan_before,
        "scan_sec_after": t_scan_after,
        "scan_speedup": round(t_scan_before / max(t_scan_after, 1e-9), 2),
        "note": (
            "file count plateaus under churn (bounded by touched-bucket "
            "rewrites, not commit count); compact_files collapses to one "
            "file per bucket"
        ),
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CHURN_PROBE.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
