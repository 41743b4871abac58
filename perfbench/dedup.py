"""``dedup_stream``: a seeded document stream replayed micro-batch by
micro-batch through both streaming dedup kernels of
``aardappel_spark.stateful``, over fresh stores.

Each batch is a JSONL file read back as a DataFrame, the shape a file
source hands ``foreachBatch``; the same frame goes to the set-similarity
kernel, then to the exact kernel. The first ``HISTORY_BATCHES`` batches
run before the timed window, through the same stores: they are the
warm-up and leave history in the stores. Closed loop: every timed
document is due when the window opens, and its lag ends when its batch
has passed both kernels.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from . import gen, model

DOCS_PER_BATCH = 500  # the sf0.1 corpus's 5,000 documents in 10 batches
HISTORY_BATCHES = 2  # untimed: warm-up, and history in the stores
SECONDS_PER_BATCH = 6  # one timed batch per 6 s requested
NEAR_DUP_SHARE = 0.05  # as in the sf0.1 corpus
REDELIVER_SHARE = 0.05  # earlier texts re-emitted under fresh ids
DOC_SCHEMA = "doc_id long, text string"


def write_batches(src: str, batches) -> list[str]:
    paths = []
    for b, batch in enumerate(batches):
        path = os.path.join(src, f"batch-{b:03d}.jsonl")
        with open(path, "w") as f:
            for doc_id, text in batch:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        paths.append(path)
    return paths


class Replay:
    """Both kernels over one store directory; collects what they emit."""

    def __init__(self, store: str, cpu, wrap=None):
        from aardappel_spark.stateful import incremental_dedup_batch, incremental_setsim_batch

        self.cpu = cpu
        self.pairs: set[tuple[int, int]] = set()
        self.candidates: dict[int, int] = {}  # batch id -> candidate pairs
        self.verified: dict[int, int] = {}  # batch id -> verified pairs
        self.survivors: set[int] = set()
        setsim = incremental_setsim_batch(os.path.join(store, "setsim"), sink=self._pairs)
        exact = incremental_dedup_batch(os.path.join(store, "exact"), sink=self._survivors)
        self.setsim = wrap("setsim", setsim) if wrap else setsim
        self.exact = wrap("exact", exact) if wrap else exact
        self.times: list[tuple[float, float, float]] = []  # start, setsim end, end
        self.cpu_s: list[tuple[float, float]] = []  # CPU seconds: setsim, exact

    def _pairs(self, df, batch_id):
        rows = df.collect()
        verified = {(r.id_a, r.id_b) for r in rows if r.verified}
        self.candidates[batch_id] = len(rows)
        self.verified[batch_id] = len(verified)
        self.pairs.update(verified)

    def _survivors(self, df, batch_id):
        self.survivors.update(r.doc_id for r in df.select("doc_id").collect())

    def run(self, spark, paths, first_id: int = 0) -> None:
        for b, path in enumerate(paths, first_id):
            df = spark.read.schema(DOC_SCHEMA).json(path)
            t0, c0 = time.perf_counter(), self.cpu()
            self.setsim(df, b)
            t1, c1 = time.perf_counter(), self.cpu()
            self.exact(df, b)
            self.times.append((t0, t1, time.perf_counter()))
            self.cpu_s.append((c1 - c0, self.cpu() - c1))


def reference_pairs(spark, batches) -> set[tuple[int, int]]:
    """Verified pairs of the batch kernel over the union corpus, at the
    streaming kernel's defaults (tau 4/5, 4-word shingles)."""
    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    union = spark.createDataFrame([d for b in batches for d in b], DOC_SCHEMA)
    return {
        (r.id_a, r.id_b)
        for r in setsim_prefix_pairs(union, tau_num=4, tau_den=5, shingle=4)
        .filter("verified")
        .select("id_a", "id_b")
        .collect()
    }


def run_dedup_stream(ctx) -> dict:
    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    src = os.path.join(work, "src")
    os.makedirs(src)
    n_timed = max(3, round(ctx.seconds / SECONDS_PER_BATCH))
    n_batches = HISTORY_BATCHES + n_timed
    docs = gen.documents(seed, DOCS_PER_BATCH * n_batches, NEAR_DUP_SHARE)
    batches = gen.replay_batches(seed, docs, n_batches, REDELIVER_SHARE)
    paths = write_batches(src, batches)
    ctx.phase("render")
    replay = Replay(os.path.join(work, "store"), ctx.cpu, ctx.wrap_kernel)
    replay.run(spark, paths[:HISTORY_BATCHES])
    ctx.setup_done()

    replay.times.clear()
    replay.cpu_s.clear()
    t0 = time.perf_counter()
    replay.run(spark, paths[HISTORY_BATCHES:], HISTORY_BATCHES)
    ctx.window_done()

    timed = batches[HISTORY_BATCHES:]
    lag = [end - t0 for batch, (_, _, end) in zip(timed, replay.times) for _ in batch]
    replay_s = replay.times[-1][2] - t0
    want_pairs = reference_pairs(spark, batches)
    want_survivors = model.exact_survivors(batches)
    failed = len(want_pairs ^ replay.pairs) + len(want_survivors ^ replay.survivors)
    if ctx.tracer:
        ctx.tracer.dedup_counts(replay, range(HISTORY_BATCHES, n_batches))
    return {
        "attempted": len(lag),
        "failed": failed,
        "correct": failed == 0,
        "metrics": {
            "lag_p50_s": (model.percentile(lag, 50), "s"),
            "lag_p90_s": (model.percentile(lag, 90), "s"),
            "batch_p50_s": (statistics.median(e - s for s, _, e in replay.times), "s"),
            "batch_cpu_s": (statistics.fmean(a + b for a, b in replay.cpu_s), "s"),
        },
        "info": {
            "drain_eps": len(lag) / replay_s,
            "docs": len(lag),
            "history_docs": sum(len(b) for b in batches[:HISTORY_BATCHES]),
            "batches": len(timed),
            "replay_s": replay_s,
            "cpu_s": [round(a + b, 3) for a, b in replay.cpu_s],
            "setsim_batch_p50_s": statistics.median(m - s for s, m, _ in replay.times),
            "exact_batch_p50_s": statistics.median(e - m for _, m, e in replay.times),
            "verified_pairs": len(replay.pairs),
            "survivors": len(replay.survivors),
            "pair_mismatches": len(want_pairs ^ replay.pairs),
            "survivor_mismatches": len(want_survivors ^ replay.survivors),
        },
    }
