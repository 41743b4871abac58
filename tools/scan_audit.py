"""Duplicate-scan audit: flag queries whose FINAL physical plan reads
the same parquet table many times (outside InMemoryRelation lineage,
which prints its build subtree per reference but executes once).

A frame consumed by N downstream operators without a persist/checkpoint
barrier re-derives its whole subtree N times — invisible at sf0.001,
an N-times-the-corpus cost at 100 TB. This audit found real defects
when introduced (round 5): corpus_js_drift re-exploded the corpus 8x,
events_psi_drift scanned events 8x, retrieval_bm25 tokenized 4x,
events_funnel re-derived earlier stages per consumer. Fixed with
checkpoint barriers; this tool keeps the next one from shipping.

Usage: python tools/scan_audit.py [sf_dir] [threshold]

Exit code 1 if any query outside the documented allowlist exceeds the
threshold. The allowlist entries are DELIBERATE multi-pass designs:
composition queries whose every input is itself a separate corpus
signal (doc_score, corpus_funnel), genuine self-joins (tpch_q21), and
shared-cache consumers whose InMemoryRelation lineage text inflates
the count when the cache is not yet materialized.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# deliberate multi-pass or cached-input queries (see module docstring)
ALLOW = {
    # compositions of independent per-corpus signals (one pass each)
    "doc_score", "corpus_funnel", "corpus_health",
    # r13 profiling rewrite: one two-level aggregate per column, each
    # scan pruned to EXACTLY that one column (plan-verified: 6 scans,
    # 6 distinct single-column ReadSchemas). Summed bytes read ~= one
    # full-width scan, and the rewrite removed the 13x Expand exchange
    # that shipped every row through the shuffle (guide §2.3)
    "events_profile",
    # genuine self-joins on the fact table (SMJ partitioning reused)
    "tpch_q21",
    # consumers of the shared persisted frames: before materialization
    # the cache lineage prints per reference (executes once)
    "dedup_containment", "dedup_est_error", "dedup_pair_degree",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_jaccard",
    "dedup_edit_distance", "dedup_cross_source", "dedup_method_agreement",
    "dedup_simhash_pairs", "doc_simhash_hamming_hist", "decontam_bloom",
    "split_leakage",
    # sig12 family: both censuses read the SAME persisted frames
    # (the registry's _sig12_cached signature + _sig12_pairs_cached
    # aligned-2-band universe). Pre-materialization the
    # cache lineage prints per reference — 12 of the 16 `documents`
    # hits are the 6 band self-joins' (2x sig) build subtrees, 2 are
    # the signature consumers, 2 the token-array legs; at runtime the
    # persisted frames execute once and the real scan count is 2.
    "dedup_lsh_band_sweep", "dedup_minhash_bbit",
    "corpus_contam_overlap", "corpus_signal_corr", "ann_lsh_banded",
    "ann_recall_eval", "ann_recall_banded", "ann_recall_ivf",
    "ann_recall_sq8", "ann_recall_pq", "ann_recall_ivfpq",
    # 4 deliberate truncation tiers + the full-width control, each an
    # independent brute-force scan of the (small) embeddings table —
    # the same eval shape as the ann_recall_* family above
    "ann_mrl_recall",
    "emb_knn_graph", "emb_knn_classify",
    "retrieval_hybrid_rrf", "events_retention",
    # persists-and-materializes its basket frame inside the query (the
    # n_orders count() is the materializing action); the cache lineage
    # prints per consumer but the lineitem join executes once
    "basket_pairs",
}


def audit(spark, sf_dir: str, threshold: int = 4) -> list[str]:
    """Build every registry query's physical plan and return the names
    whose worst per-table FileScan count meets the threshold without an
    ALLOW adjudication. Importable so the pytest gate
    (tests/test_plan_shapes.py::test_scan_audit_clean) runs the SAME
    audit the CLI does — the r9 rot (two unadjudicated FLAGs shipping
    while NOTES claimed 'scan_audit clean') can't recur silently."""
    from aardappel_spark import registry

    bad = []
    for name, fn in registry.QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - environmental
            print(f"ERR  {name}: {e}")
            continue
        scans = Counter(
            re.findall(r"FileScan parquet \[[^\]]*\][^\n]*?(\w+)\.parquet", plan)
        )
        worst = max(scans.values()) if scans else 0
        if worst >= threshold:
            status = "allow" if name in ALLOW else "FLAG"
            print(f"{status} {name}: {dict(scans)}")
            if name not in ALLOW:
                bad.append(name)
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from aardappel_spark.session import get_spark

    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    bad = audit(spark, sf_dir, threshold)
    if bad:
        print(f"\n{len(bad)} queries exceed the scan threshold: {bad}")
        return 1
    print("\nscan audit clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
