"""Generate QUERIES.md: one row per registry query with its first-
sentence summary (from the query function's docstring) and oracle
status — the line-by-line inventory a reviewer checks against
SURVEY.md §2 and the pipeline-operator list.

Usage: python tools/gen_query_index.py > QUERIES.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aardappel_spark import registry


# thin registry wrappers that delegate to ops functions (whose
# docstrings carry the detail) get their one-liner here
SUMMARIES = {
    "cdc_parse_stats": "Wire-JSON parse census: message kinds, ts arity, newImage preference, parse errors (S2-S4).",
    "cdc_stale_filter": "Stale change/heartbeat filtering against the persisted checkpoint position (F1/F2).",
    "cdc_quorum": "Per-partition heartbeat maxima and the completeness-gated quorum cut (A1-A5, F5).",
    "cdc_compact": "Per-key LWW compaction: one survivor mutation per primary key with erase cancellation (C3, O1).",
    "cdc_compact_merge": "Column-SET merge across updates of the same key (absent != null, erase resets; C4).",
    "cdc_out_of_order": "Events below the already-committed position, flagged for skip/apply/stop routing (F4, W3).",
    "dedup_exact": "Exact dedup groups: one representative per distinct text, keyed on md5 so shuffles carry 32-byte keys.",
    "dedup_minhash": "4-hash MinHash signature per document over word 3-gram shingles.",
    "dedup_minhash_pairs": "LSH banding over the MinHash signatures: candidate near-dup pairs via band equi-joins (no cross join).",
    "text_token_stats": "Whitespace token counts and length stats per document.",
    "text_quality": "Length/punctuation/stopword quality heuristics per group.",
    "doc_fingerprint": "Order-insensitive bag fingerprint (xor/sum of token hashes) per document.",
    "ann_cosine": "Exact brute-force cosine top-10 neighbors of query vector 0 (broadcast query, TakeOrdered).",
    "ann_lsh": "Hyperplane-LSH bucketed ANN: md5-derived deterministic planes, bucket probe, exact re-rank.",
    "ann_ivf": "IVF ANN: deterministic spherical k-means index, top-6 cluster probe, exact cosine re-rank.",
    "text_bpe_tokens": "BPE-ish regex tokenization census: alpha/numeric/punctuation token counts.",
    "doc_rolling_fp": "Rolling (polynomial) hash fingerprint over the token stream per document.",
    "dedup_ngram_jaccard": "Character-3-gram Jaccard verification on the LSH candidate pairs.",
    "doc_quality": "Keep/drop verdict per document from token-count, punctuation and stopword thresholds.",
    "emb_neardup": "Exact embedding near-dup pairs (cosine >= 0.45) via block-partitioned BLAS matmul.",
    "emb_neardup_lsh": "Embedding near-dup candidates from signature equi-joins, with exact cosine re-rank.",
    "dedup_simhash": "16-bit SimHash per document (token-vote aggregation).",
    "dedup_simhash64": "60-bit wide SimHash per document, hashed per distinct (doc, token).",
    "dedup_simhash_pairs": "SimHash near-dup pairs via pigeonhole Hamming banding (<= 8 bits), no cross join.",
    "dedup_jaccard": "Exact word-set Jaccard verification on the LSH candidate pairs.",
    "text_langid": "N-gram-profile language identification per document.",
    "text_lm_score": "Unigram language-model negative log-likelihood per document (corpus-trained).",
    "events_sessions": "Sessionization with a 30-minute inactivity gap: session bounds, event counts, value sums.",
    "events_tumbling": "Daily tumbling-window aggregation per event type.",
    "part_topk_per_brand": "Top-3 parts per brand by retail price (dense window rank).",
    "orders_rollup": "ROLLUP aggregation over (order priority, order status) with subtotals and grand total.",
    "tpch_q1": "TPC-H Q1 pricing summary report: per (returnflag, linestatus) aggregates over lineitem.",
    "tpch_q3": "TPC-H Q3 shipping priority: top unshipped orders by revenue (broadcast dims).",
    "tpch_q5": "TPC-H Q5 local supplier volume per nation (broadcast dimension join chain).",
    "tpch_q6": "TPC-H Q6 forecast revenue change: single-scan filtered aggregate with pushed-down predicates.",
}


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(see implementation)"
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    # first sentence, tolerating abbreviations-free prose
    m = re.match(r"(.+?\.)(?:\s|$)", text)
    s = m.group(1) if m else text
    return s.replace("|", "\\|")


def main() -> None:
    print("# Query inventory")
    print()
    print(
        f"{len(registry.QUERIES)} queries, every one with a DuckDB oracle"
        " (`oracle_sql()`); generated by tools/gen_query_index.py from"
        " the registry docstrings — regenerate after adding queries."
    )
    print()
    print("| # | Query | What it computes |")
    print("|---|---|---|")
    missing = []
    # by name: registry.QUERIES follows the driver's gate order, which
    # moves with every committed artifact
    for i, (name, fn) in enumerate(sorted(registry.QUERIES.items()), 1):
        assert name in registry.ORACLES, name
        summary = (
            first_sentence(fn.__doc__) if fn.__doc__ else SUMMARIES.get(name)
        )
        if summary is None:
            missing.append(name)
            summary = "(see implementation)"
        print(f"| {i} | `{name}` | {summary} |")
    if missing:
        print(
            f"\n<!-- {len(missing)} queries lack both a docstring and a "
            f"SUMMARIES entry: {', '.join(missing)} -->"
        )


if __name__ == "__main__":
    main()
