"""Shape of a ``documents`` corpus next to the generator's, so
``gen.documents`` can be checked against the table it stands for.

    python3 perfbench/corpus_stats.py <sf0.1 dir>/documents.parquet

Reads the parquet file (read only), renders as many documents with
``gen.documents`` and prints one JSON line per corpus: document count,
length quantiles in words, vocabulary size, the most common word's share
of the tokens, and the share of near-duplicates (texts ending in the
``gen.DUP_MARK`` word).
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import dedup, gen  # noqa: E402


def shape(texts: list[str]) -> dict:
    words = [t.split() for t in texts]
    lens = [len(w) for w in words]
    counts = collections.Counter(x for w in words for x in w)
    tokens = sum(counts.values())
    deciles = statistics.quantiles(lens, n=10)
    return {
        "docs": len(texts),
        "words_min": min(lens),
        "words_p10": deciles[0],
        "words_p50": statistics.median(lens),
        "words_p90": deciles[-1],
        "words_max": max(lens),
        "vocab": len(counts),
        "top_word_share": round(counts.most_common(1)[0][1] / tokens, 4),
        "near_dup_share": round(sum(w[-1] == gen.DUP_MARK for w in words) / len(texts), 4),
    }


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    import pyarrow.parquet as pq

    texts = pq.read_table(argv[1], columns=["text"]).column("text").to_pylist()
    print(json.dumps({"corpus": argv[1], **shape(texts)}))
    docs = gen.documents(1, len(texts), dedup.NEAR_DUP_SHARE)
    print(json.dumps({"corpus": "gen.documents", **shape([t for _, t in docs])}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
