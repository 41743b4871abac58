"""Differential fuzz: edge-case tables (empty/whitespace/unicode docs,
tied timestamps, boundary values, near-dup and antipodal vectors) run
through Spark AND DuckDB side-by-side.

The fixed driver testdata contains none of these degenerate shapes, so
the 3-scale sweeps can't catch divergence on them. This fixture caught
real defects when introduced: ANSI divide-by-zero crashes on
empty-token documents (weighted sampling, Jaccard/containment), and a
systematic engine split on the whole-text shingle fallback (DuckDB's
array_to_string([]) is NULL where Spark's array_join([]) is '' — every
oracle now COALESCEs). The query set below is every query that
diverged before those fixes, pinned so they can't regress.
"""

import os

import duckdb
import pytest

from aardappel_spark import registry
from aardappel_spark.run_query import oracle_db
from tools.check_oracle import rows_key

# every query that diverged on this fixture before the empty-doc fixes,
# plus the CDC family (tied timestamps exercise the equal-position
# ordering) — kept well under the full registry so the suite stays fast
FUZZ_QUERIES = [
    "doc_weighted_sample", "dedup_containment", "dedup_est_error",
    "dedup_pair_degree", "doc_dup_coverage", "corpus_health",
    "dedup_survivor_quality", "doc_ngram_novelty", "dedup_threshold_curve",
    "corpus_funnel", "cdc_compact_merge", "cdc_apply", "cdc_compact",
    "dedup_minhash", "dedup_minhash_pairs", "doc_fingerprint",
    "dedup_ngram_jaccard", "dedup_jaccard", "dedup_clusters",
    "dedup_survivors", "doc_repetition", "doc_score",
    "dedup_edit_distance", "dedup_cross_source", "dedup_span",
    "dedup_exact", "text_token_stats", "doc_quality", "text_langid",
    "events_psi_drift", "events_cusum", "events_seasonality",
    "corpus_jackknife_ci",
    # batch-4/5 text-sensitive additions: entropy/JS fold token counts,
    # gopher splits words, fertility counts bytes vs chars (unicode!),
    # frames hash the raw payload bytes of degenerate docs
    "doc_token_entropy", "corpus_js_drift", "doc_gopher_rules",
    "corpus_tokenizer_fertility", "multimodal_frames",
    "text_heldout_nll", "corpus_ks_drift",
    # round-7 batch 2: KN smoothing folds token counts four ways
    "text_kn_nll",
    # round-7 batch 6..10: hapax/readability/vocab-overlap fold the
    # same degenerate token shapes; the bit census rides the simhash
    # signatures of empty/unicode docs; the events family exercises
    # tied timestamps through day/minute bucketing and window ranks
    "doc_hapax_ratio", "text_readability", "corpus_vocab_overlap",
    "doc_simhash_bit_balance", "events_stickiness", "events_burst_rate",
    "events_autocorr", "events_new_vs_returning",
    "orders_repeat_latency", "customer_cohort_retention",
    "shipping_latency",
    # round-8: winnowing/chunking/coverage fold degenerate token
    # shapes; the injected detectors and the payload constructor hash
    # raw text (incl. NULL->'' and unicode); the cdc family additions
    # exercise tied positions; grid cells ride the near-dup/antipodal
    # vectors
    "doc_winnowing", "chunk_sliding", "corpus_ngram_coverage",
    "text_code_detect", "doc_domain_stats", "multimodal_decode",
    "events_user_entropy", "emb_grid_cells", "graph_degree_hist",
    "cdc_tx_stats", "cdc_view_topk", "orders_mix_shift",
    # round-8 batch 5: prefix-filter postings fold the same degenerate
    # token shapes (empty/NULL/unicode/one-huge-token docs); URL
    # canonicalization hashes injected text; k-core rides the
    # near-dup/antipodal vectors; schema drift rides tied positions
    "dedup_setsim_prefix", "doc_url_canonical", "graph_kcore",
    "cdc_schema_drift", "supplier_hhi",
    # round-8 batch 6: the diff census folds tied positions twice; the
    # keyword rank and the apportionment fold degenerate token shapes;
    # rolling percentiles ride boundary values through cents rounding
    "cdc_version_diff", "text_top_terms", "corpus_budget_allocation",
    "events_rolling_percentile",
    # round-8 batch 7: radius search rides the near-dup/antipodal
    # vectors (sim == 1.0 and == -1.0 boundary cells); the heatmap
    # folds tied timestamps
    "ann_range_search", "events_heatmap",
    # round 9: the containment prefix join and the shingle census fold
    # the same degenerate token shapes as the setsim kernel
    "dedup_containment_prefix", "text_shingle_saturation",
]

EDGE_TEXTS = [
    "",                      # empty
    " ",                     # whitespace only
    "a",                     # single token
    "a a a a a a a a",       # pure repetition
    "the the the of of to",  # stopword-heavy
    "héllo wörld straße 你好 世界",  # unicode
    "x" * 500,               # one huge token
    ("word " * 200).strip(),  # long repeated
    "tab\tinside token",     # tab stays inside a token
    "1 22 333 4444 !!! ??? ... mixed 99 tokens",
    "The quick brown fox jumps over the lazy dog",
    "Le renard brun rapide saute par-dessus le chien paresseux",
]


@pytest.fixture(scope="module")
def fuzz_sf_dir(tmp_path_factory):
    import random

    out = str(tmp_path_factory.mktemp("fuzz_sf"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t, key in [
        ("region", "r_regionkey"), ("nation", "n_nationkey"),
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
    ]:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet' WHERE {key} % 3 != 1)"
            f" TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )

    rng = random.Random(7)
    rows = []
    for i, t in enumerate(EDGE_TEXTS):
        rows.append((i, t, ["en", "fr", "und"][i % 3], ["s1", "s2"][i % 2], len(t)))
    real = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars FROM '{src}/documents.parquet'"
        " WHERE doc_id % 7 = 0 LIMIT 40"
    ).fetchall()
    for (d, t, l, s, n) in real:
        rows.append((100 + d, t, l, s, n))
    rows.append((990, EDGE_TEXTS[10], "en", "s1", len(EDGE_TEXTS[10])))
    rows.append((991, EDGE_TEXTS[10], "en", "s2", len(EDGE_TEXTS[10])))
    rows.append((995, None, "en", "s1", 0))  # NULL text -> reads as ''
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO docs VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY docs TO '{out}/documents.parquet' (FORMAT PARQUET)")

    # events: tied timestamps + boundary/negative values; vocabulary
    # must match the CDC wire mapping's testdata vocabulary
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    base = 1718000000000000
    types = ["view", "click", "purchase", "error", "signup"]
    ev = []
    for i in range(1, 301):
        ts = base + (i // 3) * 1_000_000  # every third event ties
        v = [0.0, 25.0, 50.0, -12.5, 499.99, 24.999999, 100.0][i % 7]
        ev.append((i, ts, i % 13, types[i % 5], v, '{"k": %d}' % (i % 9)))
    con.executemany("INSERT INTO ev VALUES (?, make_timestamp(?), ?, ?, ?, ?)", ev)
    con.execute(f"COPY ev TO '{out}/events.parquet' (FORMAT PARQUET)")

    # embeddings: 64-dim (the oracles' hyperplane tables are 64-dim),
    # with a near-duplicate and an antipodal pair
    con.execute(
        "CREATE TABLE emb(vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    em = []
    for i in range(40):
        em.append((i, [round(rng.gauss(0, 1), 4) for _ in range(64)], i % 4))
    em.append((100, [v * 1.001 for v in em[3][1]], 1))
    em.append((101, [-v for v in em[5][1]], 2))
    con.executemany("INSERT INTO emb VALUES (?,?,?)", em)
    con.execute(f"COPY emb TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    return out


@pytest.fixture(scope="module")
def fuzz_duck(fuzz_sf_dir):
    con = oracle_db(fuzz_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qname", FUZZ_QUERIES)
def test_fuzz_query_matches_oracle(spark, fuzz_sf_dir, fuzz_duck, qname):
    sdf = registry.QUERIES[qname](spark, fuzz_sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = fuzz_duck.execute(registry.ORACLES[qname])
    d_cols = [d[0].lower() for d in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols), qname
    assert len(s_rows) == len(d_rows), f"{qname}: {len(s_rows)} vs {len(d_rows)}"
    assert rows_key(s_cols, s_rows) == rows_key(d_cols, d_rows), qname
