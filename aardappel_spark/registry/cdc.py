"""CDC engine queries (SURVEY.md §2: S2-S4, F1-F6, A1-A6, C1-C9)."""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cdc_queries as cdc
from ..ops.dedup import (
    exact_dedup_groups,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash,
    verify_pairs_jaccard,
)
from ..sources import load_events_ns
from ..ops.similarity import (
    brute_force_topk,
    cosine_neardup_lsh,
    cosine_neardup_pairs,
    lsh_banded_candidates,
    lsh_banded_topk,
    lsh_bucket_topk,
)
from ..ops.text import (
    LANG_PROFILES,
    STOPWORDS,
    fingerprint,
    language_id,
    quality_by_group,
    token_stats,
)

from ._dicts import QUERIES, ORACLES
from ._shared import *  # noqa: F401,F403

QUERIES["cdc_parse_stats"] = cdc.q_parse_stats
QUERIES["cdc_stale_filter"] = cdc.q_stale_filter
QUERIES["cdc_quorum"] = cdc.q_quorum
QUERIES["cdc_compact"] = cdc.q_compact
QUERIES["cdc_compact_merge"] = cdc.q_compact_merge
QUERIES["cdc_apply"] = cdc.q_apply
QUERIES["cdc_out_of_order"] = cdc.q_out_of_order
QUERIES["cdc_apply_orders"] = cdc.q_apply_orders
QUERIES["cdc_keyfilter"] = cdc.q_keyfilter
QUERIES["cdc_problem_actions"] = cdc.q_problem_actions
ORACLES["cdc_parse_stats"] = (
_CDC_CTE
    + """
SELECT op, count(*) AS n, count(DISTINCT user_id) AS n_users,
       min(step) AS min_step, max(step) AS max_step
FROM ev GROUP BY op
"""
)
ORACLES["cdc_stale_filter"] = (
_CDC_CTE
    + f"""
SELECT op, count(*) AS n, max(step) AS max_step
FROM ev WHERE step >= {_CUTOFF} GROUP BY op
"""
)
ORACLES["cdc_quorum"] = (
_CDC_CTE
    + """
SELECT step AS quorum_step, txid AS quorum_tx,
       (SELECT count(*) FROM pm WHERE rrn = 1) AS n_partitions
FROM pm WHERE rrn = 1 ORDER BY step, txid LIMIT 1
"""
)
ORACLES["cdc_compact"] = (
_CDC_CTE
    + """
SELECT user_id, final_op, last_step, last_tx FROM fin
"""
)
ORACLES["cdc_compact_merge"] = (
_CDC_CTE
    + """
SELECT m.user_id, m.col_name, m.col_value
FROM merged m JOIN fin f ON m.user_id = f.user_id
WHERE f.final_op = 'update'
"""
)
ORACLES["cdc_apply"] = (
_CDC_CTE
    + """
SELECT f.user_id,
       round(CAST(max(CASE WHEN m.col_name = 'value' THEN m.col_value END) AS DOUBLE), 2) AS value,
       max(CASE WHEN m.col_name = 'props' THEN m.col_value END) AS props
FROM fin f LEFT JOIN merged m ON f.user_id = m.user_id
WHERE f.final_op = 'update'
GROUP BY f.user_id
"""
)
ORACLES["cdc_out_of_order"] = (
_CDC_CTE
    + """
SELECT e.user_id % 8 AS p, count(*) AS n_late
FROM ev e JOIN (SELECT p, step, txid FROM pm WHERE rrn = 1) h ON (e.user_id % 8) = h.p
WHERE e.step < h.step OR (e.step = h.step AND e.txid < h.txid)
GROUP BY 1
"""
)
ORACLES["cdc_apply_orders"] = (
"""
WITH oe AS (
  SELECT o_custkey AS k, epoch_us(o_orderdate) AS step, o_orderkey AS txid,
         CASE WHEN o_orderkey % 13 = 0 THEN 'erase' ELSE 'update' END AS op,
         o_orderstatus AS s, o_totalprice AS tp, o_orderdate AS od,
         row_number() OVER (ORDER BY epoch_us(o_orderdate), o_orderkey) AS rn
  FROM orders
),
le AS (SELECT k, max(rn) AS ern FROM oe WHERE op = 'erase' GROUP BY k),
fin AS (SELECT k, arg_max(op, rn) AS fop FROM oe GROUP BY k),
cols AS (
  SELECT k, 'totalprice' AS c, CAST(tp AS VARCHAR) AS v, rn FROM oe
  WHERE op = 'update' AND s IN ('O', 'F')
  UNION ALL
  SELECT k, 'orderdate' AS c, CAST(od AS VARCHAR) AS v, rn FROM oe
  WHERE op = 'update' AND s IN ('P', 'F')
),
m AS (
  SELECT c2.k, c2.c, arg_max(c2.v, c2.rn) AS v
  FROM cols c2 LEFT JOIN le ON c2.k = le.k
  WHERE le.ern IS NULL OR c2.rn > le.ern
  GROUP BY c2.k, c2.c
)
SELECT f.k AS o_custkey,
       round(CAST(max(CASE WHEN m.c = 'totalprice' THEN m.v END) AS DOUBLE), 2) AS totalprice,
       CAST(max(CASE WHEN m.c = 'orderdate' THEN m.v END) AS TIMESTAMP) AS orderdate
FROM fin f LEFT JOIN m ON f.k = m.k
WHERE f.fop = 'update' GROUP BY f.k
"""
)
ORACLES["cdc_keyfilter"] = (
_CDC_CTE + """
SELECT op, count(*) AS n, count(DISTINCT user_id) AS n_users,
       CAST(sum(7 + length(CAST(user_id AS VARCHAR))) AS BIGINT) AS key_bytes
FROM ev WHERE user_id % 25 <> 0 GROUP BY op
"""
)
ORACLES["cdc_problem_actions"] = (
_CDC_CTE + """
, h AS (SELECT p, step, txid FROM pm WHERE rrn = 1)
SELECT e.user_id, e.step AS step, e.txid AS tx_id,
       CASE WHEN e.txid % 14 = 0 THEN 'apply'
            WHEN e.txid % 7 = 0 THEN (CASE WHEN e.txid % 2 = 0 THEN 'skip' ELSE 'apply' END)
            ELSE 'none' END AS action
FROM ev e JOIN h ON (e.user_id % 8) = h.p
WHERE e.step < h.step OR (e.step = h.step AND e.txid < h.txid)
"""
)


def q_cdc_view_topk(spark, sf_dir):
    """Top-k view over the LWW-compacted CDC state: the 5 of 16 user
    groups with the largest summed value. From the compacted per-user
    merge (cdc_compact_merge: final 'value' column of users whose final
    op is update), group users by user_id % 16, sum half-up cents
    (fixed-point BIGINT — no float crosses the hash), and take the top
    5 groups in one total deterministic order, (sum DESC, grp ASC), so
    ties cannot differ between engines or across a restart."""
    m = cdc.q_compact_merge(spark, sf_dir)
    per = (
        m.filter(F.col("col_name") == "value")
        .filter(F.col("col_value").isNotNull())
        .select(
            F.pmod(F.col("user_id"), F.lit(16)).cast("bigint").alias("grp"),
            F.expr(
                "CAST(round(CAST(col_value AS DOUBLE) * 100) AS BIGINT)"
            ).alias("cents"),
        )
    )
    g = per.groupBy("grp").agg(
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    return g.orderBy(F.col("sum_cents").desc(), F.col("grp").asc()).limit(5)


QUERIES["cdc_view_topk"] = q_cdc_view_topk

# composed verbatim from the gated compact-merge oracle (same pattern
# as dedup_cc_stats / retrieval_hybrid_rrf)
ORACLES["cdc_view_topk"] = f"""
SELECT grp, sum_cents, n_keys FROM (
  SELECT user_id % 16 AS grp,
         CAST(sum(CAST(round(CAST(col_value AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS sum_cents,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM ({ORACLES["cdc_compact_merge"].strip()}) m
  WHERE col_name = 'value' AND col_value IS NOT NULL
  GROUP BY 1
)
ORDER BY sum_cents DESC, grp ASC LIMIT 5
"""


def q_cdc_tx_stats(spark, sf_dir):
    """Wire-level transaction shape census (§2.8 surface): per (op,
    column-arity) cell, transaction count and distinct keys — the
    operational view that says what the CDC stream is made of (erases
    carry 0 columns; the wire mapping gives click/view updates 2
    columns, purchase/signup 1). Runs on the SAME parsed frame every
    cdc query shares (parsed_messages cache) — one hash-agg over
    (op, size(columns)), nothing else. The oracle replays the arity
    from the wire-construction rule itself, so a mapping drift breaks
    the gate."""
    from .. import cdc_queries as _cdcq
    from ..parse import split_events

    ev = split_events(_cdcq.parsed_messages(spark, sf_dir))
    return (
        ev.groupBy("op", F.size("columns").alias("n_cols"))
        .agg(
            F.count("*").cast("bigint").alias("n_tx"),
            F.countDistinct(F.element_at("key", 1).cast("bigint"))
            .cast("bigint")
            .alias("n_keys"),
        )
        .select("op", F.col("n_cols").cast("bigint").alias("n_cols"),
                "n_tx", "n_keys")
    )


QUERIES["cdc_tx_stats"] = q_cdc_tx_stats

ORACLES["cdc_tx_stats"] = (
    _CDC_CTE
    + """
SELECT op,
       CAST(CASE WHEN op = 'erase' THEN 0
                 WHEN event_type IN ('click', 'view') THEN 2
                 ELSE 1 END AS BIGINT) AS n_cols,
       CAST(count(*) AS BIGINT) AS n_tx,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
FROM ev GROUP BY 1, 2
"""
)


def q_cdc_schema_drift(spark, sf_dir):
    """Schema-drift census over the CDC update stream — the operational
    view that catches a producer adding/dropping columns (reference
    semantics: an ABSENT column is 'not written', never NULL — see
    compact.py's merge contract, reference internal/processor §column
    sets): per observed column name, update count, distinct keys,
    FIRST offset the column was ever seen at (the drift timestamp) and
    presence share in ppm of all updates. One explode of the payload
    map keys + one hash-agg keyed by column name (column cardinality
    ~1e2 even at 100 TB: trivially bounded), the 1-row update total
    attaching via broadcast. The oracle replays presence from the wire
    construction rule itself (purchase -> value, signup -> props,
    click/view -> both), so a mapping drift breaks the gate."""
    from .. import cdc_queries as _cdcq
    from ..parse import split_events, OP_UPDATE

    ev = split_events(_cdcq.parsed_messages(spark, sf_dir)).filter(
        F.col("op") == OP_UPDATE
    )
    tot = ev.agg(F.count("*").alias("_t"))
    cols = ev.select(
        "offset",
        F.element_at("key", 1).cast("bigint").alias("_k"),
        F.explode(F.map_keys("columns")).alias("col_name"),
    )
    return (
        cols.groupBy("col_name")
        .agg(
            F.count("*").cast("bigint").alias("n_tx"),
            F.countDistinct("_k").cast("bigint").alias("n_keys"),
            F.min("offset").cast("bigint").alias("first_seen_offset"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "col_name", "n_tx", "n_keys", "first_seen_offset",
            ((F.lit(1000000) * F.col("n_tx")) / F.col("_t"))
            .cast("bigint")
            .alias("presence_ppm"),
        )
    )


QUERIES["cdc_schema_drift"] = q_cdc_schema_drift

ORACLES["cdc_schema_drift"] = (
    _CDC_CTE
    + """
, upd AS (SELECT * FROM ev WHERE op = 'update'),
pcols AS (
  SELECT user_id, txid,
         unnest(CASE WHEN event_type = 'purchase' THEN ['value']
                     WHEN event_type = 'signup' THEN ['props']
                     ELSE ['value', 'props'] END) AS col_name
  FROM upd
),
tot AS (SELECT count(*) AS _t FROM upd)
SELECT col_name,
       CAST(count(*) AS BIGINT) AS n_tx,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
       CAST(min(txid) AS BIGINT) AS first_seen_offset,
       CAST((1000000 * count(*)) // tot._t AS BIGINT) AS presence_ppm
FROM pcols, tot
GROUP BY col_name, tot._t
"""
)


def q_cdc_version_diff(spark, sf_dir):
    """Snapshot-to-snapshot diff census — the table_changes / VERSION
    AS OF story told as math: fold the LWW state at the CUTOFF position
    (v1: every change strictly before the stale-filter boundary, the
    same (step, tx) order every apply uses) and at stream end (v2),
    then classify every key: added (live v2 only — includes
    erase-then-reinsert), deleted (live v1 only), updated (live both,
    merged column set differs), unchanged. States are canonicalized as
    the '|'-joined 'col=value' string over the SORTED column map — the
    exact content the transactional sink materializes — and both folds
    run the SAME compact kernel the apply path gates (compact.py:55).
    Scale: two hash-agg folds + one full-outer join keyed on user_id;
    on a real table v1 is a committed snapshot read, not a re-fold.
    One BIGINT census row."""
    from ..compact import compact_changes
    from ..parse import split_events, OP_UPDATE
    from ..types import pos, pos_lit
    from .. import cdc_queries as _cdcq

    ev = split_events(_cdcq.parsed_messages(spark, sf_dir))

    def state(frame):
        c = compact_changes(frame).filter(F.col("op") == OP_UPDATE)
        ser = F.array_join(
            F.transform(
                F.array_sort(F.map_keys("columns")),
                lambda k: F.concat(
                    k, F.lit("="),
                    F.coalesce(F.element_at(F.col("columns"), k), F.lit("")),
                ),
            ),
            "|",
        )
        return c.select(
            F.element_at("key", 1).cast("bigint").alias("user_id"),
            ser.alias("sig"),
        )

    v1 = state(ev.filter(pos() < pos_lit(_cdcq.CUTOFF_US, 0))).select(
        "user_id", F.col("sig").alias("sig1")
    )
    v2 = state(ev).select("user_id", F.col("sig").alias("sig2"))
    j = v1.join(v2, "user_id", "full_outer")
    return j.agg(
        F.sum(F.col("sig1").isNotNull().cast("bigint")).alias("n_live_v1"),
        F.sum(F.col("sig2").isNotNull().cast("bigint")).alias("n_live_v2"),
        F.sum(
            (F.col("sig1").isNull() & F.col("sig2").isNotNull()).cast("bigint")
        ).alias("n_added"),
        F.sum(
            (F.col("sig1").isNotNull() & F.col("sig2").isNull()).cast("bigint")
        ).alias("n_deleted"),
        F.sum(
            (F.col("sig1").isNotNull() & F.col("sig2").isNotNull()
             & (F.col("sig1") != F.col("sig2"))).cast("bigint")
        ).alias("n_updated"),
        F.sum(
            (F.col("sig1").isNotNull() & F.col("sig2").isNotNull()
             & (F.col("sig1") == F.col("sig2"))).cast("bigint")
        ).alias("n_unchanged"),
    )


QUERIES["cdc_version_diff"] = q_cdc_version_diff

# v1 re-runs the gated compact fold restricted to rn <= max(rn before
# CUTOFF) — the global (step, txid) order is monotone in rn, so the
# position predicate IS a prefix of the stream
_cutoff_us = cdc.CUTOFF_US
ORACLES["cdc_version_diff"] = (
    _CDC_CTE
    + f"""
, m1 AS (SELECT COALESCE(max(rn), 0) AS r FROM ev WHERE step < {_cutoff_us}),
le1 AS (
  SELECT user_id, max(rn) AS erase_rn FROM ev, m1
  WHERE op = 'erase' AND rn <= m1.r GROUP BY user_id
),
fin1 AS (
  SELECT user_id, arg_max(op, rn) AS final_op FROM ev, m1
  WHERE rn <= m1.r GROUP BY user_id
),
merged1 AS (
  SELECT c.user_id, c.col_name, arg_max(c.col_value, c.rn) AS col_value
  FROM cols c LEFT JOIN le1 ON c.user_id = le1.user_id, m1
  WHERE c.rn <= m1.r AND (le1.erase_rn IS NULL OR c.rn > le1.erase_rn)
  GROUP BY c.user_id, c.col_name
),
s1 AS (
  SELECT f.user_id,
         string_agg(m.col_name || '=' || COALESCE(m.col_value, ''), '|'
                    ORDER BY m.col_name) AS sig1
  FROM fin1 f JOIN merged1 m ON f.user_id = m.user_id
  WHERE f.final_op = 'update'
  GROUP BY f.user_id
),
s2 AS (
  SELECT f.user_id,
         string_agg(m.col_name || '=' || COALESCE(m.col_value, ''), '|'
                    ORDER BY m.col_name) AS sig2
  FROM fin f JOIN merged m ON f.user_id = m.user_id
  WHERE f.final_op = 'update'
  GROUP BY f.user_id
),
j AS (
  SELECT s1.sig1, s2.sig2
  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
)
SELECT CAST(COALESCE(sum(CASE WHEN sig1 IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_live_v1,
       CAST(COALESCE(sum(CASE WHEN sig2 IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_live_v2,
       CAST(COALESCE(sum(CASE WHEN sig1 IS NULL AND sig2 IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_added,
       CAST(COALESCE(sum(CASE WHEN sig1 IS NOT NULL AND sig2 IS NULL THEN 1 END), 0) AS BIGINT) AS n_deleted,
       CAST(COALESCE(sum(CASE WHEN sig1 IS NOT NULL AND sig2 IS NOT NULL AND sig1 <> sig2 THEN 1 END), 0) AS BIGINT) AS n_updated,
       CAST(COALESCE(sum(CASE WHEN sig1 IS NOT NULL AND sig2 IS NOT NULL AND sig1 = sig2 THEN 1 END), 0) AS BIGINT) AS n_unchanged
FROM j
"""
)
