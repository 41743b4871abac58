"""Orders/customer business analytics."""


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



def q_orders_window_topn(spark, sf_dir):
    """Top-3 orders per customer by price: the canonical per-group top-N
    as ONE window pass (row_number + filter), not a self-join. At scale
    this is a single hash-partition shuffle on o_custkey."""
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return orders.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= 3)


def q_part_topk_per_brand(spark, sf_dir):
    from pyspark.sql.window import Window

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.col("p_partkey")
    )
    return (
        p.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


def q_orders_rollup(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double"), 2).alias("sum_price"),
        )
    )
QUERIES["orders_window_topn"] = q_orders_window_topn
QUERIES["part_topk_per_brand"] = q_part_topk_per_brand
QUERIES["orders_rollup"] = q_orders_rollup
ORACLES["part_topk_per_brand"] = (
"""
WITH r AS (
  SELECT p_brand, p_partkey, p_retailprice,
         rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
  FROM part
)
SELECT p_brand, p_partkey, p_retailprice, rnk FROM r WHERE rnk <= 2
"""
)
ORACLES["orders_rollup"] = (
"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(CAST(sum(o_totalprice::DECIMAL(14,2)) AS DOUBLE), 2) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""
)
ORACLES["orders_window_topn"] = (
"""
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         ) AS rnk
  FROM orders
) WHERE rnk <= 3
"""
)



def q_orders_rfm(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary): per
    customer, days since last order (vs the corpus max date), order
    count, and exact-decimal total spend, then quartile labels by
    ntile(4) over a fully deterministic order (metric, custkey) and
    the 64-cell segment census. One scan -> one groupBy(custkey) ->
    three window passes over the small per-customer frame; monetary
    quartiles rank on the EXACT decimal sum so engines can't disagree
    on float ties. Scale note: global ntile() is a single-partition
    sort over the per-customer frame — exact quartiles are inherently
    serial. Past ~1e8 customers the production swap is approx
    percentile thresholds (3 numbers, broadcast) at the cost of exact
    boundary determinism; the segment census shape is unchanged."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderdate", F.col("o_totalprice").cast("decimal(14,2)").alias("_p")
    )
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("_last"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum("_p").alias("_spend"),
    )
    maxd = per.agg(F.max("_last")).first()[0]
    per = per.withColumn(
        "recency_days", F.datediff(F.lit(maxd), F.col("_last")).cast("bigint")
    )
    # recency: SMALL days = recent = best -> rank ascending puts best in q1
    wr = Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.desc("_spend"), F.asc("custkey"))
    labeled = per.select(
        "custkey",
        "recency_days",
        "frequency",
        F.col("_spend").cast("double").alias("monetary"),
        F.ntile(4).over(wr).cast("int").alias("r_quartile"),
        F.ntile(4).over(wf).cast("int").alias("f_quartile"),
        F.ntile(4).over(wm).cast("int").alias("m_quartile"),
    )
    return labeled.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_spend"),
    )


QUERIES["orders_rfm"] = q_orders_rfm

ORACLES["orders_rfm"] = """
WITH per AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT max(last_order) AS maxd FROM per),
lab AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, mx.maxd) AS BIGINT) AS recency_days,
         frequency,
         CAST(spend AS DOUBLE) AS monetary,
         CAST(ntile(4) OVER (ORDER BY date_diff('day', last_order, mx.maxd) ASC, custkey) AS INT) AS r_quartile,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS INT) AS f_quartile,
         CAST(ntile(4) OVER (ORDER BY spend DESC, custkey) AS INT) AS m_quartile
  FROM per, mx
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(monetary), 2) AS segment_spend
FROM lab GROUP BY 1, 2, 3
"""


def q_customer_pareto(spark, sf_dir):
    """Revenue-concentration Lorenz deciles: customers ranked by
    lifetime order revenue, cut into ntile(10) deciles, each with its
    exact revenue mass and the cumulative share — 'do the top 10% of
    customers carry 40% of revenue'. Money stays exact integer cents
    (DECIMAL x100 -> BIGINT) and shares are fixed-point ppm, so no
    float crosses the hash. The decile ntile is a global sort of the
    per-customer frame — the textbook Lorenz shape; at 100 TB you
    would assign deciles from percentile cutoffs instead (documented
    dial), the per-decile reduce is identical."""
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # o_totalprice is a DOUBLE in the test parquet: round() before the
    # BIGINT cast (Spark's cast truncates, DuckDB's rounds — the one
    # cross-engine divergence in the money path)
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    per = (
        rev.select("o_custkey", "cents", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    return per.select(
        "decile", "n_customers", "rev_cents",
        F.sum("rev_cents").over(wc).alias("_cum"),
        F.sum("rev_cents").over(wt).alias("_tot"),
    ).selectExpr(
        "decile", "n_customers", "rev_cents",
        "(1000000 * _cum) div _tot as cum_share_ppm",
    )


def q_orders_backlog(spark, sf_dir):
    """Open-order backlog by month via interval delta counting: each
    order contributes +1 at its order month and -1 at its close month
    (the max lineitem ship date), and the backlog is the running sum —
    the pattern that counts concurrent intervals (open tickets, active
    subscriptions, in-flight orders) in ONE pass over the endpoints
    instead of a month-by-month rescan. One join keyed on orderkey, a
    row-local 2-delta explode, a months-count aggregate, and a running
    sum over the tiny month frame. All-integer output."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.trunc(F.col("o_orderdate"), "MM").alias("m_open")
    )
    cl = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.trunc(F.max("l_shipdate"), "MM").alias("m_close"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    deltas = (
        o.join(cl, "o_orderkey")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("m_open").alias("month"), F.lit(1).alias("d")),
                    F.struct(F.col("m_close").alias("month"), F.lit(-1).alias("d")),
                )
            ).alias("e")
        )
        .select("e.month", "e.d")
    )
    monthly = deltas.groupBy("month").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("bigint").alias("n_opened"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("bigint").alias("n_closed"),
        F.sum("d").cast("bigint").alias("_net"),
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month", "n_opened", "n_closed",
        F.sum("_net").over(w).cast("bigint").alias("backlog"),
    )


QUERIES["orders_backlog"] = q_orders_backlog

ORACLES["orders_backlog"] = """
WITH cl AS (
  SELECT l_orderkey AS o_orderkey,
         date_trunc('month', max(l_shipdate)) AS m_close
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT date_trunc('month', o.o_orderdate) AS month, 1 AS d
  FROM orders o JOIN cl USING (o_orderkey)
  UNION ALL
  SELECT m_close AS month, -1 AS d
  FROM orders o JOIN cl USING (o_orderkey)
),
monthly AS (
  SELECT month,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
         CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
         sum(d) AS net
  FROM deltas GROUP BY month
)
SELECT month, n_opened, n_closed,
       CAST(sum(net) OVER (ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM monthly
"""
QUERIES["customer_pareto"] = q_customer_pareto

ORACLES["customer_pareto"] = """
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT o_custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM rev
),
per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM d GROUP BY decile
)
SELECT decile, n_customers, rev_cents,
       CAST((1000000 * sum(rev_cents) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // (sum(rev_cents) OVER ()) AS BIGINT) AS cum_share_ppm
FROM per
"""


def q_orders_month_revenue(spark, sf_dir):
    """Monthly order revenue off the orders⋈lineitem join. Money is exact
    integer cents (round-then-BIGINT, the cross-engine-safe money
    path). One shuffle join keyed on orderkey — both sides hash-
    partition on their natural key, no broadcast needed at any scale —
    then a partial-aggregating reduce onto the tiny month frame."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("grp")
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        o.join(l, "o_orderkey")
        .groupBy("grp")
        .agg(
            F.sum("cents").cast("bigint").alias("sum_value_cents"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


QUERIES["orders_month_revenue"] = q_orders_month_revenue

ORACLES["orders_month_revenue"] = """
SELECT strftime(o.o_orderdate, '%Y-%m') AS grp,
       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_value_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY grp
"""


def q_orders_reorder_window(spark, sf_dir):
    """Quick-reorder distribution: for every order, how many OTHER
    orders the same customer placed inside the following 7 days
    (half-open [t, t+7d)), reported as the n_follow histogram with the
    exact zero-follower row — the repeat-purchase velocity view. The
    join is the bucketed point-in-interval encoding
    (ops/intervals.py): each order's 7-day window explodes into <= 2
    week cells, each candidate follower computes its single cell, and
    containment becomes an equi-join on (custkey, cell) + residual
    filter — linear fan-out where the naive inequality join is a
    per-customer cartesian that Catalyst would run as BNLJ at 100 TB.
    Zero-follower orders are total - matched bases (two 1-row
    aggregates), not a left join."""
    from ..ops.intervals import point_in_interval_join

    wk = 7 * 86400 * 1_000_000
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("base_ok"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("s_us"),
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) + wk).alias("e_us"),
    )
    pts = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("f_ok"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("f_us"),
    )
    j = point_in_interval_join(
        pts, base, ["ck"], "f_us", "s_us", "e_us", bucket=wk
    ).filter(F.col("f_ok") != F.col("base_ok"))
    # the per-base count frame feeds both the histogram and the
    # matched-bases count; materialize it once so the bucketed join
    # (2 orders scans) doesn't run twice
    m = (
        j.groupBy("base_ok")
        .agg(F.count("*").alias("n_follow"))
        .localCheckpoint(eager=False)
    )
    hist = m.groupBy("n_follow").agg(F.count("*").cast("bigint").alias("n_orders"))
    tot = o.agg(F.count("*").alias("t"))
    mb = m.agg(F.count("*").alias("mb"))
    zero = (
        tot.crossJoin(mb)
        .select(
            F.lit(0).cast("bigint").alias("n_follow"),
            (F.col("t") - F.col("mb")).cast("bigint").alias("n_orders"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return hist.select(F.col("n_follow").cast("bigint"), "n_orders").unionByName(
        zero
    )

QUERIES["orders_reorder_window"] = q_orders_reorder_window

ORACLES["orders_reorder_window"] = """
WITH o AS (
  SELECT o_orderkey AS ok, o_custkey AS ck, epoch_us(o_orderdate) AS us
  FROM orders
),
p AS (
  SELECT a.ok AS base, count(*) AS n
  FROM o a JOIN o b
    ON a.ck = b.ck AND b.us >= a.us AND b.us < a.us + 604800000000
   AND b.ok <> a.ok
  GROUP BY a.ok
),
h AS (
  SELECT CAST(n AS BIGINT) AS n_follow, CAST(count(*) AS BIGINT) AS n_orders
  FROM p GROUP BY n
),
z AS (
  SELECT CAST(0 AS BIGINT) AS n_follow,
         CAST((SELECT count(*) FROM o) - (SELECT count(*) FROM p)
           AS BIGINT) AS n_orders
)
SELECT n_follow, n_orders FROM h
UNION ALL
SELECT n_follow, n_orders FROM z WHERE n_orders > 0
"""


def q_customer_cohort_retention(spark, sf_dir):
    """Classic cohort-retention triangle over orders: customers grouped
    by first-order month, then for each month-age the distinct count
    still ordering, plus retained_ppm against the cohort's own age-0
    size (integer fixed-point — no float crosses the hash; the cohort
    month itself crosses as a DATE both engines render identically).
    Month index is y*12 + m - 1 pure integer calendar math. ONE orders
    scan: the first-order month is a partition-wide window min over
    custkey (one shuffle), not a groupBy-min self-join that would scan
    and shuffle orders twice; then one (cohort, age) distinct-agg. The
    age-0 denominator is a window max over the cohort partition —
    O(cohorts) groups, never a second orders pass."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("ck"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mi"),
    )
    # first-order month via a partition-wide window min: ONE orders
    # scan and one ck shuffle, where the groupBy-min + self-join form
    # scans orders twice and shuffles both sides
    wc = Window.partitionBy("ck")
    j = o.select(
        "ck",
        F.min("mi").over(wc).alias("c0"),
        (F.col("mi") - F.min("mi").over(wc)).alias("age"),
    )
    g = j.groupBy("c0", "age").agg(F.countDistinct("ck").alias("n_customers"))
    w = Window.partitionBy("c0")
    g2 = g.withColumn(
        "n0", F.max(F.when(F.col("age") == 0, F.col("n_customers"))).over(w)
    )
    return g2.select(
        F.make_date(
            F.expr("c0 div 12"), F.expr("c0 % 12 + 1"), F.lit(1)
        ).alias("cohort"),
        F.col("age").cast("bigint").alias("month_age"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.expr("(1000000 * n_customers) div n0").cast("bigint").alias(
            "retained_ppm"
        ),
    )


QUERIES["customer_cohort_retention"] = q_customer_cohort_retention

ORACLES["customer_cohort_retention"] = """
WITH o AS (
  SELECT o_custkey AS ck,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
  FROM orders
),
f AS (SELECT ck, min(mi) AS c0 FROM o GROUP BY ck),
j AS (SELECT o.ck, f.c0, o.mi - f.c0 AS age FROM o JOIN f USING (ck)),
g AS (SELECT c0, age, count(DISTINCT ck) AS n FROM j GROUP BY c0, age),
g2 AS (
  SELECT c0, age, n,
         max(CASE WHEN age = 0 THEN n END) OVER (PARTITION BY c0) AS n0
  FROM g
)
SELECT make_date(CAST(c0 // 12 AS INTEGER), CAST(c0 % 12 + 1 AS INTEGER), 1)
         AS cohort,
       CAST(age AS BIGINT) AS month_age,
       CAST(n AS BIGINT) AS n_customers,
       CAST((1000000 * n) // n0 AS BIGINT) AS retained_ppm
FROM g2
"""


def q_orders_repeat_latency(spark, sf_dir):
    """First-to-second-order latency histogram — the conversion-
    velocity view next to customer_cohort_retention's monthly
    triangle: for every customer with >= 2 orders, the exact day gap
    between their first and second order ((date, orderkey)-ordered so
    same-day ties break deterministically in both engines), bucketed
    into weeks. One custkey window pass (rank <= 2), one row-local
    pivot via the min/max of the two epoch-day values, one integer
    hash-agg. The zero-week bucket (repeat within 7 days) is the
    activation signal; the long tail prices win-back campaigns."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .alias("d"),
    )
    w = Window.partitionBy("ck").orderBy("d", "ok")
    two = o.select("ck", "d", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 2
    )
    gap = (
        two.groupBy("ck")
        .agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
        .filter(F.col("n") == 2)
        .select(F.expr("(d2 - d1) div 7").alias("week_bucket"))
    )
    return gap.groupBy(F.col("week_bucket").cast("bigint").alias("week_bucket")).agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


QUERIES["orders_repeat_latency"] = q_orders_repeat_latency

ORACLES["orders_repeat_latency"] = """
WITH o AS (
  SELECT o_custkey AS ck, o_orderkey AS ok,
         epoch_us(o_orderdate) // 86400000000 AS d
  FROM orders
),
r AS (
  SELECT ck, d, row_number() OVER (PARTITION BY ck ORDER BY d, ok) AS rn
  FROM o
),
g AS (
  SELECT ck, count(*) AS n,
         max(CASE WHEN rn = 1 THEN d END) AS d1,
         max(CASE WHEN rn = 2 THEN d END) AS d2
  FROM r WHERE rn <= 2 GROUP BY ck
)
SELECT CAST((d2 - d1) // 7 AS BIGINT) AS week_bucket,
       CAST(count(*) AS BIGINT) AS n_customers
FROM g WHERE n = 2 GROUP BY 1
"""


def q_shipping_latency(spark, sf_dir):
    """Order-to-ship latency percentiles per order priority — exact
    p50/p90/p99 day gaps computed the 100 TB way: the orders⋈lineitem
    join (orderkey equi-join, both sides shuffle-partitioned on the
    key) collapses IMMEDIATELY to a (priority, day-gap) counting
    histogram — day gaps are small bounded integers, so the histogram
    is O(priorities × gap range) rows regardless of corpus size — and
    the percentile selection is a cumulative window over that tiny
    frame. The naive per-group sort ranks the full fact table inside
    5 priority partitions, a skew wall at scale; selecting from exact
    counts is both deterministic (no interpolation — the k-th
    percentile is the smallest gap with 100*cum >= k*total, identical
    integer arithmetic in both engines) and sort-free."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderpriority",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .alias("od"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        .alias("sd"),
    )
    h = (
        li.join(o, "l_orderkey")
        .groupBy("o_orderpriority", (F.col("sd") - F.col("od")).alias("gap"))
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("gap")
    wp = Window.partitionBy("o_orderpriority")
    cum = h.select(
        "o_orderpriority",
        "gap",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(wp).alias("tot"),
    )
    pick = lambda k: F.min(  # noqa: E731
        F.when(100 * F.col("cum") >= k * F.col("tot"), F.col("gap"))
    ).cast("bigint")
    return cum.groupBy("o_orderpriority").agg(
        F.max("tot").cast("bigint").alias("n_items"),
        pick(50).alias("p50_days"),
        pick(90).alias("p90_days"),
        pick(99).alias("p99_days"),
        F.max("gap").cast("bigint").alias("max_days"),
    )


QUERIES["shipping_latency"] = q_shipping_latency

ORACLES["shipping_latency"] = """
WITH j AS (
  SELECT o.o_orderpriority,
         epoch_us(l.l_shipdate) // 86400000000
           - epoch_us(o.o_orderdate) // 86400000000 AS gap
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
h AS (SELECT o_orderpriority, gap, count(*) AS c FROM j GROUP BY 1, 2),
cum AS (
  SELECT o_orderpriority, gap,
         sum(c) OVER (PARTITION BY o_orderpriority ORDER BY gap
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY o_orderpriority) AS tot
  FROM h
)
SELECT o_orderpriority,
       CAST(max(tot) AS BIGINT) AS n_items,
       CAST(min(CASE WHEN 100 * cum >= 50 * tot THEN gap END) AS BIGINT)
         AS p50_days,
       CAST(min(CASE WHEN 100 * cum >= 90 * tot THEN gap END) AS BIGINT)
         AS p90_days,
       CAST(min(CASE WHEN 100 * cum >= 99 * tot THEN gap END) AS BIGINT)
         AS p99_days,
       CAST(max(gap) AS BIGINT) AS max_days
FROM cum GROUP BY o_orderpriority
"""


def q_orders_mix_shift(spark, sf_dir):
    """Month-over-month revenue-mix shift by order priority — the
    sales-mix drilldown every revenue dashboard carries: per (month,
    priority), revenue share of the month in ppm and the delta vs the
    prior month (share - lag(share)), so a priority segment gaining or
    losing share is one filtered read. All money is half-up cents
    BIGINT; shares are integer ppm via div; the lag window partitions
    by priority and orders by month — grid-sized (months x 5
    priorities), never data-sized, after one fact-table hash-agg."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderpriority",
            F.expr(
                "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("month", "o_orderpriority")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    tot = m.groupBy("month").agg(
        F.sum("rev_cents").cast("bigint").alias("month_cents")
    )
    shares = m.join(tot, "month").selectExpr(
        "month", "o_orderpriority as priority", "rev_cents",
        "(1000000 * rev_cents) div month_cents as share_ppm",
    )
    w = Window.partitionBy("priority").orderBy("month")
    return shares.select(
        "month", "priority", "rev_cents",
        F.col("share_ppm").cast("bigint").alias("share_ppm"),
        (F.col("share_ppm") - F.coalesce(
            F.lag("share_ppm").over(w), F.col("share_ppm")
        )).cast("bigint").alias("share_delta_ppm"),
    )


QUERIES["orders_mix_shift"] = q_orders_mix_shift

ORACLES["orders_mix_shift"] = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority AS priority,
         CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT month, CAST(sum(rev_cents) AS BIGINT) AS month_cents
  FROM m GROUP BY month
),
shares AS (
  SELECT m.month, m.priority, m.rev_cents,
         (1000000 * m.rev_cents) // t.month_cents AS share_ppm
  FROM m JOIN tot t USING (month)
)
SELECT month, priority, rev_cents, CAST(share_ppm AS BIGINT) AS share_ppm,
       CAST(share_ppm - COALESCE(
         lag(share_ppm) OVER (PARTITION BY priority ORDER BY month),
         share_ppm) AS BIGINT) AS share_delta_ppm
FROM shares
"""


def q_supplier_hhi(spark, sf_dir):
    """Supplier revenue-concentration (Herfindahl–Hirschman index) per
    part brand — the supply-chain-risk census: a brand whose revenue
    concentrates in one supplier (HHI -> 1e6 ppm) is a single point of
    failure. Money becomes exact integer CENTS at the row level
    (customer_pareto's idiom) so the two-level aggregation is
    shuffle-order-proof; shares are integer ppm with truncating
    division and HHI = sum(share_ppm^2) // 1e6 — every value crossing
    the gate is BIGINT. Scale shape: one shuffle to (brand, supplier)
    partials with map-side combine, then the brand totals come from a
    window over the ~1e2-row-per-brand supplier frame (same exchange,
    no second wide shuffle) — never a self-join of lineitem."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    per_supp = (
        li.join(F.broadcast(pt), "l_partkey")
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(cents).alias("_sc"))
    )
    w = Window.partitionBy("p_brand")
    shares = per_supp.withColumn(
        "_share_ppm",
        F.expr("(1000000 * _sc) div sum(_sc) over (partition by p_brand)"),
    ).withColumn("_brand_cents", F.sum("_sc").over(w))
    return (
        shares.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.max("_brand_cents").cast("bigint").alias("brand_cents"),
            F.expr("sum(_share_ppm * _share_ppm) div 1000000")
            .cast("bigint")
            .alias("hhi_ppm"),
            F.max("_share_ppm").cast("bigint").alias("top_share_ppm"),
        )
        .select(
            F.col("p_brand").alias("brand"), "n_suppliers", "brand_cents",
            "hhi_ppm", "top_share_ppm",
        )
    )


QUERIES["supplier_hhi"] = q_supplier_hhi

ORACLES["supplier_hhi"] = """
WITH per_supp AS (
  SELECT p.p_brand, l.l_suppkey,
         sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
             AS BIGINT)) AS _sc
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
shares AS (
  SELECT p_brand,
         (1000000 * _sc) // sum(_sc) OVER (PARTITION BY p_brand) AS _share_ppm,
         sum(_sc) OVER (PARTITION BY p_brand) AS _brand_cents
  FROM per_supp
)
SELECT p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(max(_brand_cents) AS BIGINT) AS brand_cents,
       CAST(sum(_share_ppm * _share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
       CAST(max(_share_ppm) AS BIGINT) AS top_share_ppm
FROM shares
GROUP BY 1
"""


# Benford first-significant-digit expectation, ppm, d=1..9: round(1e6 *
# log10(1 + 1/d)). The rounded values sum to EXACTLY 1,000,000, which is
# what lets the deviation column stay in integer arithmetic.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def q_orders_benford(spark, sf_dir):
    """Benford's-law first-digit screen over order totals (Benford 1938;
    the fraud/synthetic-data smell test of Nigrini's forensic accounting
    line): the first significant digit of o_totalprice (via exact cents,
    x100 preserves the leading digit) against the log10(1+1/d)
    expectation. Everything crossing the hash is integer: per-digit
    counts, the ppm expectation literals (they sum to exactly 1e6), and
    the signed deviation (1e6*n) div N - expected_ppm. One fact scan
    into a 9-cell hash-agg — map-side partials bounded at 9 rows per
    task, the events_heatmap shape. TPC-H totals are sums of uniform
    prices, so the census SHOWS the non-Benford hump (deviations are
    the point, not a defect)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    ) + " END"
    # the 9-row census feeds both the output and its own total — cut the
    # lineage so the fact scan runs once, not once per consumer
    digits = (
        o.selectExpr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT) AS digit"
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .localCheckpoint(eager=False)
    )
    total = digits.agg(F.sum("n_orders").alias("_n"))
    return (
        digits.crossJoin(F.broadcast(total))
        .selectExpr(
            "digit",
            "n_orders",
            f"CAST({exp_case} AS BIGINT) AS expected_ppm",
            f"CAST((1000000 * n_orders) div _n - {exp_case} AS BIGINT)"
            " AS deviation_ppm",
        )
    )


QUERIES["orders_benford"] = q_orders_benford

ORACLES["orders_benford"] = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY digit),
t AS (SELECT sum(n_orders) AS _n FROM c),
e AS (
  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                        (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                        (9, 45757)) AS v(digit, ppm)
)
SELECT c.digit, c.n_orders,
       CAST(e.ppm AS BIGINT) AS expected_ppm,
       CAST((1000000 * c.n_orders) // t._n - e.ppm AS BIGINT) AS deviation_ppm
FROM c JOIN e USING (digit), t
"""


def q_customer_kanon(spark, sf_dir):
    """k-anonymity census over the customer quasi-identifiers (Sweeney
    2002): rows are grouped by the attacker-linkable attribute tuple
    (nation, market segment, thousand-dollar balance bucket) and the
    distribution of equivalence-class sizes k is reported — the privacy
    screen a pipeline runs BEFORE releasing or training on user-keyed
    data (classes with small k are re-identifiable; k=1 is a unique
    fingerprint). Two hash-aggs, all-integer: the balance bucket is
    exact-cents truncating division (Spark div and DuckDB // both
    truncate toward zero, verified on negatives), so no float touches
    a class boundary or the hash."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    classes = (
        c.selectExpr(
            "c_nationkey",
            "c_mktsegment",
            "CAST(round(c_acctbal * 100) AS BIGINT) div 100000 AS bal_bucket",
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    return classes.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        (F.count("*") * F.col("k")).cast("bigint").alias("n_rows"),
    )


QUERIES["customer_kanon"] = q_customer_kanon

ORACLES["customer_kanon"] = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
         CAST(count(*) AS BIGINT) AS k
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(count(*) * k AS BIGINT) AS n_rows
FROM classes GROUP BY k
"""
