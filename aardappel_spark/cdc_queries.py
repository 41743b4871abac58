"""CDC engine queries over the driver's `events` table.

The `events` parquet is wrapped into REAL wire-format JSON envelopes
(FIXTURES.md §2) and pushed through the engine's parse -> split ->
quorum -> compact -> cast -> merge path, exactly as a topic batch would
be. The DuckDB oracles in registry.py recompute the same semantics in
ANSI SQL directly over `events`.

Deterministic mapping (mirrored in every oracle):
  key        = [user_id]
  position   = (epoch-MICROS ts, event_id)  [ts is long nanos in Spark;
               duckdb truncates parquet nanos to micros, so positions use micros]
  heartbeat  = rows with event_id % 10 == 0 (resolved at their position)
  erase      = event_type 'error'
  update     = other kinds; column set depends on kind:
                 purchase -> {value}, signup -> {props},
                 click/view -> {value, props}   (exercises column merge)
  partition  = user_id % 8
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import apply_batch
from .casting import TableMeta
from .compact import compact_changes
from .localrel import empty_df
from .parse import parse_messages, split_events, split_heartbeats
from .quorum import latest_heartbeats, out_of_order_events
from .shared_frames import evict, shared_frame
from .types import pos, pos_lit
from .sources import load_events_ns

N_PART = 8
CUTOFF_US = 1705276800000000  # 2024-01-15T00:00:00Z (micros)

STATE_META = TableMeta(
    "events_state",
    primary_key=["user_id"],
    columns={
        "user_id": "Int64",
        "value": "Optional<Double>",
        "props": "Optional<Utf8>",
    },
)


def wire_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet -> raw JSON topic messages (update/erase/resolved)."""
    raw = load_events_ns(spark, sf_dir)
    # Single-rowgroup toy files scan as ONE task, serializing all JSON
    # work onto one core. Repartition only when the scan is narrower than
    # the cluster; at real scale (many files >> cores) this never fires.
    cores = spark.sparkContext.defaultParallelism
    if raw.rdd.getNumPartitions() < cores:
        raw = raw.repartition(cores)
    is_hb = (F.col("event_id") % 10) == 0
    key = F.array(F.col("user_id").cast("string"))
    # positions in MICROseconds: duckdb truncates parquet nanos to
    # micros, so both engines agree at this precision
    ts_arr = F.array(F.expr("CAST(ts DIV 1000 AS LONG)"), F.col("event_id"))

    update_map = (
        F.when(
            F.col("event_type") == "purchase",
            F.create_map(F.lit("value"), F.col("value").cast("string")),
        )
        .when(
            F.col("event_type") == "signup",
            F.create_map(F.lit("props"), F.col("props")),
        )
        .otherwise(
            F.create_map(
                F.lit("value"),
                F.col("value").cast("string"),
                F.lit("props"),
                F.col("props"),
            )
        )
    )

    value = (
        F.when(is_hb, F.to_json(F.struct(ts_arr.alias("resolved"))))
        .when(
            F.col("event_type") == "error",
            F.to_json(
                F.struct(
                    F.expr("cast(map() as map<string,string>)").alias("erase"),
                    key.alias("key"),
                    ts_arr.alias("ts"),
                )
            ),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    update_map.alias("update"),
                    key.alias("key"),
                    ts_arr.alias("ts"),
                )
            )
        )
    )

    return raw.select(
        (F.col("user_id") % N_PART).cast("int").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
        value.alias("value"),
    )


# parse-once-per-batch: a real deployment parses each micro-batch once and
# every operator consumes the materialized result (foreachBatch semantics).
# Memoized per (session, sf_dir); also prevents Catalyst from substituting
# the from_json chain into pushed-down predicates (see parse.py note).
def clear_parsed_cache(spark: SparkSession | None = None) -> int:
    """Evict the memoized parse barriers (and unpersist their blocks when
    a live session is given); see registry.clear_query_caches."""
    return evict(spark, "cdc_parse")


@shared_frame("cdc_parse")
def parsed_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = parse_messages(wire_messages(spark, sf_dir), table_id_col=None)
    # localCheckpoint over persist(): ~4x cheaper materialization (no
    # columnar encoding of map/decimal columns) and a hard lineage
    # barrier. Non-replicated blocks mean an executor loss fails the
    # job — acceptable for a micro-batch kernel (Spark retries the
    # batch), the exact trade a foreachBatch deployment makes.
    return df.localCheckpoint(eager=False)


def _user_id() -> F.Column:
    return F.element_at("key", 1).cast("bigint").alias("user_id")


def q_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_events(parsed_messages(spark, sf_dir))
    return ev.groupBy("op").agg(
        F.count("*").alias("n"),
        F.countDistinct(F.element_at("key", 1).cast("bigint")).alias("n_users"),
        F.min(F.col("step").cast("bigint")).alias("min_step"),
        F.max(F.col("step").cast("bigint")).alias("max_step"),
    )


def q_stale_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_events(parsed_messages(spark, sf_dir))
    fresh = ev.filter(pos() >= pos_lit(CUTOFF_US, 0))
    return fresh.groupBy("op").agg(
        F.count("*").alias("n"),
        F.max(F.col("step").cast("bigint")).alias("max_step"),
    )


def q_quorum(spark: SparkSession, sf_dir: str) -> DataFrame:
    hbs = split_heartbeats(parsed_messages(spark, sf_dir))
    lh = latest_heartbeats(hbs)
    return lh.agg(
        F.min("hb").alias("q"), F.count("*").alias("n_partitions")
    ).select(
        F.col("q.step").cast("bigint").alias("quorum_step"),
        F.col("q.tx_id").cast("bigint").alias("quorum_tx"),
        F.col("n_partitions"),
    )


def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_events(parsed_messages(spark, sf_dir))
    return compact_changes(ev).select(
        _user_id(),
        F.col("op").alias("final_op"),
        F.col("step").cast("bigint").alias("last_step"),
        F.col("tx_id").cast("bigint").alias("last_tx"),
    )


def q_compact_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_events(parsed_messages(spark, sf_dir))
    upd = compact_changes(ev).filter(F.col("op") == "update")
    return upd.select(_user_id(), F.explode("columns").alias("col_name", "col_value"))


def q_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One quorum batch through the full kernel onto an empty table.

    NOTE on batch boundaries: the reference's erase-then-update
    cancellation means a cancelled DELETE never executes, so splitting
    the same events into two sequential batches can legitimately leave
    different column values than one batch (pre-boundary columns survive
    an intra-batch erase of a later batch). Sequential-batch semantics
    are covered in tests/test_casting_apply.py; the oracle here checks
    the single-batch path.
    """
    ev = split_events(parsed_messages(spark, sf_dir))
    dst0 = empty_df(spark, "user_id bigint, value double, props string")
    d1 = apply_batch(dst0, ev, STATE_META)
    return d1.select(
        "user_id", F.round("value", 2).alias("value"), F.col("props")
    )


def q_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parsed_messages(spark, sf_dir)
    late = out_of_order_events(split_events(parsed), split_heartbeats(parsed))
    return late.groupBy(F.col("partition").cast("bigint").alias("p")).agg(
        F.count("*").alias("n_late")
    )


ORDERS_META = TableMeta(
    "orders_state",
    primary_key=["o_custkey"],
    columns={
        "o_custkey": "Int64",
        "totalprice": "Optional<Double>",
        "orderdate": "Optional<Timestamp>",
    },
)


def q_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed apply over `orders`: key=o_custkey, position=(orderdate
    micros, orderkey); column sets vary by o_orderstatus so the merge +
    Timestamp/Double casting paths run end-to-end; orderkey%13==0 rows
    become erases."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cores = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < cores:
        o = o.repartition(cores)

    ts_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    od_wire = F.date_format(
        F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    )
    key = F.array(F.col("o_custkey").cast("string"))
    ts_arr = F.array(ts_us, F.col("o_orderkey"))
    update_map = (
        F.when(F.col("o_orderstatus") == "O",
               F.create_map(F.lit("totalprice"), F.col("o_totalprice").cast("string")))
        .when(F.col("o_orderstatus") == "P",
              F.create_map(F.lit("orderdate"), od_wire))
        .otherwise(F.create_map(
            F.lit("totalprice"), F.col("o_totalprice").cast("string"),
            F.lit("orderdate"), od_wire))
    )
    value = (
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.to_json(F.struct(
                F.expr("cast(map() as map<string,string>)").alias("erase"),
                key.alias("key"), ts_arr.alias("ts"))),
        ).otherwise(
            F.to_json(F.struct(
                update_map.alias("update"), key.alias("key"), ts_arr.alias("ts")))
        )
    )
    wire = o.select(
        F.lit(0).alias("partition"),
        F.col("o_orderkey").cast("long").alias("offset"),
        value.alias("value"),
    )
    # barrier the PARSED frame, then filter on top: a barrier after the
    # split filter would still push the predicate into the parse chain
    # during its own first materialization (~12 re-parses); see
    # parsed_messages for the localCheckpoint rationale
    ev = split_events(
        parse_messages(wire, table_id_col=None).localCheckpoint(eager=False)
    )
    dst0 = empty_df(spark, "o_custkey bigint, totalprice double, orderdate timestamp")
    out = apply_batch(dst0, ev, ORDERS_META)
    return out.select(
        "o_custkey", F.round("totalprice", 2).alias("totalprice"), F.col("orderdate")
    )


def q_keyfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/C2 driver-gated: drop events whose SERIALIZED key (fmt byte +
    table path + raw fragments; key_serializer.go layout) is in the
    blocked set (users with id % 25 == 0), then profile the kept stream
    per op — including the summed byte length of every kept serialized
    key, which pins the binary layout itself in the oracle comparison."""
    from .keyfilter import filter_blocked_keys, serialize_key_col

    ev = split_events(parsed_messages(spark, sf_dir))
    raw = load_events_ns(spark, sf_dir)
    blocked = (
        raw.filter((F.col("user_id") % 25) == 0)
        .select(F.col("user_id").cast("string").alias("_u"))
        .distinct()
        .select(
            serialize_key_col(F.array(F.col("_u")), "events").alias("key")
        )
    )
    kept = filter_blocked_keys(ev, blocked, table_path="events")
    k = serialize_key_col("key", "events")
    return kept.groupBy("op").agg(
        F.count("*").alias("n"),
        F.countDistinct(F.element_at("key", 1).cast("bigint")).alias("n_users"),
        F.sum(F.length(k)).cast("bigint").alias("key_bytes"),
    )


def q_problem_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/S12 driver-gated: out-of-order problem events consult the
    command queue; the LAST matching command wins. Commands are
    synthesized deterministically from the events table (every
    event_id % 7 == 0 position gets a command — skip for even ids,
    apply for odd — and every % 14 == 0 position gets a LATER
    overriding 'apply'), so the resolution, including last-wins, is
    replicable in SQL."""
    from .cmdqueue import parse_commands, resolve_problem_actions

    parsed = parsed_messages(spark, sf_dir)
    problems = out_of_order_events(split_events(parsed), split_heartbeats(parsed))

    raw = load_events_ns(spark, sf_dir)
    base = raw.filter(F.col("event_id") % 7 == 0)
    mic = F.expr("CAST(ts DIV 1000 AS LONG)")

    def cmd_json(action_col):
        return F.to_json(
            F.struct(
                F.lit("inst1").alias("aardapel_instance_id"),
                F.lit("/topic/events").alias("path"),
                F.array(F.col("user_id").cast("string")).alias("key"),
                F.array(mic, F.col("event_id")).alias("ts"),
                action_col.alias("action"),
            )
        )

    first_action = F.when(F.col("event_id") % 2 == 0, F.lit("skip")).otherwise(
        F.lit("apply")
    )
    c1 = base.select(cmd_json(first_action).alias("value"))
    c2 = base.filter(F.col("event_id") % 14 == 0).select(
        cmd_json(F.lit("apply")).alias("value")
    )
    cmds = parse_commands(c1.unionByName(c2))
    resolved = resolve_problem_actions(problems, cmds, "inst1", "/topic/events")
    return resolved.select(
        F.element_at("key", 1).cast("bigint").alias("user_id"),
        F.col("step").cast("bigint").alias("step"),
        F.col("tx_id").cast("bigint").alias("tx_id"),
        F.coalesce(F.col("action"), F.lit("none")).alias("action"),
    )
