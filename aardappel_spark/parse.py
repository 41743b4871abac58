"""Wire-format parsing: raw CDC JSON messages -> typed change events.

Behavioral spec (reference, not code):
  - message kinds + dispatch: /root/reference/internal/reader/reader.go:26-30,237-290
  - tx parse rules:           /root/reference/internal/util/reader/parse.go:25-63
  - heartbeat parse:          /root/reference/internal/util/reader/parse.go:65-85

Rules enforced:
  * exactly one of ``update`` / ``erase`` present for a change (parse.go:33-36);
  * ``newImage`` wins over ``update`` when non-empty (parse.go:40-44);
  * erase carries an empty column map (parse.go:47-50);
  * ``ts`` / ``resolved`` must be exactly 2 elements -> (step, tx_id)
    (parse.go:54-60,73-77);
  * values stay RAW (strings of the JSON fragments) until cast against the
    destination schema at apply time (late binding, SURVEY.md §1.1).

Everything is JVM-side ``from_json`` + expressions — no Python per-row work,
so parsing scales with executor count and stays inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .types import OP_ERASE, OP_RESOLVED, OP_UPDATE

# Permissive wire schema: every kind's fields; absent -> null.
WIRE_SCHEMA = (
    "struct<"
    "update:map<string,string>, "
    "newImage:map<string,string>, "
    "erase:map<string,string>, "
    "key:array<string>, "
    "ts:array<decimal(20,0)>, "
    "resolved:array<decimal(20,0)>"
    ">"
)

ERR_UNKNOWN_KIND = "unknown change kind"  # parse.go:33-36 / reader.go:288
ERR_TS_ARITY = "unexpected ts format"  # parse.go:54-60
ERR_RESOLVED_ARITY = "unexpected resolved ts format"  # parse.go:73-77
ERR_NOT_JSON = "message is not valid json"


def _is_change(p: Column) -> Column:
    # exactly one of update/erase, and not a resolved message
    return p["resolved"].isNull() & (
        p["update"].isNotNull() != p["erase"].isNotNull()
    )


def parse_messages(
    df: DataFrame,
    value_col: str = "value",
    table_id_col: str | None = "table_id",
    partition_col: str | None = "partition",
    offset_col: str | None = "offset",
) -> DataFrame:
    """Parse raw JSON messages into the CDC event schema + ``error`` column.

    Output columns: table_id, partition, offset, op, key, columns, step,
    tx_id, seq, error. Bad messages get a non-null ``error`` instead of
    failing the job — routing them (DLQ vs fail) is the caller's policy
    (reference problem-strategy, config.go:63-76). ``seq`` is the arrival
    stamp: source offset when available, else monotonically increasing id.

    PERFORMANCE: the JSON is parsed into a single ``_p`` column in its own
    projection, and every derived column references ``_p``. Keeping the
    (expensive, codegen-fallback) from_json in a dedicated Project stops
    Catalyst's CollapseProject/filter-pushdown from substituting — and
    re-evaluating — the parse once per referencing expression (measured
    ~10x slowdown when inlined).
    """
    ids = [c for c in (table_id_col, partition_col, offset_col) if c]
    df = df.select(*ids, F.from_json(F.col(value_col), WIRE_SCHEMA).alias("_p"))
    p = F.col("_p")

    table_id = (
        F.col(table_id_col).cast("int") if table_id_col else F.lit(0)
    ).alias("table_id")
    partition = (
        F.col(partition_col).cast("int") if partition_col else F.lit(0)
    ).alias("partition")
    offset = (
        F.col(offset_col).cast("long")
        if offset_col
        else F.monotonically_increasing_id()
    ).alias("offset")

    is_resolved = p["resolved"].isNotNull()
    is_change = _is_change(p)

    op = (
        F.when(is_resolved, F.lit(OP_RESOLVED))
        .when(is_change & p["erase"].isNotNull(), F.lit(OP_ERASE))
        .when(is_change, F.lit(OP_UPDATE))
        .alias("op")
    )

    # newImage wins if present AND non-empty (parse.go:40-44); erase -> {}.
    columns = (
        F.when(p["erase"].isNotNull(), F.expr("cast(map() as map<string,string>)"))
        .when(
            p["newImage"].isNotNull() & (F.size(p["newImage"]) > 0), p["newImage"]
        )
        .otherwise(p["update"])
        .alias("columns")
    )

    ts = F.when(is_resolved, p["resolved"]).otherwise(p["ts"])
    # F.get (not element_at): out-of-bounds yields NULL instead of an ANSI
    # runtime error, so a short ts array flags ERR_TS_ARITY rather than
    # crashing the job (found by the parse fuzz).
    step = F.get(ts, 0).alias("step")
    tx_id = F.get(ts, 1).alias("tx_id")

    # struct-typed from_json yields an ALL-NULL struct for corrupt input
    # (PERMISSIVE mode); checking every field avoids a second parse pass.
    not_json = (
        p["update"].isNull()
        & p["newImage"].isNull()
        & p["erase"].isNull()
        & p["key"].isNull()
        & p["ts"].isNull()
        & p["resolved"].isNull()
    )

    error = (
        F.when(not_json, F.lit(ERR_NOT_JSON))
        .when(is_resolved & (F.size(p["resolved"]) != 2), F.lit(ERR_RESOLVED_ARITY))
        .when(~is_resolved & ~is_change, F.lit(ERR_UNKNOWN_KIND))
        .when(is_change & (p["ts"].isNull() | (F.size(p["ts"]) != 2)), F.lit(ERR_TS_ARITY))
        .otherwise(F.lit(None).cast("string"))
        .alias("error")
    )

    out = df.select(
        table_id,
        partition,
        offset,
        op,
        p["key"].alias("key"),
        columns,
        step,
        tx_id,
        (
            F.col(offset_col).cast("long")
            if offset_col
            else F.monotonically_increasing_id()
        ).alias("seq"),
        error,
    )
    # NOTE for callers: Catalyst pushes downstream predicates through this
    # projection, substituting the from_json chain into each condition —
    # measured at ~24 re-parses per row for a typical filter+agg pipeline.
    # Batch kernels should pin the parsed result (parse once per
    # micro-batch — what foreachBatch does naturally); see
    # cdc_queries.parsed_messages.
    return out


def is_event() -> Column:
    """Row predicate of ``split_events`` over parsed messages."""
    return F.col("error").isNull() & F.col("op").isin(OP_UPDATE, OP_ERASE)


def is_heartbeat() -> Column:
    """Row predicate of ``split_heartbeats`` over parsed messages."""
    return F.col("error").isNull() & (F.col("op") == OP_RESOLVED)


def split_events(parsed: DataFrame) -> DataFrame:
    """Data changes only (update/erase), valid rows."""
    return parsed.filter(is_event())


def split_heartbeats(parsed: DataFrame) -> DataFrame:
    """Resolved-timestamp (heartbeat) rows: (table_id, partition, step, tx_id)."""
    return parsed.filter(is_heartbeat()).select(
        "table_id", "partition", "offset", "step", "tx_id", "seq"
    )


def split_problems(parsed: DataFrame) -> DataFrame:
    """Rows with parse errors — DLQ candidates (reference S11)."""
    return parsed.filter(F.col("error").isNotNull())


def strict(parsed: DataFrame) -> DataFrame:
    """Fail the job on the first parse error (problem_strategy='stop',
    reference types.go:16-17)."""
    err = F.col("error")
    return parsed.withColumn(
        "error",
        F.when(err.isNotNull(), F.raise_error(F.concat(F.lit("parse: "), err))).otherwise(err),
    )
