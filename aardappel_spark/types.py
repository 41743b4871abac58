"""Core data model: CDC change-event schema and virtual-timestamp positions.

Mirrors the reference's data model (not its code):
  - change event  -> /root/reference/internal/types/types.go:24-32
  - op enum       -> /root/reference/internal/types/types.go:7-22
  - position      -> /root/reference/internal/types/types.go:56-70 and
                     README.md:124-132 (lexicographic (step, tx_id))

Positions and Uint64 wire values use DECIMAL(20,0): the reference's own
tests exercise 2**64-1 (gen_query_test.go:59), which a LongType cannot
hold. Spark orders structs field-by-field, so ``struct(step, tx_id)``
comparisons implement the reference's position ordering directly.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Operation kinds (reference: types.go:7-22).
OP_UPDATE = "update"
OP_ERASE = "erase"
OP_RESOLVED = "resolved"  # heartbeat

POSITION_TYPE = StructType(
    [
        StructField("step", DecimalType(20, 0), False),
        StructField("tx_id", DecimalType(20, 0), False),
    ]
)

# Parsed change-event schema (FIXTURES.md §2). ``seq`` is the arrival-order
# stamp: the reference's priority queue preserves arrival order for equal
# positions (priority_queue.go:34-41); within a Spark batch we stamp it at
# ingest (monotonically_increasing_id or source offset).
CDC_EVENT_SCHEMA = StructType(
    [
        StructField("table_id", IntegerType(), False),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("op", StringType(), False),
        StructField("key", ArrayType(StringType()), True),
        StructField("columns", MapType(StringType(), StringType()), True),
        StructField("step", DecimalType(20, 0), False),
        StructField("tx_id", DecimalType(20, 0), False),
        StructField("seq", LongType(), False),
    ]
)

UINT64_MAX = Decimal(2**64 - 1)


def pos(step_col: str | Column = "step", txid_col: str | Column = "tx_id") -> Column:
    """Position struct column; lexicographic struct order == reference order."""
    step = F.col(step_col) if isinstance(step_col, str) else step_col
    txid = F.col(txid_col) if isinstance(txid_col, str) else txid_col
    return F.struct(step.alias("step"), txid.alias("tx_id"))


def pos_lit(step: int | Decimal, tx_id: int | Decimal) -> Column:
    """Literal position for comparisons against ``pos()`` structs."""
    return F.struct(
        F.lit(Decimal(step)).cast(DecimalType(20, 0)).alias("step"),
        F.lit(Decimal(tx_id)).cast(DecimalType(20, 0)).alias("tx_id"),
    )


def full_pos(
    step_col: str = "step", txid_col: str = "tx_id", seq_col: str = "seq"
) -> Column:
    """Total-order position: (step, tx_id, arrival seq) — reference
    priority_queue.go:11-15 (equal positions keep arrival order)."""
    return F.struct(
        F.col(step_col).alias("step"),
        F.col(txid_col).alias("tx_id"),
        F.col(seq_col).alias("seq"),
    )


def bucket_col(n_buckets: int, *cols: str | Column) -> Column:
    """The one bucket function of every bucketed store: the CDC
    destination's ``pkb`` and the dedup stores' ``bucket``. Writers and
    pruning readers must agree on it exactly, or a pruned read misses the
    bucket a key was written to."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")
