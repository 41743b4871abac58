"""JVM-native small local DataFrames (guide §4: eliminate the
JVM<->Python boundary).

``spark.createDataFrame(list_of_tuples, ddl)`` builds a
**pickled-RDD-backed** frame: every evaluation of the plan round-trips
through Python workers. Measured on the bench VM, a ONE-ROW frame built
this way costs ~1.7 s per evaluation and ~8-10 s per parquet write;
built inside a foreachBatch kernel that cost lands on EVERY micro-batch
(it was ~6 s/batch of the streaming setsim twin's trigger time — the
single largest term). These helpers build the same frames JVM-natively:

- ``empty_df``: zero-row frame via ``spark.range(0)`` plus typed NULL
  casts — zero tasks at evaluation, no Python workers, and the exact
  schema ``createDataFrame([], ddl)`` would produce (DDL fields default
  to nullable).
- ``local_df``: small driver-local row sets shipped through Arrow
  (``createDataFrame(pandas_df, schema)``): the rows land in the JVM
  once at creation and evaluation never launches Python workers
  (~0.5 s for the 1-row write the pickled path did in 8-10 s). Values
  are passed as ``dtype=object`` so ints/floats/strings/arrays reach
  Arrow unmodified and the explicit schema pins the Spark types — the
  same (value, declared type) pairs the pickled path materialized. On
  any Arrow conversion failure it falls back to the original pickled
  path, so behaviour can only be identical.

``_unpin`` releases frames pinned with ``localCheckpoint``: the
per-batch pins of the CDC engine and of the streaming dedup kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _as_struct(schema) -> StructType:
    return StructType.fromDDL(schema) if isinstance(schema, str) else schema


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """Zero-row frame with the given schema, JVM-native (no Python-RDD)."""
    st = _as_struct(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
    )


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local frame via Arrow — JVM-resident at evaluation."""
    st = _as_struct(schema)
    rows = [tuple(r) for r in rows]
    if not rows:
        return empty_df(spark, st)
    try:
        import pandas as pd

        pdf = pd.DataFrame(
            rows, columns=[f.name for f in st.fields], dtype=object
        )
        return spark.createDataFrame(pdf, st)
    except Exception:
        # fall back to the pickled path rather than change behaviour
        return spark.createDataFrame(rows, st)


def _unpin(*frames: DataFrame) -> None:
    """Release the blocks of frames pinned with ``localCheckpoint``.
    Dropping the Python frame frees them only once the JVM's GC runs
    the ContextCleaner, so a long stream would otherwise hold every
    batch's pins in the block manager."""
    for df in frames:
        # what the ContextCleaner runs; RDD.unpersist would also warn
        # that a local checkpoint cannot be recomputed
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
            df._jdf.logicalPlan().rdd().id(), False
        )
