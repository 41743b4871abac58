"""CDC stream sources (S1): one reader API over Kafka topics and file
directories, emitting the raw-message shape the engine consumes
(partition, offset, value).

Reference: per-stream ordered topic read with per-partition logical
readers (/root/reference/internal/reader/reader.go:145-292). Kafka's
(partition, offset) maps 1:1 onto YDB's (PartitionID, Offset); Spark's
checkpoint owns resume offsets (S5 — the reference's offset guard exists
because IT owns offsets; Spark's source checkpointing replaces it).

The Kafka path needs the spark-sql-kafka package on the cluster; the
file path (JSONL directories) is the test/dev source and needs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RAW_SCHEMA = "partition int, offset long, value string"


def load_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` table with `ts` normalized to BIGINT epoch-nanoseconds.

    The driver's generator has shipped events.ts as TIMESTAMP(NANOS)
    (which Spark reads as a nanos-since-epoch long behind
    `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us] (which
    Spark reads as TIMESTAMP_NTZ). Every downstream kernel works on one
    canonical layout: long nanos. The session timezone is pinned to UTC
    (session.py), so the NTZ->LTZ cast is value-preserving and
    `unix_micros` agrees exactly with DuckDB's `epoch_us(ts)` in the
    oracles.
    """
    path = f"{sf_dir}/events.parquet"
    ev = spark.read.parquet(path)
    if dict(ev.dtypes).get("ts") != "bigint":
        ev = ev.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        )
    else:
        _assert_ts_epoch_nanos(path)
    return ev


# paths whose int64 ts column has been verified to be epoch-NANOS
_TS_UNIT_OK: set[str] = set()

# plausible epoch-nanos range: ~1970-04 (1e16 ns) .. ~2128 (5e18 ns).
# Epoch-MICROS for any modern date is ~1e15-1e16 (below the lower bound
# for everything before 2287), so a generator variant shipping int64
# micros fails loudly instead of flowing through 1000x too small (every
# downstream `ts div 1000` would silently be wrong).
_NANOS_MIN = 10**16
_NANOS_MAX = 5 * 10**18


def _assert_ts_epoch_nanos(path: str) -> None:
    """Metadata-only magnitude check on the raw-int64 ts layout (no Spark
    job: reads parquet row-group statistics via pyarrow). Handles both a
    single parquet file and a Spark-written directory dataset (part
    files); any reader/stats surprise degrades to a no-op rather than
    masking the real load with an opaque error — the guard is advisory,
    the hard failure it exists for is the wrong-unit case."""
    if path in _TS_UNIT_OK:
        return
    import pyarrow.parquet as pq

    lo, hi = None, None
    try:
        ds = pq.ParquetDataset(path)
        for frag in ds.fragments:
            f = pq.ParquetFile(frag.path)
            idx = f.schema_arrow.get_field_index("ts")
            if idx < 0:
                return
            for rg in range(f.metadata.num_row_groups):
                stats = f.metadata.row_group(rg).column(idx).statistics
                if stats is None or not stats.has_min_max:
                    return  # no stats written: nothing cheap to check
                # min_raw/max_raw are the physical int64 values — for the
                # two layouts Spark surfaces as bigint (plain INT64, or
                # TIMESTAMP(NANOS) under nanosAsLong) the raw value is
                # exactly what the bigint column will hold.
                lo = stats.min_raw if lo is None else min(lo, stats.min_raw)
                hi = stats.max_raw if hi is None else max(hi, stats.max_raw)
    except (OSError, ValueError, KeyError, TypeError):
        return  # unreadable metadata: leave validation to the real read
    if lo is not None and not (_NANOS_MIN <= lo and hi <= _NANOS_MAX):
        raise ValueError(
            f"events.ts at {path} is int64 but its range [{lo}, {hi}] is not "
            "epoch-nanoseconds (epoch-micros or -millis generator variant?); "
            "refusing to treat it as nanos"
        )
    _TS_UNIT_OK.add(path)


def read_file_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """JSONL directory source: one object per line with partition/offset/
    value fields (what tests and local runs use)."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def kafka_reader_options(
    bootstrap_servers: str,
    topics: str | list[str],
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option set the Kafka reader is configured with —
    factored out so it is testable without a broker. ``failOnDataLoss``
    is deliberately true: the reference refuses to silently skip
    truncated topic ranges (its resume-offset guard), and so do we."""
    if isinstance(topics, list):
        topics = ",".join(topics)
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def project_kafka_records(
    df: DataFrame, table_id_by_topic: dict[str, int] | None = None
) -> DataFrame:
    """Kafka record frame (topic, partition, offset, binary value) ->
    the engine's raw shape (table_id?, partition, offset, string value).
    Pure column logic, tested on static frames with the Kafka schema."""
    cols = [
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        F.col("value").cast("string").alias("value"),
    ]
    if table_id_by_topic is not None:
        mapping = F.create_map(
            *[x for t, i in table_id_by_topic.items() for x in (F.lit(t), F.lit(i))]
        )
        cols.insert(0, mapping[F.col("topic")].alias("table_id"))
    return df.select(*cols)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str | list[str],
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    table_id_by_topic: dict[str, int] | None = None,
) -> DataFrame:
    """Kafka topic(s) -> (table_id?, partition, offset, value).

    ``maxOffsetsPerTrigger`` is the back-pressure bound — the analog of
    the reference's 1000-event drains and channel caps (§6 constants).
    Multi-topic subscription restores the reference's one-queue-per-
    process model (O1): a single streaming DataFrame carries every
    stream, discriminated into table ids via ``table_id_by_topic``.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topics, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return project_kafka_records(reader.load(), table_id_by_topic)


# the record shape Spark's kafka source emits from load() (its fixed
# output schema), minus headers — what read_kafka_stream projects from
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)

# on-disk shape of a recorded Kafka batch: binary fields as base64 text
RECORDED_KAFKA_SCHEMA = (
    "topic string, partition int, offset long, key string, value string, "
    "timestamp_ms long"
)


def record_kafka_fixture(path: str, records) -> None:
    """Write ``(topic, partition, offset, key bytes|None, value bytes,
    ts_ms)`` tuples as one recorded JSONL batch file for
    ``read_recorded_kafka_stream`` (base64 for the binary fields)."""
    import base64
    import json
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for topic, partition, offset, key, value, ts_ms in records:
            f.write(
                json.dumps(
                    {
                        "topic": topic,
                        "partition": partition,
                        "offset": offset,
                        "key": base64.b64encode(key).decode() if key is not None else None,
                        "value": base64.b64encode(value).decode(),
                        "timestamp_ms": ts_ms,
                    }
                )
                + "\n"
            )


def read_recorded_kafka_stream(
    spark: SparkSession,
    path: str,
    table_id_by_topic: dict[str, int] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay recorded Kafka record batches through the live reader's
    EXACT post-``load()`` path (S1 without a broker, which the sandbox
    lacks): each recorded row is reconstructed into the kafka source's
    record shape (``KAFKA_RECORD_SCHEMA`` — binary key/value, topic,
    partition, offset, event timestamp) and fed to the same
    ``project_kafka_records`` projection ``read_kafka_stream`` uses, so
    everything downstream of the broker connection — binary decode,
    topic->table_id discrimination, per-partition offset order — is the
    production code path. Reference semantics: ordered per-partition
    topic read (internal/reader/reader.go:145-292)."""
    reader = spark.readStream.schema(RECORDED_KAFKA_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    records = reader.json(path).select(
        F.unbase64(F.col("key")).alias("key"),
        F.unbase64(F.col("value")).alias("value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.timestamp_millis(F.col("timestamp_ms")).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    return project_kafka_records(records, table_id_by_topic)


def read_file_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch flavor of the file source (for the pure-batch kernel and the
    command-topic drain, S12)."""
    return spark.read.schema(RAW_SCHEMA).json(path)
