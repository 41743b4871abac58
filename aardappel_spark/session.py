"""SparkSession factory with the engine's required configuration.

Scale notes: these settings are chosen so the same plans run on a
1000-executor cluster — AQE handles skew/coalescing at runtime, Arrow
keeps any pandas-UDF path vectorized, and LAST_WIN map semantics are
required by the compaction kernel (compact.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs the engine REQUIRES for correctness (not just speed).
REQUIRED_CONFS = {
    # compact.merge relies on map_concat keeping the LAST value per key
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

# Configs we want everywhere for performance; all safe at cluster scale.
DEFAULT_CONFS = {
    # the driver's testdata parquet uses TIMESTAMP(NANOS); Spark 4 only
    # reads it as a nanos-since-epoch long behind this flag
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # parquet scans: 128 MB split target is the right default for TB-scale
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Static conf (builder only). Spark's default keeps 100 compiled code
    # entries. A perfbench cdc_stream run compiles 113 distinct ones,
    # dedup_stream 192, a session that also runs queries far more. Below
    # the working set the LRU evicts code the next micro-batch needs
    # again: a CDC batch recompiled ~50 entries, identical to the last
    # batch's, and the JIT re-warmed each. 2000 holds a service run's
    # working set with 10x headroom.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def apply_required_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine needs on an existing session."""
    for k, v in {**REQUIRED_CONFS, **DEFAULT_CONFS}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session; builder path sets it
    return spark


def _host_driver_mem() -> str:
    """Driver heap for this host: 16g, capped at 2/5 of physical memory.
    The Python side needs the rest: an sf0.1 oracle sweep's Python
    process peaked at 8.4 GB RSS on a 15 GB host, where a 16g heap was
    OOM-killed and a 6g one passed."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(1, min(16, gib * 2 // 5))}g"


def get_spark(app_name: str = "aardappel-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    # Local mode runs every "executor" thread inside the driver JVM, whose
    # default heap is 1g — far too small for 32 threads plus persisted
    # shared frames, and the resulting GC pressure taxes EVERY query
    # (measured ~1.4-1.9x uniform inflation on a 71-query run). Static
    # conf: only effective for the process that launches the JVM; on a
    # cluster, executor sizing comes from the deployment instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
    )
    # performance defaults first, so the tooling hook below can override
    # them; REQUIRED (correctness) confs last, so nothing overrides those
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    # tooling hook (scale_probe): "k=v,k=v" static confs that must be set
    # before the JVM exists, e.g. spark.python.worker.reuse=false.
    # Limitation (documented): the split is a naive comma split, so
    # values containing commas (e.g. spark.driver.extraJavaOptions with
    # multiple flags) cannot be passed through this hook.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for kv in filter(None, extra.split(",")):
        k, _, v = kv.partition("=")
        k = k.strip()
        if k in REQUIRED_CONFS:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONFS may not override correctness-"
                f"required conf {k!r} (engine needs "
                f"{k}={REQUIRED_CONFS[k]!r})"
            )
        builder = builder.config(k, v.strip())
    for k, v in REQUIRED_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_required_confs(spark)
