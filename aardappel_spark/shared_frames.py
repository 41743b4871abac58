"""Shared frames: per-session memoized builds that several queries read.

A builder decorated with ``@shared_frame(label)`` runs once per
``(applicationId, sf_dir, *args)`` and every later call returns the same
value. Keys use the applicationId, not ``id(spark)``: it is stable for the
session's lifetime (an id can be reused after GC) and is shared by sibling
sessions on one context, whose JVM blocks are shared anyway. Each builder
does its own ``.persist()`` / ``.localCheckpoint()``; this module only
memoizes, records and evicts, so decorating a builder changes no plan.

``BUILDERS`` (label -> builder, in definition order) is what the bench
warms; ``evict`` is what ``registry.clear_query_caches`` and
``cdc_queries.clear_parsed_cache`` call. The module imports nothing from
the package, so both of those can import it without a cycle.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# label -> decorated builder, in definition (import) order
BUILDERS: dict[str, Callable] = {}
# (label, applicationId, sf_dir, *bound args) -> the builder's value
_ENTRIES: dict[tuple, object] = {}


def shared_frame(label: str, **variants: tuple) -> Callable:
    """Memoize ``fn(spark, sf_dir, *args)`` in the shared-frame table.

    ``variants`` name extra warmup entries with non-default arguments,
    e.g. ``minhash_sig12=(12,)`` warms the builder at ``num_hashes=12``
    under its own label."""

    def wrap(fn: Callable) -> Callable:
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def cached(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            key = (
                label,
                spark.sparkContext.applicationId,
                *list(bound.arguments.values())[1:],
            )
            if key not in _ENTRIES:
                _ENTRIES[key] = fn(spark, sf_dir, *args, **kwargs)
            return _ENTRIES[key]

        cached.warmups = {label: (), **variants}
        BUILDERS[label] = cached
        return cached

    return wrap


def frames(value: object) -> list[DataFrame]:
    """The DataFrames inside a builder's value: the value itself, the
    frames of a tuple such as ``(assigned, centroids)``, or none for a
    plain result like a weight list."""
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, tuple):
        return [v for v in value if isinstance(v, DataFrame)]
    return []


def warmups(spark: SparkSession, sf_dir: str) -> dict[str, Callable[[], object]]:
    """Warmup label -> zero-argument build, for every builder and variant."""
    return {
        name: functools.partial(fn, spark, sf_dir, *args)
        for fn in BUILDERS.values()
        for name, args in fn.warmups.items()
    }


def evict(spark: SparkSession | None = None, label: str | None = None) -> int:
    """Drop the table's entries (only ``label``'s when given). With a live
    session: only that session's entries, and their frames are unpersisted
    JVM-side. With None: every entry, without touching the JVM (for
    teardown paths where the owning sessions are already stopped).
    Returns the number of evicted entries."""
    app = spark.sparkContext.applicationId if spark is not None else None
    evicted = 0
    for key in list(_ENTRIES):
        if (label is None or key[0] == label) and (app is None or key[1] == app):
            value = _ENTRIES.pop(key)
            evicted += 1
            if app is not None:
                for df in frames(value):
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # session already stopped; blocks died with it
    return evicted
