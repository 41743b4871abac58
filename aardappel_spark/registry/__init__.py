"""Query inventory: every implemented operator as (spark_fn, oracle_sql).

The driver runs each Spark query at sf0.01 against its DuckDB oracle
(row count + schema + order-insensitive value hash), so every pair here
must agree on COLUMN NAMES and value rendering. Numeric outputs are
bigint, or doubles produced by identical exact-decimal -> double -> round
pipelines in both engines.

Split into per-domain modules (round 8); each module populates the shared
``QUERIES``/``ORACLES`` dicts in ``_dicts`` at import time. Import order is
topological on cross-module oracle/function references (corpus and graph
consume ann's kNN oracle). ``_shared`` holds the helpers, CTE constants and
per-session caches every domain uses. The flat ``aardappel_spark.registry``
namespace (helpers, ``q_*`` functions, caches) is preserved by hoisting each
module's names below, so existing imports keep working unchanged.

The order of ``QUERIES``/``ORACLES`` is the correctness gate's order:
each round's gate checks only the first 50 entries, so ``gate_order``
puts the queries that need a fresh gate first (see its docstring).
"""

from __future__ import annotations

import glob
import json
import os
import re

from . import _dicts, _shared
from . import cdc, tpch, events, dedup, ann, text, corpus, graph, sales, layout, misc

from ._shared import *  # noqa: F401,F403

_MODULES = (_shared, cdc, tpch, events, dedup, ann, text, corpus, graph,
            sales, layout, misc)
for _m in _MODULES:
    for _k, _v in vars(_m).items():
        if not _k.startswith("__") and _k not in globals():
            globals()[_k] = _v
del _m, _k, _v

# Queries whose plan or output changed after their latest gate row, in
# the order they lead the gate. A name leaves this list once a committed
# CORRECTNESS artifact newer than its change holds its row; a change to a
# query's plan or output adds it here in the same commit.
_REGATE: list[str] = [
    "multimodal_video_frames",  # fused into one Arrow kernel (r14); last gated r11
    "multimodal_audio_stats",  # kind filtered before the Python boundary (r13); r11
    "dedup_span",  # reads the shared gram census (r13); r10
    "doc_dup_coverage",  # reads the shared gram census (r13); r10
    "doc_boilerplate",  # pins its (doc, gram) aggregate (r13); r9
    "dedup_setsim_stream",  # manifest-published stores, pairs collected in the sink; r14
    "dedup_incremental_stream",  # manifest-published store, summary taken in the sink; r14
]

# the committed CORRECTNESS artifacts sit next to the package
_ARTIFACT_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def latest_gate_rounds() -> dict[str, int]:
    """Query name -> the newest round whose ``CORRECTNESS_rNN.json`` holds
    a row for it (each artifact is one gate run's 50 rows)."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_ARTIFACT_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def gate_order(names, latest: dict[str, int], regate=_REGATE) -> list[str]:
    """Each round's correctness gate checks the first 50 queries. Lead with
    ``regate``, then every other query by its latest gate round, oldest
    first (never gated counts as oldest; ties keep registry order). With
    no artifacts the order is plain registry order."""
    if not latest:
        return list(names)
    lead = [k for k in regate if k in names]
    rest = sorted((k for k in names if k not in lead), key=lambda k: latest.get(k, 0))
    return lead + rest


_order = gate_order(_dicts.QUERIES, latest_gate_rounds())
QUERIES = {k: _dicts.QUERIES[k] for k in _order}
ORACLES = {k: _dicts.ORACLES[k] for k in _order}
