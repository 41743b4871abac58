"""Oracle output-type guard (r6 verdict item 1).

The per-round driver hash-compares Spark and DuckDB values through the
pandas path. DuckDB promotes ``sum(BIGINT)`` — plain or windowed — to
HUGEINT, and pandas renders HUGEINT as float64 ("27165.0" vs Spark's
27165), so an oracle that lets a HUGEINT (or DECIMAL / UHUGEINT) reach
its final SELECT hash-fails on the driver even though fetchall-based
local sweeps stay green (exact Python ints).  This bit ``corpus_gini``
and ``customer_pareto`` in round 6; both oracles now CAST.  This guard
DESCRIBEs every registered oracle and rejects any pandas-fragile output
column type so the class can never recur.
"""

import os

import pytest

from aardappel_spark.run_query import oracle_db

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Types whose DuckDB->pandas conversion diverges from the exact-int
# fetchall path (and from Spark's own rendering of the same values).
FRAGILE_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def duck():
    con = oracle_db(SF_DIR)
    yield con
    con.close()


def test_no_pandas_fragile_oracle_output_types(duck):
    import __spark_entry__ as em

    offenders = []
    for name, sql in em.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in desc:
            if typ.upper().startswith(FRAGILE_PREFIXES):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle output columns with pandas-fragile DuckDB types "
        "(wrap in CAST(... AS BIGINT) — the driver comparator renders "
        f"these as float64 and the hash gate fails): {offenders}"
    )


def test_ivf_library_default_matches_gated_tier_default():
    """r6 verdict item 4: the library op's default n_probe must equal the
    calibrated tier default the gated ``ann_probe_curve``/``ann_recall_ivf``
    queries ship with (8, read off the r5 recall curve at sf0.1)."""
    import inspect

    from aardappel_spark.ops.similarity import ivf_topk

    assert inspect.signature(ivf_topk).parameters["n_probe"].default == 8
