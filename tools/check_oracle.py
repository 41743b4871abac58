"""Side-by-side correctness checker replicating the driver's comparison:
run each queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir; compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Exits 0 when every query matches, 1 when some differ or fail, and 2 when
the Spark session died mid-sweep: the sweep stops there, and the JSON
artifact (CHECK_ORACLE_JSON) names the query it died at and lists the
queries it never ran instead of counting them as failures.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from aardappel_spark.run_query import oracle_db
from aardappel_spark.session import get_spark


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return str(v)
    except ImportError:
        pass
    return str(v) if not isinstance(v, (int, str)) else v


def pandas_leg_problems(con, sql, s_cols, s_rows):
    """Driver-comparator-faithful leg: the per-round driver hashes DuckDB
    values through pandas (``.df()``), where HUGEINT/DECIMAL render as
    float64 while Spark's matching BIGINT stays int — invisible to the
    exact-int ``fetchall()`` leg (this is exactly how corpus_gini and
    customer_pareto passed locally but hash-failed on the r6 driver).

    A full value-hash through pandas would false-positive on DATE columns
    (``.df()`` renders DATE as midnight Timestamp), so this leg checks the
    precise divergence class instead: any column that is integer-valued on
    the Spark side but floats under DuckDB's pandas conversion while its
    fetchall values are exact ints (i.e. the float-ness comes from the
    DuckDB *type*, not from NULLs).
    """
    pdf = con.execute(sql).df()
    problems = []
    for i, c in enumerate(s_cols):
        vals = [r[i] for r in s_rows]
        ints = [v for v in vals if isinstance(v, int) and not isinstance(v, bool)]
        if not ints or len(ints) != len([v for v in vals if v is not None]):
            continue  # not a pure-int spark column
        if None in vals:
            continue  # NULLs legitimately float-ify pandas on both sides
        match = [pc for pc in pdf.columns if pc.lower() == c]
        if match and pdf[match[0]].dtype.kind == "f":
            problems.append(
                f"pandas-path renders int column '{c}' as "
                f"{pdf[match[0]].dtype} (uncast HUGEINT/DECIMAL in the "
                "oracle? driver hash would fail)"
            )
    return problems


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple("\x00none" if norm(r[i]) is None else str(norm(r[i])) for i in order)
        for r in rows
    )


def session_alive(spark) -> bool:
    """False once the Spark JVM is gone (py4j's connection is refused) or
    its context was stopped: every later query would fail the same way,
    so the sweep stops instead of recording them as query failures."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_db(sf_dir)

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    todo = [n for n in qs if not only or n in only]
    aborted_after, not_run = None, []
    for i, name in enumerate(todo):
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"ok": False, "error": f"spark: {e}",
                            "sec": round(time.time() - t0, 2)}
            if not session_alive(spark):
                aborted_after, not_run = name, todo[i + 1:]
                print(f"ABORT: the Spark session died at {name}; "
                      f"{len(not_run)} queries not run")
                break
            continue
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows={len(s_rows)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(os_[name])
            d_cols = [d[0].lower() for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            report[name] = {"ok": False, "error": f"duckdb: {e}",
                            "sec": round(time.time() - t0, 2)}
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={s_cols} duck={d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            a, b = rows_key(s_cols, s_rows), rows_key(d_cols, d_rows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if not problems:
            problems += pandas_leg_problems(con, os_[name], s_cols, s_rows)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        rows_ok = len(s_rows) == len(d_rows)
        schema_ok = sorted(s_cols) == sorted(d_cols)
        report[name] = {
            "ok": not problems,
            "rows_match": rows_ok,
            "schema_match": schema_ok,
            # hash is only meaningfully checked when rows+schema agree;
            # None marks "not comparable", not a hash failure
            "hash_match": (not problems) if (rows_ok and schema_ok) else None,
            "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "sec": round(time.time() - t0, 2),
        }

    n_ok = sum(1 for r in report.values() if r.get("ok"))
    print(f"\n{n_ok}/{len(report)} OK ({len(failures)} failed)")
    out_json = os.environ.get("CHECK_ORACLE_JSON")
    if out_json:
        import json

        out = {"sf_dir": sf_dir, "n": len(report), "n_ok": n_ok}
        if aborted_after is not None:
            # the counts cover the queries run; the rest are listed, not failed
            out["aborted_after"] = aborted_after
            out["not_run"] = not_run
        with open(out_json, "w") as fh:
            json.dump({**out, "queries": report}, fh, indent=1)
            fh.write("\n")
    if aborted_after is not None:
        return 2
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
