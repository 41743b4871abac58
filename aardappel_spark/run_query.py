"""Query-runner CLI: run any registry query (and optionally its DuckDB
oracle side-by-side) from the command line.

    python -m aardappel_spark.run_query dedup_exact --sf-dir /data/sf0.01
    python -m aardappel_spark.run_query tpch_q1 --json --limit 0
    python -m aardappel_spark.run_query corpus_funnel --oracle
    python -m aardappel_spark.run_query --list

The service lifecycle (`python -m aardappel_spark`) mirrors the
reference binary; this runner is the analytics face of the engine —
the command a pipeline operator reaches for to inspect one signal
without writing a driver script.
"""

from __future__ import annotations

import argparse
import json
import sys


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per parquet table of
    ``sf_dir``: the oracle's input. ``documents`` mirrors the engine's
    ingest normalization (registry._docs), so NULL text reads as ''
    on both sides of a comparison."""
    import glob
    import os

    import duckdb

    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).removesuffix(".parquet")
        cols = "*"
        if name == "documents":
            cols = "doc_id, COALESCE(text, '') AS text, lang, source, n_chars"
        con.execute(f"CREATE VIEW {name} AS SELECT {cols} FROM read_parquet('{p}')")
    return con


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m aardappel_spark.run_query",
        description="Run a registry query over a testdata-shaped parquet dir.",
    )
    p.add_argument("query", nargs="?", help="query name (see --list)")
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="directory holding the parquet tables (default sf0.01)",
    )
    p.add_argument(
        "--limit",
        type=int,
        default=20,
        help="max rows to print (0 = all)",
    )
    p.add_argument(
        "--json",
        action="store_true",
        help="emit JSON lines instead of a table",
    )
    p.add_argument(
        "--oracle",
        action="store_true",
        help="also run the DuckDB oracle and report row/value agreement",
    )
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument(
        "--master",
        default=None,
        help="Spark master override (default: local[*])",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .registry import ORACLES, QUERIES

    if args.list:
        for name in QUERIES:
            print(name)
        return 0
    if not args.query:
        print("error: query name required (or --list)", file=sys.stderr)
        return 2
    if args.query not in QUERIES:
        import difflib

        near = difflib.get_close_matches(args.query, QUERIES, n=3)
        hint = f" (did you mean: {', '.join(near)}?)" if near else ""
        print(f"error: unknown query {args.query!r}{hint}", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = (
        get_spark("run-query", master=args.master)
        if args.master
        else get_spark("run-query")
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query](spark, args.sf_dir)
    rows = df.collect()
    shown = rows if args.limit == 0 else rows[: args.limit]
    if args.json:
        for r in shown:
            print(json.dumps(r.asDict(), default=str))
    else:
        spark.createDataFrame(shown or [], df.schema).show(
            n=len(shown) if shown else 0, truncate=False
        )
    print(f"# {len(rows)} rows ({args.query} @ {args.sf_dir})", file=sys.stderr)

    if args.oracle:
        cur = oracle_db(args.sf_dir).execute(ORACLES[args.query])
        orows = cur.fetchall()
        ok = len(orows) == len(rows)
        print(
            f"# oracle: {len(orows)} rows -> "
            + ("row-count MATCH" if ok else "row-count MISMATCH"),
            file=sys.stderr,
        )
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
