"""tools/check_oracle.py's sweep when the Spark session dies mid-run: a
query error leaves the sweep going, but the first error after which the
session is gone stops it with a non-zero exit; it names the query it
died at and counts no query it never ran."""

import json
import sys
from types import SimpleNamespace

from tools import check_oracle


class _DeadJVM:
    """py4j's view of a JVM that was killed: every call is refused."""

    def sc(self):
        raise ConnectionRefusedError(111, "Connection refused")


class _LiveJVM:
    def sc(self):
        return SimpleNamespace(isStopped=lambda: False)


def _fake_frame(value):
    return SimpleNamespace(columns=["x"], collect=lambda: [(value,)])


def _live_context():
    return SimpleNamespace(setLogLevel=lambda level: None, _jsc=_LiveJVM())


def _sweep(monkeypatch, tmp_path, sc, queries):
    """Run the checker's main over ``queries`` (each with a one-row
    ``SELECT 1 AS x`` oracle) on a session with context ``sc``; returns
    its exit code and its JSON artifact."""
    spark = SimpleNamespace(sparkContext=sc)
    out = tmp_path / "out.json"
    monkeypatch.setattr(check_oracle, "get_spark", lambda name: spark)
    monkeypatch.setattr(check_oracle.entry_mod, "queries", lambda: queries)
    monkeypatch.setattr(
        check_oracle.entry_mod,
        "oracle_sql",
        lambda: {n: "SELECT 1 AS x" for n in queries},
    )
    monkeypatch.setattr(sys, "argv", ["check_oracle.py", str(tmp_path)])
    monkeypatch.setenv("CHECK_ORACLE_JSON", str(out))
    rc = check_oracle.main()
    return rc, json.loads(out.read_text())


def test_sweep_stops_when_spark_session_dies(monkeypatch, tmp_path, capsys):
    sc = _live_context()

    def fails(spark, sf_dir):  # a query error: the session lives on
        raise RuntimeError("AnalysisException: no such column")

    def dies(spark, sf_dir):
        sc._jsc = _DeadJVM()  # the JVM is OOM-killed during this query
        raise RuntimeError("Py4JNetworkError: answer from Java side is empty")

    def refused(spark, sf_dir):
        raise ConnectionRefusedError(111, "Connection refused")

    queries = {
        "q_ok": lambda spark, sf_dir: _fake_frame(1),
        "q_fails": fails,
        "q_dies": dies,
        "q_after": refused,
        "q_last": lambda spark, sf_dir: _fake_frame(1),
    }
    rc, art = _sweep(monkeypatch, tmp_path, sc, queries)

    assert rc == 2
    printed = capsys.readouterr().out
    assert "OK   q_ok" in printed
    assert "FAIL q_fails" in printed
    assert "died at q_dies" in printed
    assert "q_after" not in printed and "q_last" not in printed
    assert sorted(art["queries"]) == ["q_dies", "q_fails", "q_ok"]
    assert (art["n"], art["n_ok"]) == (3, 1)
    assert art["aborted_after"] == "q_dies"
    assert art["not_run"] == ["q_after", "q_last"]

