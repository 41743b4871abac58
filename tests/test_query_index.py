"""QUERIES.md is generated: the committed file must be exactly what
tools/gen_query_index.py prints for the registry as it is."""

import contextlib
import io
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_index_matches_generator():
    from tools import gen_query_index

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        gen_query_index.main()
    with open(os.path.join(REPO, "QUERIES.md")) as f:
        assert out.getvalue() == f.read()
