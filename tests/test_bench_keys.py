"""Every row ``bench.py`` times is a declared query with an oracle.

``bench.py`` names its rows in a literal ``bench_queries`` list; a name
that leaves ``__spark_entry__.queries()`` would only show up as a bench
row error in a full bench run.  This reads the list through ``ast`` (no
Spark session, no import of the bench) and checks it against the query
registry and the oracle table."""

import ast
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# declared queries the oracle compare checks by row count only
ROWS_ONLY = {"graph_topk", "bpe_merges"}


def _bench_queries() -> list[str]:
    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "bench_queries" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("bench.py has no bench_queries list")


def test_bench_rows_are_declared_queries_with_oracles():
    names = _bench_queries()
    assert names
    queries, oracles = entry.queries(), entry.oracle_sql()
    assert [n for n in names if n not in queries] == []
    assert [n for n in names if n not in oracles and n not in ROWS_ONLY] == []
    assert set(queries) - set(oracles) == ROWS_ONLY
