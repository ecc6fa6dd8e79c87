"""Transparent SQL top-k rewrite (``AnnEngine.sql``) — the Spark twin of the
reference's pre-optimizer hook (``src/ann_optimizer.cpp:348-530``): parsed-plan
pattern match, metric/cost gates, filter refusal, EXPLAIN-style decisions.
"""

import numpy as np
import pytest

from tests.conftest import make_vectors_df


@pytest.fixture(scope="module")
def rows():
    rng = np.random.RandomState(5)
    return [(i, rng.randn(6).astype(np.float32).tolist()) for i in range(300)]


@pytest.fixture()
def docs_engine(engine, rows):
    df = make_vectors_df(engine.spark, rows, dim=6)
    engine.register_table("docs", df, row_id="id")
    engine.create_index("docs_flat", "docs", "embedding", engine="faiss", index_type="Flat")
    return engine


def _arr(q):
    return "array(" + ", ".join(f"CAST({x} AS FLOAT)" for x in q) + ")"


def _brute(rows, q, k, flt=None):
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    d = np.sqrt(((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1))
    items = [(i, dd) for (i, _), dd in zip(rows, d) if flt is None or flt(i)]
    return [i for i, _ in sorted(items, key=lambda t: (t[1], t[0]))][:k]


def test_aliased_projection_rewrites(docs_engine, rows):
    q = rows[5][1]
    sql = (
        f"SELECT * FROM (SELECT *, array_distance(embedding, {_arr(q)}) AS d "
        f"FROM docs) ORDER BY d LIMIT 7"
    )
    exp = {}
    res = docs_engine.sql(sql, explain=exp)
    assert exp["rewritten"] and exp["index"] == "docs_flat"
    assert "ANN_INDEX_SCAN" in exp["reason"]
    assert res.columns == ["id", "embedding", "d"]
    assert [r["id"] for r in res.collect()] == _brute(rows, q, 7)


def test_order_by_call_directly_rewrites(docs_engine, rows):
    # this shape cannot even run through plain spark.sql (Spark 4 refuses
    # SQL UDFs inside Sort) — the rewrite is what makes it executable
    q = rows[9][1]
    exp = {}
    res = docs_engine.sql(
        f"SELECT * FROM docs ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 4",
        explain=exp,
    )
    assert exp["rewritten"]
    assert res.columns == ["id", "embedding"]  # no distance column leaked
    assert [r["id"] for r in res.collect()] == _brute(rows, q, 4)


def test_filter_refuses_rewrite_but_executes(docs_engine, rows):
    q = rows[0][1]
    exp = {}
    res = docs_engine.sql(
        f"SELECT * FROM docs WHERE id > 100 "
        f"ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 4",
        explain=exp,
    )
    assert not exp["rewritten"] and "filter" in exp["reason"]
    assert [r["id"] for r in res.collect()] == _brute(rows, q, 4, flt=lambda i: i > 100)


def test_k_fraction_gate(docs_engine, rows):
    q = rows[0][1]
    exp = {}
    res = docs_engine.sql(
        f"SELECT * FROM docs ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 100",
        explain=exp,
    )
    # k=100 > 10% of N=300 (Flat) -> brute force, still exact
    assert not exp["rewritten"] and "10%" in exp["reason"]
    assert [r["id"] for r in res.collect()] == _brute(rows, q, 100)


def test_cosine_never_rewrites(docs_engine, rows):
    q = rows[1][1]
    exp = {}
    res = docs_engine.sql(
        f"SELECT * FROM (SELECT *, array_cosine_similarity(embedding, {_arr(q)}) AS s "
        f"FROM docs) ORDER BY s LIMIT 3",
        explain=exp,
    )
    assert not exp["rewritten"]
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    qv = np.asarray(q, dtype=np.float32)
    sim = (x @ qv) / (np.linalg.norm(x, axis=1) * np.linalg.norm(qv))
    want = [i for i, _ in sorted(enumerate(sim), key=lambda t: (t[1], t[0]))][:3]
    assert [r["id"] for r in res.collect()] == want


def test_ip_rewrite_uses_ip_index_only(docs_engine, rows):
    q = rows[2][1]
    sql = (
        f"SELECT * FROM (SELECT *, array_inner_product(embedding, {_arr(q)}) AS ip "
        f"FROM docs) ORDER BY ip LIMIT 5"
    )
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    dots = x @ np.asarray(q, dtype=np.float32)
    # L2 index only: no rewrite (faiss_optimizer.test:123-130), ASC raw dot
    exp = {}
    res = docs_engine.sql(sql, explain=exp)
    assert not exp["rewritten"]
    want = [i for i, _ in sorted(enumerate(dots), key=lambda t: (t[1], t[0]))][:5]
    assert [r["id"] for r in res.collect()] == want
    # with an IP index: rewrite, reference's negated-IP convention (most
    # similar first — rust_lib/src/distance.rs:20-24)
    docs_engine.create_index(
        "docs_ip", "docs", "embedding", engine="faiss", index_type="Flat", metric="ip"
    )
    exp = {}
    res = docs_engine.sql(sql, explain=exp)
    assert exp["rewritten"] and exp["index"] == "docs_ip"
    want = [i for i, _ in sorted(enumerate(dots), key=lambda t: (-t[1], t[0]))][:5]
    assert [r["id"] for r in res.collect()] == want


def test_non_topk_sql_passes_through(docs_engine):
    assert docs_engine.sql("SELECT 1 + 1 AS two").collect()[0]["two"] == 2


def test_explain_sql_annotations(docs_engine, rows):
    # EXPLAIN parity (faiss_optimizer.test:171-175): the annotation appears
    # exactly when the rewrite fires; unrewritten plans keep the sort-limit
    q = rows[0][1]
    s = docs_engine.explain_sql(
        f"SELECT * FROM docs ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 5"
    )
    assert "ANN_INDEX_SCAN (index: docs_flat" in s.splitlines()[0]
    # docs is (id, embedding): a covered search, whose rows come from the
    # probe itself — no row-fetch join, one limit-sort
    assert "BroadcastHashJoin" not in s and "TakeOrderedAndProject" in s
    s2 = docs_engine.explain_sql(
        f"SELECT * FROM docs WHERE id > 3 "
        f"ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 5"
    )
    assert s2.startswith("NO_REWRITE") and "TakeOrderedAndProject" in s2


def test_index_preference_exact_before_graph(docs_engine, rows):
    """With both a graph and a Flat index on the column, the optimizer must
    deterministically pick the exact structure — catalog listing order
    depends on concurrent-build completion order and is not a contract."""
    eng = docs_engine
    # name sorts BEFORE docs_flat so alphabetical order alone would pick it
    eng.create_index("aa_graph", "docs", "embedding", engine="diskann")
    expl = {}
    q = [0.0] * 6
    hits = eng.topk("docs", q, 5, metric="l2", explain=expl)
    assert expl["rewritten"] and expl["index"] == "docs_flat"
    assert [r["id"] for r in hits.collect()] == _brute(rows, q, 5)


def test_quantized_only_index_sql_rewrite_serves_exact(engine):
    """With only a quantized index on the column, the transparent SQL
    rewrite must over-fetch refine_k_factor-x and re-score exactly (the
    ordering expression is recomputed on the fetched rows) — k raw
    code-space candidates would silently miss true neighbors."""
    rng = np.random.RandomState(91)
    rows = [(i, rng.rand(8).astype(np.float32).tolist()) for i in range(300)]
    df = make_vectors_df(engine.spark, rows, dim=8)
    engine.register_table("qdocs", df, row_id="id")
    engine.create_index("qdocs_sq4", "qdocs", "embedding", engine="faiss",
                        description="SQ4")
    q = rows[7][1]
    exp = {}
    res = engine.sql(
        f"SELECT * FROM qdocs ORDER BY array_distance(embedding, {_arr(q)}) LIMIT 5",
        explain=exp,
    )
    assert exp["rewritten"] and exp["index"] == "qdocs_sq4"
    assert [r["id"] for r in res.collect()] == _brute(rows, q, 5)
