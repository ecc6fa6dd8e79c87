"""ann_search_batch / ann_search_table / topk optimizer-gate semantics
(reference test/sql/ann_search_table.test, diskann_optimizer.test,
faiss_optimizer.test)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_vectors_df

DOCS = [
    (1, [1, 0, 0]),
    (2, [0, 1, 0]),
    (3, [0, 0, 1]),
    (4, [0.5, 0.5, 0]),
    (5, [0, 0.5, 0.5]),
]


def _setup(engine, index_type="Flat"):
    df = make_vectors_df(engine.spark, DOCS, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    engine.create_index("idx", "docs", "embedding", engine="faiss", index_type=index_type)
    return df


def test_batch_query_idx_semantics(engine):
    _setup(engine)
    res = engine.ann_search_batch(
        "docs", "idx", [[1.0, 0.0, 0.0], [0.0, 0.0, 1.0]], k=2
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_idx"], []).append(r["id"])
    assert by_q[0] == [1, 4]
    assert by_q[1] == [3, 5]


def test_search_table_passthrough_and_dedup(engine):
    _setup(engine)
    qdf = engine.spark.createDataFrame(
        [(101, "a", [1.0, 0.0, 0.0]), (102, "b", [0.0, 1.0, 0.0])],
        "id int, tag string, q array<float>",
    )
    out = engine.ann_search_table(qdf, "docs", "idx", k=1)
    # input cols pass through; base 'id' collides -> 'docs_id' prefix,
    # non-colliding base cols keep their names (src/ann_search.cpp:505-527)
    assert out.columns == ["id", "tag", "q", "docs_id", "embedding", "_distance"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[101]["docs_id"] == 1 and rows[101]["_distance"] == 0.0
    assert rows[102]["docs_id"] == 2


def test_search_table_autodetects_first_numeric_array(engine):
    _setup(engine)
    qdf = engine.spark.createDataFrame(
        [("x", [1.0, 0.0, 0.0])], "name string, vec array<float>"
    )
    out = engine.ann_search_table(qdf, "docs", "idx", k=1).collect()
    assert out[0]["id"] == 1  # no collision -> base 'id' keeps its name


def test_topk_brute_force_no_index(engine):
    df = make_vectors_df(engine.spark, DOCS, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    info = {}
    res = engine.topk("docs", [1.0, 0.0, 0.0], k=2, explain=info).collect()
    assert not info["rewritten"] and "no metric-compatible index" in info["reason"]
    assert [r["id"] for r in res] == [1, 4]


def test_topk_gate_small_table_skips_index(engine):
    _setup(engine)  # 5 rows < 50
    info = {}
    res = engine.topk("docs", [1.0, 0.0, 0.0], k=2, explain=info).collect()
    assert not info["rewritten"] and "too small" in info["reason"]
    assert [r["id"] for r in res] == [1, 4]


def test_topk_gate_large_k_skips_index(engine):
    rows = [(i, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(100)]
    df = make_vectors_df(engine.spark, rows, vec_col="embedding")
    engine.register_table("big", df, row_id="id")
    engine.create_index("bidx", "big", engine="faiss", index_type="Flat")
    info = {}
    engine.topk("big", [0.0, 0.0, 0.0], k=50, explain=info)  # 50 > 10% of 100
    assert not info["rewritten"] and "10%" in info["reason"]
    info2 = {}
    engine.topk("big", [0.0, 0.0, 0.0], k=5, explain=info2)
    assert info2["rewritten"] and "ANN_INDEX_SCAN" in info2["reason"]


def test_topk_cosine_never_rewrites(engine):
    rows = [(i, [float(i % 7) + 0.1, float(i % 5), float(i % 3)]) for i in range(100)]
    df = make_vectors_df(engine.spark, rows, vec_col="embedding")
    engine.register_table("big", df, row_id="id")
    engine.create_index("bidx", "big", engine="faiss", index_type="Flat", metric="cosine")
    info = {}
    engine.topk("big", [1.0, 0.0, 0.0], k=5, metric="cosine", explain=info)
    assert not info["rewritten"]  # src/ann_optimizer.cpp:237-258


def test_topk_filtered_overfetch(engine):
    rows = [(i, [float(i), 0.0, 0.0]) for i in range(100)]
    df = make_vectors_df(engine.spark, rows, vec_col="embedding").withColumn(
        "category", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    engine.register_table("prod", df, row_id="id")
    engine.create_index("pidx", "prod", "embedding", engine="faiss", index_type="Flat")
    res = engine.topk_filtered(
        "prod", F.col("category") == "odd", [0.0, 0.0, 0.0], k=3
    ).collect()
    assert [r["id"] for r in res] == [1, 3, 5]


def test_index_scan_raw(engine):
    _setup(engine)
    res = engine.index_scan("idx", [1.0, 0.0, 0.0], k=2).collect()
    assert res[0]["row_id"] == 1 and res[0]["distance"] == 0.0
    assert set(engine.index_scan("idx", [1.0, 0.0, 0.0], 2).columns) == {"row_id", "distance"}


def test_search_table_over_ivf_index(engine):
    """search_batch_df's executor-side cell pruning returns the same rows as
    an exact search when every cell is probed."""
    df = make_vectors_df(engine.spark, DOCS, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    engine.create_index(
        "ivf", "docs", "embedding", engine="faiss", index_type="IVFFlat",
        ivf_nlist=2, nprobe=2,
    )
    qdf = engine.spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 0.0, 1.0])], "qid int, vec array<float>"
    )
    res = engine.ann_search_table(qdf, "docs", "ivf", k=2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["qid"], []).append(r["id"])
    assert by_q[100] == [1, 4]
    assert by_q[200] == [3, 5]


def test_search_table_over_sq8_flat(engine):
    """Quantized artifacts are probed via the codes column (dequantize on
    read) on the query-distributed path too."""
    df = make_vectors_df(engine.spark, DOCS, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    engine.create_index(
        "q8", "docs", "embedding", engine="faiss", index_type="Flat",
        quantization="sq8",
    )
    qdf = engine.spark.createDataFrame([(7, [1.0, 0.0, 0.0])], "qid int, vec array<float>")
    res = engine.ann_search_table(qdf, "docs", "q8", k=1).collect()
    assert len(res) == 1 and res[0]["id"] == 1


_NULL_QUERY_BUILDS = {
    "flat": lambda e: e.create_index("g", "docs", "embedding", engine="faiss", index_type="Flat"),
    "sq8_flat": lambda e: e.create_index(
        "g", "docs", "embedding", engine="faiss", index_type="Flat", quantization="sq8"
    ),
    "ivfflat": lambda e: e.create_index(
        "g", "docs", "embedding", engine="faiss", index_type="IVFFlat", ivf_nlist=2, nprobe=2
    ),
    "graph": lambda e: e.create_index("g", "docs", "embedding", engine="diskann"),
    "sharded_graph": lambda e: e.streaming_build("g", "docs", "embedding", shards=3),
}


@pytest.mark.parametrize("build", sorted(_NULL_QUERY_BUILDS))
def test_search_table_graph_null_query_skipped(engine, build):
    """Every query-distributed probe runs the same query check: a NULL and
    a wrong-dim query yield no rows, the valid one gets ann_search's hit."""
    df = make_vectors_df(engine.spark, DOCS, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    _NULL_QUERY_BUILDS[build](engine)
    qdf = engine.spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "qid int, vec array<float>",
    )
    res = engine.ann_search_table(qdf, "docs", "g", k=1).collect()
    assert [r["qid"] for r in res] == [1]
    single = engine.ann_search("docs", "g", [1.0, 0.0, 0.0], k=1).collect()
    assert res[0]["id"] == single[0]["id"] == 1


def test_ann_search_rerank_exact_over_quantized(engine):
    """rerank=True: the one-call quantized-serving recipe (overfetch +
    exact JVM-side re-score) returns exactly k rows whose _distance is
    the full-precision value — a lossy PQ index becomes brute-force
    accurate whenever the true neighbors are inside the candidate set."""
    import numpy as np

    rng = np.random.RandomState(13)
    n, dim = 400, 16
    rows = [(i, rng.rand(dim).astype("float32").tolist()) for i in range(n)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("rr", df, row_id="id")
    engine.create_index(
        "rr_pq", "rr", "embedding", engine="faiss", description="PQ8"
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float32)
    q = x[42]
    d = ((x - q) ** 2).sum(axis=1)
    exact_ids = np.argsort(d, kind="stable")[:5].tolist()

    got = engine.ann_search("rr", "rr_pq", q.tolist(), 5, oversample=20, rerank=True).collect()
    assert len(got) == 5
    assert [r["id"] for r in got] == exact_ids
    # _distance is the exact value, not the code-reconstruction distance
    for r in got:
        assert abs(r["_distance"] - float(d[r["id"]])) < 1e-4
    # plain (no rerank) returns k*oversample rows ordered by code distance
    raw = engine.ann_search("rr", "rr_pq", q.tolist(), 5, oversample=20).collect()
    assert len(raw) == 100


def test_batch_and_table_rerank_match_exact(engine):
    """rerank on the batch and table-in/table-out paths: per-query window
    over exactly re-scored candidates — each query's top-k matches brute
    force, k rows per query, exact _distance values."""
    import numpy as np

    rng = np.random.RandomState(17)
    n, dim = 300, 8
    rows = [(i, rng.rand(dim).astype("float32").tolist()) for i in range(n)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("rrb", df, row_id="id")
    engine.create_index("rrb_pq", "rrb", "embedding", engine="faiss", description="PQ4")
    x = np.asarray([r[1] for r in rows], dtype=np.float32)
    q_ids = [3, 150, 299]

    def exact_topk(qi, k=4):
        d = ((x - x[qi]) ** 2).sum(axis=1)
        return list(np.argsort(d, kind="stable")[:k])

    # batch path
    res = engine.ann_search_batch(
        "rrb", "rrb_pq", [x[qi].tolist() for qi in q_ids], 4,
        oversample=20, rerank=True,
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_idx"], []).append(r["id"])
    for pos, qi in enumerate(q_ids):
        assert by_q[pos] == exact_topk(qi), f"batch query {qi}"

    # table path (query vectors co-located by the join-back)
    qdf = engine.spark.createDataFrame(
        [(qi, x[qi].tolist()) for qi in q_ids], "qid long, qvec array<float>"
    )
    tres = engine.ann_search_table(
        qdf, "rrb", "rrb_pq", 4, query_col="qvec", oversample=20, rerank=True,
    ).collect()
    by_t = {}
    for r in tres:
        by_t.setdefault(r["qid"], []).append(r["id"])
    for qi in q_ids:
        assert by_t[qi] == exact_topk(qi), f"table query {qi}"
        # rows come back exactly k per query, distances exact
    assert len(tres) == 3 * 4

    # RFlat index defaults both paths into rerank serving
    engine.create_index(
        "rrb_rf", "rrb", "embedding", engine="faiss", description="PQ4,RFlat",
        refine_k_factor=20,
    )
    dres = engine.ann_search_table(qdf, "rrb", "rrb_rf", 4, query_col="qvec").collect()
    by_d = {}
    for r in dres:
        by_d.setdefault(r["qid"], []).append(r["id"])
    for qi in q_ids:
        assert by_d[qi] == exact_topk(qi)
