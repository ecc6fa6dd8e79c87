"""Regression tests for review-found defects: delete consistency across
index and brute-force paths, dimension enforcement, NULL-vector handling,
column-collision safety, and knn_join edge cases.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import make_vectors_df


def _vec_df(spark, rows, dim, vec_type=None):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType(), True), True),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(x) for x in v] if v is not None else None) for i, v in rows],
        schema,
    )


def test_delete_consistent_across_gate(engine):
    # deleting rows must affect brute-force paths too — including when the
    # deletions themselves push N below the index cost gate
    rng = np.random.RandomState(2)
    rows = [(i, rng.randn(4).astype(np.float32).tolist()) for i in range(60)]
    df = make_vectors_df(engine.spark, rows, dim=4)
    engine.register_table("vecs", df, row_id="id")
    engine.create_index("f", "vecs", "embedding", engine="faiss", index_type="Flat")
    engine.delete("vecs", list(range(20)))  # N drops to 40 < 50 -> gate refuses
    exp = {}
    got = [r["id"] for r in engine.topk("vecs", rows[30][1], 40, explain=exp).collect()]
    assert not exp["rewritten"]  # brute force ran
    assert not any(i < 20 for i in got) and len(got) == 40


def test_create_index_rejects_mixed_dimensions(engine):
    rows = [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])]
    df = _vec_df(engine.spark, rows, 2)
    engine.register_table("mixed", df, row_id="id")
    with pytest.raises(ValueError, match=r"FLOAT\[2\]"):
        engine.create_index("bad", "mixed", "embedding", engine="faiss", index_type="Flat")


def test_null_vectors_not_indexed(engine):
    rows = [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])]
    df = _vec_df(engine.spark, rows, 2)
    engine.register_table("nulls", df, row_id="id")
    engine.create_index("n_idx", "nulls", "embedding", engine="faiss", index_type="Flat")
    meta = engine.catalog.load("n_idx")
    assert meta.num_vectors == 2  # NULL row excluded, not zero-filled
    got = [r["row_id"] for r in engine.index_scan("n_idx", [0.0, 0.0], 10).collect()]
    assert 2 not in got and len(got) == 2


def test_vacuum_stages_durably_and_cleans_up(engine):
    rows = [(i, [float(i), 0.0]) for i in range(10)]
    df = _vec_df(engine.spark, rows, 2)
    engine.register_table("v", df, row_id="id")
    engine.create_index("vidx", "v", "embedding", engine="faiss", index_type="Flat")
    engine.delete("v", [0, 1])
    engine.vacuum("vidx")
    meta = engine.catalog.load("vidx")
    assert meta.num_vectors == 8 and meta.num_deleted == 0
    staging = os.path.join(engine.catalog.root, "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_ann_search_table_with_colliding_query_columns(engine):
    rows = [(i, [float(i), 0.0]) for i in range(8)]
    df = _vec_df(engine.spark, rows, 2)
    engine.register_table("base", df, row_id="id")
    engine.create_index("bidx", "base", "embedding", engine="faiss", index_type="Flat")
    # queries carry their own row_id AND _distance columns
    queries = engine.spark.createDataFrame(
        [(100, 0.5, [1.0, 0.0]), (200, 0.7, [5.0, 0.0])],
        "row_id long, _distance double, q array<float>",
    )
    out = engine.ann_search_table(queries, "base", "bidx", k=2, query_col="q")
    res = out.collect()
    assert len(res) == 4
    # base id fetched, query columns passed through
    assert {r["row_id"] for r in res} == {100, 200}


def test_knn_join_edge_cases(spark):
    left = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0])],
        "lid long, v array<float>",
    )
    right = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "rid long, v array<float>"
    )
    from duckdb_annsearch_spark import knn_join

    out = knn_join(left, right, "lid", "v", "rid", "v", k=1)
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == {(1, 10)}  # NULL and wrong-dim left rows emit nothing
    empty = spark.createDataFrame([], "rid long, v array<float>")
    with pytest.raises(ValueError, match="no rows"):
        knn_join(left, empty, "lid", "v", "rid", "v", k=1)
    ragged = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0, 2.0])], "rid long, v array<float>"
    )
    with pytest.raises(ValueError, match="dimension"):
        knn_join(left, ragged, "lid", "v", "rid", "v", k=1)


def test_knn_join_cap_routes_to_index_and_matches_broadcast(engine):
    """Above max_broadcast_rows the right side must NOT be collected: the
    join routes to a temp Flat index + distributed probe with identical
    results (exact both ways)."""
    import numpy as np

    spark = engine.spark
    rng = np.random.RandomState(31)
    nl, nr, dim = 20, 50, 6
    # the last two left rows share a lid with different vectors: each row
    # is its own query, so the routed probe must not key hits by lid
    left = spark.createDataFrame(
        [(i, rng.rand(dim).astype("float32").tolist()) for i in range(nl)]
        + [(nl, rng.rand(dim).astype("float32").tolist()) for _ in range(2)],
        "lid long, v array<float>",
    )
    right = spark.createDataFrame(
        [(100 + i, rng.rand(dim).astype("float32").tolist()) for i in range(nr)],
        "rid long, w array<float>",
    )
    from duckdb_annsearch_spark import knn_join

    fast = knn_join(left, right, "lid", "v", "rid", "w", k=3)
    routed = knn_join(
        left, right, "lid", "v", "rid", "w", k=3,
        max_broadcast_rows=10, engine=engine,  # force the index route
    )
    assert fast.columns == routed.columns
    def norm(df):
        return sorted(
            (r["lid"], r["rid"], round(float(r["_distance"]), 5))
            for r in df.collect()
        )
    assert norm(fast) == norm(routed)
    assert sum(r[0] == nl for r in norm(routed)) == 6  # k per row, not per lid

    # temp artifacts are tracked per-engine: a user index sharing the
    # __knn_ prefix survives the next routed call AND explicit cleanup;
    # only the module's own temp pair is dropped
    engine.register_table("__knn_user_tbl", right, row_id="rid")
    engine.create_index(
        "__knn_rix_user", "__knn_user_tbl", "w", engine="faiss", index_type="Flat"
    )
    routed2 = knn_join(
        left, right, "lid", "v", "rid", "w", k=3,
        max_broadcast_rows=10, engine=engine,
    )
    assert norm(routed2) == norm(fast)  # consume before cleanup
    assert engine.catalog.exists("__knn_rix_user")  # untouched by next-call drop

    from duckdb_annsearch_spark.operators.knn import cleanup_knn_artifacts

    assert cleanup_knn_artifacts(engine) == 1  # drops only its own pair
    assert engine.catalog.exists("__knn_rix_user")
    assert not any(m.name.startswith("__knn_rix_") and m.name != "__knn_rix_user"
                   for m in engine.catalog.all())
    assert cleanup_knn_artifacts(engine) == 0  # idempotent


def test_hybrid_search_rejects_mismatched_ids(engine, spark):
    rows = [(i, f"text {i} fast query", [float(i), 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")
    engine.register_table("docs", df, row_id="doc_id")
    engine.create_index("didx", "docs", "embedding", engine="faiss", index_type="Flat")
    with pytest.raises(ValueError, match="row_id"):
        engine.hybrid_search(
            "docs", "didx", "embedding", "other_id", [1.0, 0.0], "fast", k=3
        )
    with pytest.raises(ValueError, match="column"):
        engine.hybrid_search(
            "docs", "didx", "wrong_col", "doc_id", [1.0, 0.0], "fast", k=3
        )


def test_with_labels_stable_under_nondeterministic_source(spark):
    # with_labels runs two jobs (a per-partition count collect, then the
    # numbering select). If the input re-executes differently per job —
    # nondeterministic source, task retry, resampled range boundaries —
    # the label<->row_id bijection silently corrupts. The localCheckpoint
    # barrier must pin one materialization for both jobs.
    import random

    from duckdb_annsearch_spark.index.base import with_labels

    @F.udf("long")
    def _jitter():
        return random.randint(0, 1 << 40)

    jitter = _jitter.asNondeterministic()
    df = (
        spark.range(0, 2000, 1, 8)
        .select(
            jitter().alias("rid"),
            F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>").alias("v"),
        )
    )
    out = with_labels(df, "rid", "v").collect()
    assert len(out) == 2000
    labels = sorted(r["label"] for r in out)
    assert labels == list(range(2000))  # dense, no dup/missing labels
    by_label = sorted(out, key=lambda r: r["label"])
    rids = [r["row_id"] for r in by_label]
    assert rids == sorted(rids)  # label order == row_id order


def test_engine_keeps_explicit_shuffle_partitions(spark, tmp_path):
    # The engine swaps Spark's stock 200 shuffle partitions for a core-based
    # count only when the host never set the key. An explicit 200 reads the
    # same as the stock default, so the check must ask whether it was set.
    from duckdb_annsearch_spark.engine import AnnEngine

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        AnnEngine(spark, workdir=str(tmp_path / "explicit"))
        assert spark.conf.get(key) == "200"
        spark.conf.unset(key)
        AnnEngine(spark, workdir=str(tmp_path / "unset"))
        cores = spark.sparkContext.defaultParallelism
        assert spark.conf.get(key) == str(max(cores, 8))
    finally:
        spark.conf.set(key, prev)
