"""Transparent DataFrame-API top-k rewrite (engine.accelerate): the
analyzed-plan twin of the SQL rewrite, asserted the same way the reference
asserts its optimizer (faiss_optimizer.test:171-175 — EXPLAIN shows the
index scan when the rewrite fires, the sort when it doesn't)."""

import pytest
from pyspark.sql import functions as F

from duckdb_annsearch_spark.functions.distance import (
    array_distance,
    array_inner_product,
    list_cosine_similarity,
    metric_distance,
    vector_lit,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def eng(engine):
    emb = engine.spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    engine.register_table("embeddings", emb, row_id="vec_id")
    engine.create_index("accel_flat", "embeddings", "embedding", engine="faiss", index_type="Flat")
    return engine


def _qvec(eng, i=0):
    t = eng.table("embeddings").df
    return t.where(F.col("vec_id") == i).select("embedding").first()["embedding"]


def test_orderby_limit_rewrites(eng):
    q = [float(x) for x in _qvec(eng)]
    df = eng.table("embeddings").df
    plain = df.orderBy(array_distance("embedding", q)).limit(10)
    exp = {}
    out = eng.accelerate(plain, explain=exp)
    assert exp["rewritten"] is True
    assert exp["index"] == "accel_flat"
    assert out is not plain
    got = [r["vec_id"] for r in out.collect()]
    want = [r["vec_id"] for r in plain.collect()]
    assert got == want
    assert out.columns == df.columns


def test_withcolumn_alias_shape_rewrites(eng):
    q = [float(x) for x in _qvec(eng, 3)]
    df = eng.table("embeddings").df
    plain = df.withColumn("d", array_distance("embedding", q)).orderBy("d").limit(5)
    exp = {}
    out = eng.accelerate(plain, explain=exp)
    assert exp["rewritten"] is True
    assert out.columns == plain.columns  # alias column preserved
    got = [(r["vec_id"], round(r["d"], 5)) for r in out.collect()]
    want = [(r["vec_id"], round(r["d"], 5)) for r in plain.collect()]
    assert got == want


def test_metric_distance_and_vector_lit_variants(eng):
    q = [float(x) for x in _qvec(eng, 1)]
    df = eng.table("embeddings").df
    for dist in (
        metric_distance("embedding", q, "l2"),
        array_distance("embedding", vector_lit(q)),  # double-cast variant
    ):
        plain = df.orderBy(dist.asc()).limit(7)
        exp = {}
        out = eng.accelerate(plain, explain=exp)
        assert exp["rewritten"] is True, exp
        assert [r["vec_id"] for r in out.collect()] == [
            r["vec_id"] for r in plain.collect()
        ]


def test_ip_direction_semantics(eng):
    # raw inner product: only DESC (most similar first) is index-servable;
    # ASC means least similar and must NOT rewrite
    eng.create_index(
        "accel_ip", "embeddings", "embedding",
        engine="faiss", index_type="Flat", metric="ip",
    )
    q = [float(x) for x in _qvec(eng, 2)]
    df = eng.table("embeddings").df
    desc_plan = df.orderBy(array_inner_product("embedding", q).desc()).limit(6)
    exp = {}
    out = eng.accelerate(desc_plan, explain=exp)
    assert exp["rewritten"] is True
    assert [r["vec_id"] for r in out.collect()] == [
        r["vec_id"] for r in desc_plan.collect()
    ]
    asc_plan = df.orderBy(array_inner_product("embedding", q).asc()).limit(6)
    exp2 = {}
    out2 = eng.accelerate(asc_plan, explain=exp2)
    assert exp2["rewritten"] is False
    assert out2 is asc_plan


def test_filter_between_sort_and_scan_refuses(eng):
    q = [float(x) for x in _qvec(eng)]
    df = eng.table("embeddings").df
    plain = (
        df.where(F.col("vec_id") < 100)
        .orderBy(array_distance("embedding", q))
        .limit(10)
    )
    exp = {}
    out = eng.accelerate(plain, explain=exp)
    assert exp["rewritten"] is False
    assert "filter" in exp["reason"].lower()
    assert out is plain


def test_foreign_read_same_data_rewrites(eng):
    # the user re-read the parquet path themselves: leaf sameResult + the
    # exprId-normalized expression compare must still match
    q = [float(x) for x in _qvec(eng)]
    other = eng.spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain = other.orderBy(array_distance("embedding", q)).limit(10)
    exp = {}
    out = eng.accelerate(plain, explain=exp)
    assert exp["rewritten"] is True
    assert [r["vec_id"] for r in out.collect()] == [
        r["vec_id"] for r in plain.collect()
    ]


def test_non_rewritable_shapes_pass_through(eng):
    q = [float(x) for x in _qvec(eng)]
    df = eng.table("embeddings").df
    shapes = [
        df.select("vec_id", "embedding")  # subset projection
        .orderBy(array_distance("embedding", q))
        .limit(10),
        df.orderBy(list_cosine_similarity("embedding", q).desc()).limit(10),  # cosine
        df.orderBy(array_distance("embedding", q)),  # no limit
        df.orderBy(array_distance("embedding", q), F.col("vec_id")).limit(10),  # 2 keys
    ]
    for plain in shapes:
        exp = {}
        out = eng.accelerate(plain, explain=exp)
        assert exp["rewritten"] is False
        assert out is plain


def test_auto_acceleration_implicit_rewrite(eng, monkeypatch):
    """enable_auto_acceleration: df.orderBy(dist).limit(k).collect() hits the
    index with ZERO engine calls in user code (ann_optimizer.cpp:568-576
    rewrites unasked); spark.sql routes through engine.sql; non-matching
    plans and disable() behave exactly as before."""
    q = [float(x) for x in _qvec(eng)]
    df = eng.table("embeddings").df
    plain = df.orderBy(array_distance("embedding", q)).limit(10)
    want = [r["vec_id"] for r in eng.accelerate(plain).collect()]

    seen = []
    orig_accel = eng.accelerate

    def spy(frame, explain=None):
        e = {}
        out = orig_accel(frame, explain=e)
        seen.append(e)
        return out

    monkeypatch.setattr(eng, "accelerate", spy)
    eng.enable_auto_acceleration()
    try:
        got = [r["vec_id"] for r in plain.collect()]  # no engine call here
        assert got == want
        assert seen and seen[-1]["rewritten"] is True
        assert seen[-1]["index"] == "accel_flat"

        # toPandas takes the same hook
        seen.clear()
        pdf = plain.toPandas()
        assert list(pdf["vec_id"]) == want
        assert seen and seen[-1]["rewritten"] is True

        # non-matching plan passes through (offered, declined, identical)
        seen.clear()
        other = df.orderBy(F.col("vec_id").desc()).limit(3)
        ids = [r["vec_id"] for r in other.collect()]
        assert seen and seen[-1]["rewritten"] is False
        assert len(ids) == 3

        # spark.sql routes through the SQL rewrite: "embeddings" is the
        # ENGINE-registered name (no temp view exists), so only the
        # rewrite path can answer this — raw spark.sql would fail
        vec = "array(" + ",".join(f"CAST({x} AS FLOAT)" for x in q) + ")"
        res = eng.spark.sql(
            f"SELECT * FROM embeddings ORDER BY array_distance(embedding, {vec}) ASC LIMIT 10"
        )
        assert [r["vec_id"] for r in res.collect()] == want
    finally:
        eng.disable_auto_acceleration()

    # after disable: original methods restored, no more offers
    seen.clear()
    assert [r["vec_id"] for r in plain.limit(2).collect()] is not None
    assert not seen


def test_auto_acceleration_covers_every_action(eng, monkeypatch, tmp_path):
    """round-5 gap close: show/count/take/toLocalIterator/foreach/isEmpty
    and df.write all offer the plan to the index — the reference rewrites
    at the optimizer so EVERY sink sees the accelerated plan
    (ann_optimizer.cpp:568-576); hooking only collect/toPandas left
    df.show() and CTAS-shaped writes running brute force."""
    q = [float(x) for x in _qvec(eng, 7)]
    df = eng.table("embeddings").df
    plain = df.orderBy(array_distance("embedding", q)).limit(10)
    want = sorted(r["vec_id"] for r in eng.accelerate(plain).collect())

    seen = []
    orig_accel = eng.accelerate

    def spy(frame, explain=None):
        e = {}
        out = orig_accel(frame, explain=e)
        seen.append(e)
        return out

    monkeypatch.setattr(eng, "accelerate", spy)
    eng.enable_auto_acceleration()
    try:
        def offered_and_rewritten():
            # actions like take() delegate to limit().collect() internally,
            # so a second (declined) offer may follow the rewriting one
            ok = any(e.get("rewritten") for e in seen)
            seen.clear()
            return ok

        plain.show(3)
        assert offered_and_rewritten()

        assert plain.count() == 10
        assert offered_and_rewritten()

        assert sorted(r["vec_id"] for r in plain.take(10)) == want
        assert offered_and_rewritten()

        assert plain.first()["vec_id"] in want  # head/first delegate to take
        assert offered_and_rewritten()

        assert sorted(r["vec_id"] for r in plain.toLocalIterator()) == want
        assert offered_and_rewritten()

        plain.foreach(lambda r: None)
        assert offered_and_rewritten()

        assert plain.isEmpty() is False
        assert offered_and_rewritten()

        # df.write persists the ACCELERATED result (reference CTAS shape)
        out_dir = str(tmp_path / "topk_out")
        plain.write.mode("overwrite").parquet(out_dir)
        assert seen and any(e.get("rewritten") for e in seen)
        seen.clear()
        back = eng.spark.read.parquet(out_dir)
        assert sorted(r["vec_id"] for r in back.collect()) == want
        seen.clear()
    finally:
        eng.disable_auto_acceleration()

    # restored exactly: no offers on any action, write property back
    seen.clear()
    plain.show(1)
    assert plain.count() == 10
    assert not seen
    assert isinstance(type(eng.spark.range(1)).write, property)


def _vec_table(engine, name, n=400, dim=8, payload=False):
    import numpy as np

    from tests.conftest import make_vectors_df

    vecs = np.random.default_rng(0).standard_normal((n, dim)).astype("float32")
    df = make_vectors_df(engine.spark, list(enumerate(vecs.tolist())), dim=dim)
    if payload:
        df = df.withColumn("txt", F.concat(F.lit("row "), F.col("id")))
    engine.register_table(name, df, row_id="id")
    engine.create_index(f"{name}_flat", name, "embedding", engine="faiss", index_type="Flat")
    return [[float(x) for x in v] for v in vecs]


def _accel(engine, plain):
    exp = {}
    out = engine.accelerate(plain, explain=exp)
    return exp, out


def test_view_after_delete_rewrites(engine):
    # a list delete makes the view a Filter over its part; the walk must
    # recognise that Filter as the view, not refuse it as a user filter
    q = _vec_table(engine, "dl")[7]
    exp, _ = _accel(
        engine, engine.table("dl").df.orderBy(array_distance("embedding", q)).limit(5)
    )
    assert exp["rewritten"] is True
    engine.delete("dl", [7])
    df = engine.table("dl").df
    plain = df.orderBy(array_distance("embedding", q)).limit(5)
    exp, out = _accel(engine, plain)
    assert exp["rewritten"] is True, exp
    got = [r["id"] for r in out.collect()]
    assert 7 not in got
    assert got == [r["id"] for r in plain.collect()]
    # a user filter above the deleted-from view still refuses
    filtered = df.where(F.col("id") < 100).orderBy(array_distance("embedding", q)).limit(5)
    exp, out = _accel(engine, filtered)
    assert exp["rewritten"] is False
    assert exp["reason"] == "filter between sort and scan"
    assert out is filtered


def test_withcolumn_view_rewrites(engine):
    # a view whose own plan ends in a Project (withColumn) is matched
    q = _vec_table(engine, "wc", payload=True)[3]
    df = engine.table("wc").df
    plain = df.orderBy(array_distance("embedding", q)).limit(5)
    exp, out = _accel(engine, plain)
    assert exp["rewritten"] is True, exp
    assert out.columns == df.columns
    assert [(r["id"], r["txt"]) for r in out.collect()] == [
        (r["id"], r["txt"]) for r in plain.collect()
    ]
