"""Covered serving: an unquantized index search over a table whose columns
are exactly the row key and the indexed ``array<float>`` column answers
from the probe's own rows — each hit carries its raw vector — with no scan
of the table and no hits broadcast.  Every other search (quantized
indexes, payload columns, ``array<double>`` vectors) keeps the row-fetch
join, as does an index that may hold rows the view lacks.  Also here:
the view's literal delete filter, IVF probes that read only their probed
cell directories, and the sharded graph's single-query limit-sort."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_annsearch_spark.functions.distance import array_distance
from tests.conftest import job_count

DIM = 8
N = 400
K = 10

# (name, create_index kwargs): the covered index kinds
COVERED = [
    ("c_flat", dict(engine="faiss", index_type="Flat")),
    ("c_ivf", dict(engine="faiss", index_type="IVFFlat", ivf_nlist=8, nprobe=4)),
    ("c_graph", dict(engine="diskann")),
]


def _schema(key_type=T.LongType(), vec_type=T.FloatType(), payload=False):
    fields = [
        T.StructField("id", key_type, False),
        T.StructField("emb", T.ArrayType(vec_type, False), True),
    ]
    if payload:
        fields.append(T.StructField("txt", T.StringType(), True))
    return T.StructType(fields)


def _vectors(seed=0):
    """N rows whose vectors repeat in pairs (ids 2j, 2j+1 share a vector),
    so the k-cut of an odd k falls inside a tie group."""
    rng = np.random.default_rng(seed)
    return np.repeat(rng.standard_normal((N // 2, DIM)).astype(np.float32), 2, axis=0)


def _register(engine, tmp_path, name, x, payload=False, **schema_kw):
    """Register ``name`` from a parquet file (so a table scan shows in a
    plan under the file's name) and return that file name."""
    schema = _schema(payload=payload, **schema_kw)
    rows = [
        (i, x[i].tolist(), *([f"r{i}"] if payload else [])) for i in range(len(x))
    ]
    path = str(tmp_path / f"{name}.parquet")
    engine.spark.createDataFrame(rows, schema).write.parquet(path)
    engine.register_table(name, engine.spark.read.schema(schema).parquet(path), row_id="id")
    return os.path.basename(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _arr(q):
    return "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in q) + ")"


def _entries(engine, table, name, q, qs):
    return {
        "ann_search": lambda: engine.ann_search(table, name, q, k=K),
        "ann_search_batch": lambda: engine.ann_search_batch(table, name, qs, k=K),
        "sql": lambda: engine.sql(
            f"SELECT * FROM {table} ORDER BY array_distance(emb, {_arr(q)}) LIMIT {K}"
        ),
        "accelerate": lambda: engine.accelerate(
            engine.table(table).df.orderBy(array_distance("emb", q)).limit(K)
        ),
    }


@pytest.mark.parametrize("name,kw", COVERED, ids=[n for n, _ in COVERED])
def test_covered_plans_read_no_table(engine, tmp_path, name, kw):
    """On every covered index kind, ``ann_search``, ``ann_search_batch``,
    ``sql`` and ``accelerate`` plan no join and no scan of the table's
    files, keep the view's columns and types, and stay within 1 job for a
    single search (also after an insert and a delete) and 2 for a
    read-only batch (after writes the delta merge adds a window exchange,
    and a graph batch repartitions its queries)."""
    spark = engine.spark
    x = _vectors()
    fname = _register(engine, tmp_path, "cv", x)
    engine.create_index(name, "cv", "emb", **kw)
    q = (x[41] + 0.01).tolist()
    qs = [(x[i] + 0.01).tolist() for i in (3, 77, 150)]
    view = engine.table("cv").df.schema.fields

    def check(budget):
        for entry, make in _entries(engine, "cv", name, q, qs).items():
            with job_count(spark) as jobs:
                df = make()
                rows = df.collect()
            plan = _plan(df)
            assert "BroadcastHashJoin" not in plan, (entry, plan)
            assert fname not in plan, (entry, plan)
            assert jobs[0] <= budget[entry == "ann_search_batch"], (entry, jobs[0])
            fields = df.schema.fields
            if entry == "ann_search_batch":
                fields = fields[1:]
            assert fields[: len(view)] == view, entry
            assert len(rows) == K * (len(qs) if entry == "ann_search_batch" else 1)

    check((1, 2))
    engine.insert(
        "cv",
        spark.createDataFrame([(N, (x[41] + 0.005).tolist())], _schema()),
    )
    engine.delete("cv", [41, 40])
    check((1, 4))
    rows = engine.ann_search("cv", name, q, k=K).collect()
    assert rows[0]["id"] == N and not {40, 41} & {r["id"] for r in rows}


@pytest.mark.parametrize("key_type", [T.IntegerType(), T.LongType()], ids=["int", "long"])
def test_covered_rows_equal_brute_force_and_fetched_rows(engine, tmp_path, key_type):
    """Covered Flat rows equal numpy brute force (ids, exact vectors,
    distances), a k-cut inside a tie group included; on every covered
    index kind they equal the fetched rows of the same data with one
    payload column added."""
    x = _vectors(seed=3)
    _register(engine, tmp_path, "cov", x, key_type=key_type)
    _register(engine, tmp_path, "pay", x, payload=True, key_type=key_type)
    q = x[100].tolist()  # ids 100 and 101 tie at distance 0
    qs = [q, x[7].tolist()]
    k = K + 1  # the 11th and 12th nearest tie too
    for name, kw in COVERED:
        engine.create_index(name, "cov", "emb", **kw)
        engine.create_index(name + "_p", "pay", "emb", **kw)
        cov = engine.ann_search("cov", name, q, k=k)
        assert cov.schema["id"].dataType == key_type
        assert "BroadcastHashJoin" not in _plan(cov)
        pay = engine.ann_search("pay", name + "_p", q, k=k)
        assert "BroadcastHashJoin" in _plan(pay)
        got = [tuple(r) for r in cov.collect()]
        assert got == [tuple(r) for r in pay.drop("txt").collect()], name
        got_b = [tuple(r) for r in engine.ann_search_batch("cov", name, qs, k=k).collect()]
        want_b = engine.ann_search_batch("pay", name + "_p", qs, k=k).drop("txt")
        assert got_b == [tuple(r) for r in want_b.collect()], name
        if name == "c_flat":
            d = ((x - np.float32(q)) ** 2).sum(axis=1)
            order = sorted(range(N), key=lambda i: (d[i], i))[:k]
            assert [r[0] for r in got] == order
            for (rid, vec, dist), i in zip(got, order):
                assert np.array_equal(np.asarray(vec, np.float32), x[i])
                assert dist == pytest.approx(float(d[i]), rel=1e-5, abs=1e-5)


@pytest.mark.parametrize("case", ["double_vector", "payload", "quantized"])
def test_uncovered_searches_keep_the_fetch_join(engine, tmp_path, case):
    """An ``array<double>`` vector column, a payload column and a quantized
    index each keep the broadcast row-fetch join, with the right rows."""
    x = _vectors(seed=5)
    kw = dict(engine="faiss", index_type="Flat")
    if case == "double_vector":
        _register(engine, tmp_path, "un", x, vec_type=T.DoubleType())
    else:
        _register(engine, tmp_path, "un", x, payload=case == "payload")
    if case == "quantized":
        kw["quantization"] = "sq8"
    engine.create_index("un_idx", "un", "emb", **kw)
    q = (x[60] + 0.01).tolist()
    for df in (
        engine.ann_search("un", "un_idx", q, k=K, rerank=case == "quantized"),
        engine.ann_search_batch("un", "un_idx", [q], k=K, rerank=case == "quantized"),
    ):
        assert "BroadcastHashJoin" in _plan(df), case
        assert df.columns[-1] == "_distance"
        d = ((x - np.float32(q)) ** 2).sum(axis=1)
        want = sorted(range(N), key=lambda i: (d[i], i))[:K]
        assert [r["id"] for r in df.collect()] == want, case


def test_list_delete_filters_the_view_with_literals(engine, tmp_path, monkeypatch):
    """A driver-list delete filters each part of the view by a literal set
    (no join, no job in the view), hides only the rows present when it
    ran, and falls back to the join above the literal id cap and after a
    DataFrame delete."""
    import duckdb_annsearch_spark.engine as eng_mod

    spark = engine.spark
    x = _vectors(seed=6)
    _register(engine, tmp_path, "lv", x, payload=True)
    engine.create_index(
        "lv_sq8", "lv", "emb", engine="faiss", index_type="Flat", quantization="sq8"
    )
    engine.delete("lv", [1, 2])
    engine.insert(
        "lv", spark.createDataFrame([(2, x[2].tolist(), "again")], _schema(payload=True))
    )
    engine.delete("lv", [3])
    view = engine.table("lv").df
    assert "Join" not in _plan(view)
    ids = sorted(r["id"] for r in view.select("id").collect())
    assert ids == [0, 2] + list(range(4, N))
    assert view.where("id = 2").first()["txt"] == "again"
    q = (x[10] + 0.01).tolist()
    with job_count(spark) as jobs:
        rows = engine.ann_search("lv", "lv_sq8", q, k=K, rerank=True).collect()
    assert jobs[0] <= 2, jobs[0]
    assert len(rows) == K
    monkeypatch.setattr(eng_mod, "_LITERAL_DELETE_MAX_IDS", 2)
    engine.table("lv").rebind()
    assert "Join" in _plan(engine.table("lv").df)
    assert sorted(r["id"] for r in engine.table("lv").df.select("id").collect()) == ids
    monkeypatch.undo()
    engine.delete("lv", spark.createDataFrame([(4,)], "x int"))
    assert "Join" in _plan(engine.table("lv").df)
    assert 4 not in {r["id"] for r in engine.table("lv").df.select("id").collect()}


def test_ivf_single_search_lists_only_probed_cells(engine, tmp_path):
    """An IVFFlat probe reads only its probed cell directories, so 40 cells
    (above Spark's 32-path serial listing threshold) submit as many jobs
    for a single search as 32 cells."""
    spark = engine.spark
    rng = np.random.default_rng(9)
    x = rng.standard_normal((1200, DIM)).astype(np.float32)
    _register(engine, tmp_path, "iv", x)
    counts = {}
    q = (x[5] + 0.01).tolist()
    for nlist in (32, 40):
        name = f"iv{nlist}"
        engine.create_index(
            name, "iv", "emb", engine="faiss", index_type="IVFFlat",
            ivf_nlist=nlist, nprobe=4,
        )
        cells = os.listdir(engine.catalog.data_path(name))
        assert sum(c.startswith("cluster_id=") for c in cells) == nlist
        with job_count(spark) as jobs:
            rows = engine.ann_search("iv", name, q, k=K).collect()
        counts[nlist] = jobs[0]
        assert rows[0]["id"] == 5
    assert counts[40] == counts[32], counts


def test_sharded_graph_single_query_is_limit_sorted(engine, tmp_path):
    """One query on a kmeans-sharded graph merges the shards' hits with a
    limit-sort, not a per-query window: 3 jobs for the index search (4
    with the window), and the same rows as the query's share of a
    two-query batch."""
    spark = engine.spark
    rng = np.random.default_rng(11)
    x = rng.standard_normal((1200, DIM)).astype(np.float32)
    _register(engine, tmp_path, "sg", x)
    engine.streaming_build("sg_g", "sg", "emb", shards=4, shard_by="kmeans")
    idx = engine.get_index("sg_g")
    q = (x[5] + 0.01).tolist()
    with job_count(spark) as jobs:
        df = idx.search(q, K)
        rows = df.collect()
    assert "Window" not in _plan(df)
    assert jobs[0] <= 3, jobs[0]
    batch = idx.search_batch([q, x[9].tolist()], K).where(F.col("query_idx") == 0)
    want = sorted(batch.collect(), key=lambda r: (r["_distance"], r["row_id"]))
    assert [r["row_id"] for r in rows] == [r["row_id"] for r in want]
    assert rows[0]["row_id"] == 5


def test_foreign_rows_are_fetched_from_the_view(engine, tmp_path):
    """An index that may hold rows its table's view lacks fetches its rows
    from the view: one merged with another table's index, and one built
    before its table was registered again over other data.  Both then
    return only the view's rows; a rebuilt index built on the current
    registration is covered again."""
    x = _vectors(seed=8)
    _register(engine, tmp_path, "fa", x[:200])
    engine.register_table(
        "fb",
        engine.spark.createDataFrame(
            [(200 + i, x[200 + i].tolist()) for i in range(200)], _schema()
        ),
        row_id="id",
    )
    engine.create_index("fa_idx", "fa", "emb", engine="faiss", index_type="Flat")
    engine.create_index("fb_idx", "fb", "emb", engine="faiss", index_type="Flat")
    engine.merge_index("fa_idx", "fb_idx")
    assert engine.get_index("fa_idx").meta.extra["merged_tables"] == ["fb"]
    engine.vacuum("fa_idx")
    assert engine.get_index("fa_idx").meta.extra["merged_tables"] == ["fb"]
    q = (x[201] + 0.01).tolist()
    for df in (
        engine.ann_search("fa", "fa_idx", q, k=K),
        engine.ann_search_batch("fa", "fa_idx", [q], k=K),
    ):
        assert "BroadcastHashJoin" in _plan(df)
        got = [r["id"] for r in df.collect()]
        assert got and all(i < 200 for i in got), got

    # re-registered over the first 100 rows only: the old index's other
    # rows are no longer in the view
    engine.create_index("fa_own", "fa", "emb", engine="faiss", index_type="Flat")
    assert "BroadcastHashJoin" not in _plan(engine.ann_search("fa", "fa_own", q, k=K))
    engine.register_table("fa", engine.table("fa").df.where("id < 100"), row_id="id")
    df = engine.ann_search("fa", "fa_own", (x[150] + 0.01).tolist(), k=K)
    assert "BroadcastHashJoin" in _plan(df)
    got = [r["id"] for r in df.collect()]
    assert got and all(i < 100 for i in got), got
    engine.drop_index("fa_own")
    engine.create_index("fa_own", "fa", "emb", engine="faiss", index_type="Flat")
    df = engine.ann_search("fa", "fa_own", (x[50] + 0.01).tolist(), k=K)
    assert "BroadcastHashJoin" not in _plan(df)
    d = ((x[:100] - (x[50] + np.float32(0.01))) ** 2).sum(axis=1)
    assert [r["id"] for r in df.collect()] == sorted(range(100), key=lambda i: (d[i], i))[:K]
