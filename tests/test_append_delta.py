"""Incremental append (reference D3 ``BoundIndex::Append``): new rows land
in a delta parquet, search brute-forces the delta and merges, vacuum/merge
compact it away (src/diskann_index.cpp:316-385, faiss_basic.test:216-256)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_vectors_df

BASE = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
NEW = [(10, [0.9, 0.1, 0.0]), (11, [0.0, 0.9, 0.1])]


def _setup(engine, index_type="Flat", engine_name="faiss"):
    df = make_vectors_df(engine.spark, BASE, vec_col="embedding")
    engine.register_table("docs", df, row_id="id")
    kw = {"index_type": index_type} if engine_name == "faiss" else {}
    engine.create_index("idx", "docs", "embedding", engine=engine_name, **kw)
    return df


@pytest.mark.parametrize(
    "engine_name,index_type",
    [("faiss", "Flat"), ("faiss", "IVFFlat"), ("diskann", None)],
)
def test_insert_visible_in_search(engine, engine_name, index_type):
    _setup(engine, index_type or "Flat", engine_name)
    new = make_vectors_df(engine.spark, NEW, vec_col="embedding")
    engine.insert("docs", new)
    res = engine.ann_search("docs2" if False else "docs", "idx", [0.9, 0.1, 0.0], k=2)
    # the freshly-inserted vec 10 is the exact nearest neighbor
    rows = res.collect()
    assert rows[0]["id" if "id" in res.columns else "id"] == 10 or rows[0][0] == 10


def test_insert_then_search_table(engine):
    _setup(engine)
    engine.insert("docs", make_vectors_df(engine.spark, NEW, vec_col="embedding"))
    qdf = engine.spark.createDataFrame([(5, [0.9, 0.1, 0.0])], "qid int, v array<float>")
    res = engine.ann_search_table(qdf, "docs", "idx", k=1).collect()
    assert len(res) == 1 and res[0]["id"] == 10


def test_insert_then_delete_from_delta(engine):
    _setup(engine)
    engine.insert("docs", make_vectors_df(engine.spark, NEW, vec_col="embedding"))
    engine.delete("docs", [10])
    res = engine.index_scan("idx", [0.9, 0.1, 0.0], k=1).collect()
    assert res[0]["row_id"] == 1  # 10 tombstoned; nearest base row wins


def test_vacuum_folds_delta_in(engine):
    _setup(engine)
    engine.insert("docs", make_vectors_df(engine.spark, NEW, vec_col="embedding"))
    engine.vacuum("idx")
    idx = engine.get_index("idx")
    assert idx.meta.num_vectors == len(BASE) + len(NEW)
    assert engine.catalog.delta("idx") is None
    res = engine.index_scan("idx", [0.9, 0.1, 0.0], k=1).collect()
    assert res[0]["row_id"] == 10


def _ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


def test_reinsert_after_delete_and_vacuum_is_served(engine):
    """A row inserted with an id deleted before a vacuum is a new row: the
    table view, the distributed Flat search, its batch and the local
    snapshot all return it (the index's tombstones died with the vacuum,
    so the view must not keep hiding the id either)."""
    _setup(engine)
    engine.delete("docs", [2])
    engine.vacuum("idx")
    engine.insert(
        "docs", make_vectors_df(engine.spark, [(2, [0.9, 0.1, 0.0])])
    )
    assert _ids(engine.table("docs").df) == [1, 2, 3]
    q = [0.9, 0.1, 0.0]
    for local in (False, True):
        rows = engine.ann_search("docs", "idx", q, k=3, local=local).collect()
        assert [r["id"] for r in rows] == [2, 1, 3], local
    batch = engine.ann_search_batch("docs", "idx", [q, q], k=3).collect()
    assert [r["id"] for r in batch] == [2, 1, 3] * 2


def test_delete_hides_only_rows_present_when_it_ran(engine):
    """Each delete hides the rows that exist when it runs, also through
    later deletes of other ids and DataFrame deletes; an index that still
    tombstones a re-inserted id leaves it out of its hits, and the fetch
    still returns k rows."""
    _setup(engine)
    engine.delete("docs", [2])
    engine.insert(
        "docs", make_vectors_df(engine.spark, [(2, [0.9, 0.1, 0.0])])
    )
    engine.delete("docs", [3])
    assert _ids(engine.table("docs").df) == [1, 2]
    engine.insert("docs", make_vectors_df(engine.spark, NEW))
    engine.delete("docs", engine.spark.createDataFrame([(1,)], "x int"))
    engine.insert(
        "docs", make_vectors_df(engine.spark, [(1, [1.0, 0.0, 0.0])])
    )
    assert _ids(engine.table("docs").df) == [1, 2, 10, 11]
    rows = engine.ann_search("docs", "idx", [0.9, 0.1, 0.0], k=2).collect()
    assert [r["id"] for r in rows] == [10, 11]  # 1 and 2 stay tombstoned

def test_gpu_info_stub(engine):
    row = engine.faiss_gpu_info().collect()[0]
    assert row["available"] is False and row["device"].startswith("cpu[")
