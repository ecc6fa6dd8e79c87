"""Scalar-quantizer family beyond SQ8: SQ4 / SQ6 (sub-byte packed affine
codes) and SQfp16 (raw float16 codes) — the FAISS ScalarQuantizer types the
reference's factory parser forwards to ``index_factory``
(``src/faiss_index.cpp:39-60``; QT_4bit/QT_6bit/QT_fp16).  Served through the
one shared ``kernels.decode_codes`` reconstruction path, so every probe
surface (single/batch/table, rerank, IVF cells) inherits them."""

import numpy as np
import pytest

from tests.conftest import make_vectors_df


def _rand_rows(seed, n, dim):
    rng = np.random.RandomState(seed)
    return [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]


def _exact_topk(rows, q, k):
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    d = ((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(rows)), d))
    return [rows[i][0] for i in order[:k]]


def test_pack_unpack_roundtrip_property():
    from duckdb_annsearch_spark.index import kernels
    from duckdb_annsearch_spark.index.quant import SQ_BITS, pack_sq_codes

    rng = np.random.RandomState(0)
    for bits in SQ_BITS.values():
        for dim in (1, 7, 8, 13, 64):
            x = rng.randn(40, dim).astype(np.float32)
            mn, mx = x.min(0), x.max(0)
            sc = np.maximum(mx - mn, 1e-12)
            levels = (1 << bits) - 1
            q = np.clip(np.rint((x - mn) / sc * levels), 0, levels).astype(np.uint8)
            packed = pack_sq_codes(q, bits)
            assert packed.shape == (40, -(-dim * bits // 8))
            dq = {"mins": mn.tolist(), "scales": sc.tolist()}
            if bits != 8:
                dq["bits"] = bits
            dec = kernels.decode_codes(packed, dq)
            # rint quantization: error <= half a level step per dim
            assert np.abs(dec - x).max() <= (sc / levels).max() * 0.51


@pytest.mark.parametrize("desc,bytes_per_vec", [
    ("SQ4", 8), ("SQ6", 12), ("SQfp16", 32),
])
def test_sq_flat_rerank_exact(engine, desc, bytes_per_vec):
    """Candidates from the narrow codes + exact rerank == brute force — the
    quantized-serving shape that makes a lossy index exactly checkable."""
    rows = _rand_rows(11, 300, 16)
    tname = f"sqv_{desc.lower()}"
    engine.register_table(
        tname, make_vectors_df(engine.spark, rows, dim=16), row_id="id"
    )
    engine.create_index(f"i_{desc}", tname, engine="faiss", description=desc)
    meta = engine.catalog.load(f"i_{desc}")
    assert meta.quantized is True
    # artifact codes really are the narrow width (parquet column pruning
    # then reads bytes_per_vec per row, not 64)
    art = engine.get_index(f"i_{desc}").artifact()
    first = art.select("codes").first()
    assert len(first["codes"]) == bytes_per_vec
    q = rows[42][1]
    got = [
        r["id"]
        for r in engine.ann_search(
            tname, f"i_{desc}", q, k=10, oversample=10, rerank=True
        ).collect()
    ]
    assert got == _exact_topk(rows, q, 10)


def test_sqfp16_raw_is_near_exact(engine):
    """fp16 reconstruction error ~1e-3 relative: even WITHOUT rerank the
    top-10 matches brute force on well-separated random data."""
    rows = _rand_rows(23, 250, 12)
    engine.register_table(
        "fpv", make_vectors_df(engine.spark, rows, dim=12), row_id="id"
    )
    engine.create_index(
        "fp16_idx", "fpv", engine="faiss", index_type="Flat", quantization="fp16"
    )
    q = rows[7][1]
    got = {r["id"] for r in engine.ann_search("fpv", "fp16_idx", q, k=10).collect()}
    assert len(got & set(_exact_topk(rows, q, 10))) >= 9


def test_ivf_sq_family(engine):
    """IVF<n>,SQ4 / IVF<n>,SQfp16 factory composites: coarse cells with
    narrow per-row codes; full-probe + rerank is exact."""
    rows = _rand_rows(31, 240, 8)
    engine.register_table(
        "ivfsq", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    for desc in ("IVF4,SQ4", "IVF4,SQfp16"):
        name = "ix_" + desc.replace(",", "_")
        engine.create_index(name, "ivfsq", engine="faiss",
                            description=desc, nprobe=4)
        q = rows[100][1]
        got = [
            r["id"]
            for r in engine.ann_search(
                "ivfsq", name, q, k=5, oversample=10, rerank=True
            ).collect()
        ]
        assert got == _exact_topk(rows, q, 5)


def test_sq_family_lifecycle(engine):
    """Insert lands in the full-precision delta; delete tombstones; vacuum
    re-quantizes at the same width (params carry through the rebuild)."""
    rows = _rand_rows(47, 120, 8)
    engine.register_table(
        "lcv", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("lc_sq4", "lcv", engine="faiss", description="SQ4")
    extra = _rand_rows(48, 10, 8)
    extra = [(i + 200, v) for i, v in extra]
    engine.insert("lcv", make_vectors_df(engine.spark, extra, dim=8))
    engine.delete("lcv", [rows[0][0], rows[1][0]])
    live = rows[2:] + extra
    q = extra[3][1]
    got = [
        r["id"]
        for r in engine.ann_search(
            "lcv", "lc_sq4", q, k=5, oversample=10, rerank=True
        ).collect()
    ]
    assert got == _exact_topk(live, q, 5)
    engine.vacuum("lc_sq4")
    meta = engine.catalog.load("lc_sq4")
    assert meta.quantized is True and meta.extra.get("quantization") == "sq4"
    got2 = [
        r["id"]
        for r in engine.ann_search(
            "lcv", "lc_sq4", q, k=5, oversample=10, rerank=True
        ).collect()
    ]
    assert got2 == _exact_topk(live, q, 5)


def test_sq_family_rejections(engine):
    rows = _rand_rows(5, 30, 4)
    engine.register_table(
        "rej", make_vectors_df(engine.spark, rows, dim=4), row_id="id"
    )
    with pytest.raises(ValueError, match="quantization"):
        engine.create_index(
            "r1", "rej", engine="diskann", quantization="sq4"
        )
    with pytest.raises(ValueError, match="quantization"):
        engine.create_index(
            "r2", "rej", engine="faiss", index_type="HNSW", quantization="fp16"
        )
    with pytest.raises(ValueError):
        engine.create_index("r3", "rej", engine="faiss", description="SQ5")


def test_sq_family_persistence(engine):
    """Restart rebind: the bits/fp16 dequant args come back from the saved
    meta (catalog round-trip), results unchanged."""
    from duckdb_annsearch_spark.engine import AnnEngine

    rows = _rand_rows(61, 150, 8)
    engine.register_table(
        "pv6", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("p_sq6", "pv6", engine="faiss", description="SQ6")
    q = rows[9][1]
    before = [(r["id"], r["_distance"]) for r in
              engine.ann_search("pv6", "p_sq6", q, k=5).collect()]
    eng2 = AnnEngine(engine.spark, workdir=engine.workdir)
    eng2.register_table(
        "pv6", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    after = [(r["id"], r["_distance"]) for r in
             eng2.ann_search("pv6", "p_sq6", q, k=5).collect()]
    assert before == after


def test_topk_rewrite_through_quantized_index_reranks(engine):
    """The implicit ORDER BY distance LIMIT k rewrite must not silently
    swap exact distances for code distances: with only a quantized index
    available it routes through the index but re-scores exactly (the
    rerank recipe), and with a full-precision sibling it prefers that."""
    rows = _rand_rows(53, 300, 8)
    engine.register_table(
        "qtk", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("qtk_sq4", "qtk", engine="faiss", description="SQ4")
    q = rows[7][1]
    exact_ids = _exact_topk(rows, q, 5)
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    exact_d = np.sort(((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1))[:5]
    info = {}
    got = engine.topk("qtk", q, 5, explain=info).collect()
    assert info["rewritten"] and info["index"] == "qtk_sq4"
    assert [r["id"] for r in got] == exact_ids
    np.testing.assert_allclose(
        [r["_distance"] for r in got], exact_d, rtol=1e-5
    )
    # a full-precision sibling wins the selection
    engine.create_index(
        "qtk_flat", "qtk", engine="faiss", index_type="Flat"
    )
    info2 = {}
    engine.topk("qtk", q, 5, explain=info2)
    assert info2["index"] == "qtk_flat"


def test_new_quant_empty_table_build_and_lifecycle(engine):
    """Zero-row CREATE INDEX for the round-5 code types (sq4, fp16, pca,
    lsh): identity/degenerate training artifacts, empty serving, inserts
    via the full-precision delta, vacuum retrains on real rows."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.FloatType())),
        ]
    )
    empty = engine.spark.createDataFrame([], schema)
    engine.register_table("eq5", empty, row_id="id")
    for name, kw in (
        ("e_sq4", dict(quantization="sq4")),
        ("e_fp16", dict(quantization="fp16")),
        ("e_pca", dict(quantization="pca", pca_dim=2)),
        ("e_lsh", dict(quantization="lsh", lsh_nbits=16)),
    ):
        engine.create_index(
            name, "eq5", "v", engine="faiss", index_type="Flat", dim=4, **kw
        )
        assert engine.ann_search("eq5", name, [0.0] * 4, k=3).count() == 0
    rows = [(i, [float(i)] * 4) for i in range(12)]
    engine.insert("eq5", engine.spark.createDataFrame(rows, schema))
    for name in ("e_sq4", "e_fp16", "e_pca", "e_lsh"):
        got = [
            r["id"]
            for r in engine.ann_search(
                "eq5", name, [5.0] * 4, k=3, oversample=4, rerank=True
            ).collect()
        ]
        assert got[0] == 5, name
        engine.vacuum(name)
        meta = engine.catalog.load(name)
        assert meta.quantized and meta.num_vectors == 12, name
        got2 = [
            r["id"]
            for r in engine.ann_search(
                "eq5", name, [5.0] * 4, k=3, oversample=4, rerank=True
            ).collect()
        ]
        assert got2[0] == 5, name


def test_topk_filtered_through_quantized_index_is_exact(engine):
    """The filtered-ANN path (3x+100 over-fetch) must also surface EXACT
    distances when the serving index is quantized, and must prefer a
    full-precision sibling deterministically."""
    rows = _rand_rows(83, 300, 8)
    engine.register_table(
        "ftk", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("ftk_sq4", "ftk", engine="faiss", description="SQ4")
    q = rows[11][1]
    from pyspark.sql import functions as F

    got = engine.topk_filtered("ftk", F.col("id") % 2 == 0, q, 5).collect()
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    d = ((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
    even = [(i, d[i]) for i, _ in rows if i % 2 == 0]
    even.sort(key=lambda t: (t[1], t[0]))
    assert [r["id"] for r in got] == [i for i, _ in even[:5]]
    np.testing.assert_allclose(
        [r["_distance"] for r in got], [dd for _, dd in even[:5]], rtol=1e-5
    )


def test_sq8_graph_empty_table_build_and_vacuum(engine):
    """An SQ8 graph builds over zero rows (the collected vectors keep their
    (0, dim) shape for the per-dimension encode), and a vacuum after
    deleting every row of an SQ8 graph rebuilds through the same path."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.FloatType())),
        ]
    )
    engine.register_table("eg8", engine.spark.createDataFrame([], schema), row_id="id")
    engine.create_index("eg8_g", "eg8", "v", engine="diskann", quantization="sq8", dim=4)
    assert engine.catalog.load("eg8_g").num_vectors == 0
    assert engine.ann_search("eg8", "eg8_g", [0.0] * 4, k=3).count() == 0

    rows = [(i, [float(i)] * 4) for i in range(12)]
    engine.register_table("fg8", engine.spark.createDataFrame(rows, schema), row_id="id")
    engine.create_index("fg8_g", "fg8", "v", engine="diskann", quantization="sq8")
    engine.delete("fg8", [r[0] for r in rows])
    engine.vacuum("fg8_g")
    meta = engine.catalog.load("fg8_g")
    assert meta.quantized and meta.num_vectors == 0 and meta.num_deleted == 0
    assert engine.ann_search("fg8", "fg8_g", [5.0] * 4, k=3).count() == 0
