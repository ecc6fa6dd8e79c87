"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` covers the SURVEY.md §2 operator inventory; each entry has a
DuckDB ``oracle_sql()`` twin unless the operator is inherently approximate
(graph-index search), where the driver records a rows-only check.

Cross-engine determinism rules used throughout (see
duckdb_annsearch_spark/pipeline/text.py):
  * float outputs are computed in DOUBLE with deterministic left-folds,
    rounded to 6 decimals (both engines produce the correctly-rounded,
    hence bit-identical, double) with -0.0 folded to +0.0;
  * money aggregates use exact integer-cents BIGINT arithmetic (the money
    columns are 2-decimal), divided back to doubles only at the end;
  * hashes are md5-based: Spark ``conv(substr(md5(x),1,15),16,10)`` ==
    DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``;
  * every computed column is aliased identically in both engines;
  * ties break on id columns in both engines.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- constants

# imported from the library, NOT re-derived: the oracles replicate these
# values as SQL literals, so a drift between entry file and pipeline module
# would silently break minhash/langid/doc_stats parity with no build error
from duckdb_annsearch_spark.pipeline.text import (  # noqa: E402
    FP_MOD,
    HASH_MOD,
    LANG_MARKERS,
)

NUM_MINHASH = 16
LSH_BANDS = 4
SIMHASH_BITS = 32
JACCARD_T = 0.5
NEARDUP_T = 0.45
# banded hyperplane LSH (scale path for embedding near-dup): plane matrix is
# derived from the same seed on both sides — Spark signs the double left-fold
# projection, the oracle replicates it with literal plane arrays
NEARDUP_LSH_PLANES = 4  # short bands: the test threshold 0.45 is wide-angle
NEARDUP_LSH_BANDS = 8
NEARDUP_LSH_DIM = 64  # embeddings.embedding dim at every sf (TESTDATA.md)
NEARDUP_LSH_SEED = 42
HYBRID_TERMS = ["fast", "query", "join", "window", "sort"]

from duckdb_annsearch_spark.pipeline.dedup import _minhash_params  # noqa: E402

MINHASH_AB = _minhash_params(NUM_MINHASH)

# ---------------------------------------------------------------- helpers


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(df: DataFrame) -> DataFrame:
    """Scale-adaptive fan-out for expression-heavy map-only queries: a
    small single-split scan otherwise runs the whole md5/array pipeline
    in ONE task (pipeline/fanout.py — no-op whenever the scan already
    has >= defaultParallelism partitions, i.e. at any real scale).
    Results are unchanged: round-robin repartitioning only moves rows."""
    from duckdb_annsearch_spark.pipeline.fanout import fan_out_small

    return fan_out_small(df)


def _qvec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Query-vector point lookup (every ANN row draws its query from the
    table, mirroring the reference bench).  A k=1 point read does not need
    a Spark job: the pushed-down pyarrow read touches only row groups
    whose min/max stats cover ``vec_id`` (~10 ms) where the Spark lookup
    paid ~0.3-0.4 s of job overhead PER BENCH ROW (r10 measurement, ~20
    rows).  Same bytes, same vector, every invocation reads the parquet
    input — no caching.  Only a dataset pyarrow cannot open (no pyarrow,
    an unreadable path, a filesystem it cannot resolve) falls back to the
    identical Spark lookup; schema drift (no ``embedding`` or ``vec_id``
    column) raises."""
    try:
        import pyarrow.dataset as ds
        from pyarrow import ArrowInvalid

        data = ds.dataset(f"{sf_dir}/embeddings.parquet")
    except (ImportError, OSError):
        data = None
    except ArrowInvalid:  # bound: an ImportError stops at the clause above
        data = None
    if data is not None:
        tb = data.to_table(filter=ds.field("vec_id") == vec_id, columns=["embedding"])
        if tb.num_rows >= 1:
            return [float(x) for x in tb["embedding"][0].as_py()]
    row = (
        _read(spark, sf_dir, "embeddings").where(F.col("vec_id") == vec_id).first()
    )
    return [float(x) for x in row["embedding"]]


_ENGINE_CACHE: dict[tuple[int, str], object] = {}

# per-index build walls from the last engine warm-up (bench.py reports these
# so a build regression in ONE family is visible instead of drowning in one
# opaque index_build total).  Builds run concurrently, so each wall includes
# scheduler contention with its siblings — comparable round-over-round since
# the build set and pool shape are pinned here.
BUILD_TIMINGS: dict[str, float] = {}


def _timed_builds(builds: list[tuple[str, object]], pool: int) -> None:
    """Run named build thunks concurrently, recording each wall clock.

    Each build claims its own on-demand FAIR-scheduler pool (weight 1), so
    under ``spark.scheduler.mode=FAIR`` (the session default) the cluster
    shares cores ACROSS concurrent builds instead of queueing every
    single-task driver job behind a sibling's 32-task stage — the FIFO
    shape made a plain Flat build wait ~17 s behind PQ-training siblings."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession

    # getActiveSession is thread-local (None in fresh pool threads);
    # getOrCreate returns the one existing session process-wide
    sc = (
        SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    ).sparkContext

    def run(name, fn):
        sc.setLocalProperty("spark.scheduler.pool", f"build-{name}")
        sc.setJobDescription(f"index-build:{name}")  # guide §1.5
        t0 = time.time()
        try:
            fn()
        finally:
            BUILD_TIMINGS[name] = round(time.time() - t0, 3)
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc.setJobDescription(None)

    with ThreadPoolExecutor(pool) as ex:
        for f in [ex.submit(run, n, b) for n, b in builds]:
            f.result()


def _engine_for(spark: SparkSession, sf_dir: str):
    """AnnEngine with Flat/IVF/graph/FTS indexes built once per process+sf."""
    from duckdb_annsearch_spark.engine import AnnEngine

    key = (id(spark), sf_dir)
    if key in _ENGINE_CACHE:
        return _ENGINE_CACHE[key]
    eng = AnnEngine(spark, workdir=tempfile.mkdtemp(prefix="ann_entry_"))
    emb = _read(spark, sf_dir, "embeddings")
    docs = _read(spark, sf_dir, "documents")
    eng.register_table("embeddings", emb, row_id="vec_id")
    chunks = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    eng.register_table("chunks", chunks, row_id="doc_id")
    # build the indexes concurrently — Spark schedules jobs from
    # separate driver threads in parallel, and the builds touch disjoint
    # catalog directories
    builds = [
        ("emb_flat", lambda: eng.create_index(
            "emb_flat", "embeddings", "embedding", engine="faiss", index_type="Flat"
        )),
        # IP-metric twin so the optimizer's topk rewrite fires for inner
        # product too (cost gates are metric-aware — ann_optimizer.cpp:237-258)
        ("emb_flat_ip", lambda: eng.create_index(
            "emb_flat_ip", "embeddings", "embedding", engine="faiss",
            index_type="Flat", metric="ip",
        )),
        ("emb_ivf", lambda: eng.create_index(
            "emb_ivf", "embeddings", "embedding", engine="faiss",
            index_type="IVFFlat", ivf_nlist=8, nprobe=8,
        )),
        # the large-nlist scale path: two-level distributed training +
        # cell-size cap (splits kick in at sf0.1's row count)
        ("emb_ivf_hier", lambda: eng.create_index(
            "emb_ivf_hier", "embeddings", "embedding", engine="faiss",
            index_type="IVFFlat", ivf_nlist=16, train_mode="hierarchical",
            max_cell_rows=256,
        )),
        # two-pass distributed build: pilot + parallel partition inserts —
        # the scale path (and faster than the driver build even at bench sizes)
        ("emb_graph", lambda: eng.streaming_build(
            "emb_graph", "embeddings", "embedding", partition_rows=256
        )),
        # covering-payload flat index (round 7): local serving fetches FULL
        # rows (vec_id, label, embedding) in-process — reference parity
        # with src/ann_search.cpp:31-195 row fetch
        ("emb_flat_cov", lambda: eng.create_index(
            "emb_flat_cov", "embeddings", "embedding", engine="faiss",
            index_type="Flat", covering=True,
        )),
        ("chunks_fts", lambda: eng.create_fts_index("chunks_fts", "chunks", "doc_id", "text")),
    ]
    _timed_builds(builds, 6)
    _ENGINE_CACHE[key] = eng
    return eng


def _const_key(col_name):
    """NULL/NaN-safe non-foldable constant partition key (see
    operators/hybrid.constant_partition_key)."""
    from duckdb_annsearch_spark.operators.hybrid import constant_partition_key

    return constant_partition_key(col_name)


def _recall_floor_frame(hits, exact, floor: int, what: str):
    """The 1-row certified frame at the heart of the in-plan recall-floor
    assertion: semi-join overlap count with assert_true as a FILTER so
    column pruning can never skip the check (assert_true returns NULL on
    pass -> the filter keeps the row; a violation throws at execution).
    The assert anchors on the overlap aggregate itself — count(*) over an
    empty input still yields exactly one row, so a TOTAL recall failure
    (hits empty -> __ov = 0) throws instead of vanishing in a zero-row
    crossJoin.  Callers crossJoin(broadcast(frame)) onto their output."""
    overlap = hits.join(exact, "vec_id", "left_semi").agg(
        F.count("*").alias("__ov")
    )
    return overlap.where(
        F.assert_true(
            F.col("__ov") >= floor,
            F.concat(
                F.lit(f"{what} recall floor violated: overlap "),
                F.col("__ov").cast("string"),
                F.lit(f" < floor {int(floor)} vs exact top-k"),
            ),
        ).isNull()
    )


def _recall_floor_certified(hits, exact, floor: int, what: str):
    """Recall-floor certification as one Spark job, no driver-side collects
    — the certification shape of the reference's own recall tests
    (diskann_streaming.test:44-49)."""
    certified = _recall_floor_frame(hits, exact, floor, what)
    return hits.crossJoin(F.broadcast(certified)).select("vec_id")


def _dec(col, prec=18, scale=6):
    """Canonical float output: round in double — both engines produce the
    correctly-rounded (hence bit-identical) double, which any reasonable
    value-hash canonicalization then agrees on. ``+ 0.0`` folds -0.0 to
    +0.0 (DuckDB's 1.0 - x can yield -0.0 where Spark yields 0.0).
    ``prec`` is call-site documentation only (no decimal cast happens —
    values stay double end-to-end); ``scale`` is what is applied."""
    return F.round(col.cast("double"), scale) + F.lit(0.0)


def _cents(col) -> F.Column:
    """Exact integer cents from a 2-decimal DOUBLE column — identical
    BIGINT in Spark and DuckDB, so money sums are exact in both."""
    return F.round(col.cast("double") * 100).cast("long")


def _f64(col):
    return F.col(col).cast("array<double>") if isinstance(col, str) else col


def _fold_sum(arr):
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)


def _sqdist64(vec_col: str, q: list[float]):
    qc = F.array(*[F.lit(float(v)) for v in q]).cast("array<double>")
    return _fold_sum(
        F.zip_with(_f64(vec_col), qc, lambda x, y: (x - y) * (x - y))
    )


def _dot64(vec_col: str, q: list[float]):
    qc = F.array(*[F.lit(float(v)) for v in q]).cast("array<double>")
    return _fold_sum(F.zip_with(_f64(vec_col), qc, lambda x, y: x * y))


def _norm64(arr):
    return F.sqrt(_fold_sum(F.transform(arr, lambda x: x * x)))


# DuckDB SQL fragments -------------------------------------------------------

_SQL_TOKS = "list_filter(string_split_regex(lower({t}), '[^a-z0-9]+'), x -> x <> '')"
_SQL_HASH = "(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def _sql_sqdist(e: str, q: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({e})+1), "
        f"i -> ({e}[i]::DOUBLE - {q}[i]::DOUBLE) * ({e}[i]::DOUBLE - {q}[i]::DOUBLE)))"
    )


def _sql_dot(e: str, q: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({e})+1), "
        f"i -> {e}[i]::DOUBLE * {q}[i]::DOUBLE))"
    )


def _sql_norm(e: str) -> str:
    return f"sqrt(list_sum(list_transform({e}, x -> x::DOUBLE * x::DOUBLE)))"


_SQL_SHINGLES = (
    "CASE WHEN len({tk}) >= 3 THEN list_distinct(list_transform("
    "range(1, len({tk}) - 1), i -> {tk}[i] || ' ' || {tk}[i+1] || ' ' || {tk}[i+2]"
    ")) ELSE [] END"
)


def _sql_minhash_sig() -> str:
    """sig as comma-joined string over the shared (a,b) parameter list."""
    toks = _SQL_TOKS.format(t="text")
    sh = _SQL_SHINGLES.format(tk="tk")
    h = _SQL_HASH.format(s="s") + f" % {HASH_MOD}"
    parts = [
        f"coalesce(list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}) % {HASH_MOD})), {HASH_MOD})::VARCHAR"
        for a, b in MINHASH_AB
    ]
    joined = " || ',' || ".join(parts)
    return f"""
    WITH tok AS (SELECT doc_id, {toks} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh} AS shs FROM tok),
    hh AS (SELECT doc_id, list_transform(shs, s -> {h}) AS hs FROM sh),
    sigs AS (SELECT doc_id, {joined} AS minhash FROM hh)
    """


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact top-10 nearest neighbors in the embeddings table
    (the reference's headline query, README.md:16)."""
    sf_dir = "/root/testdata/sf0.001"
    q = _qvec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    d = _sqdist64("embedding", q)
    return (
        emb.select("vec_id", d.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_d")).alias("_distance"))
    )


# ---- ANN / vector search ----


def q_topk_l2(spark, sf_dir):
    """Optimizer-path top-k (S12): ``engine.topk`` must take the index path
    (the explain assertion is the faiss_optimizer.test:171-175 parity);
    distances re-derived in f64 post-hoc for the oracle compare."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    expl = {}
    hits = eng.topk("embeddings", q, 10, metric="l2", explain=expl)
    assert expl.get("rewritten"), f"l2 topk did not rewrite: {expl}"
    assert "emb_flat" == expl.get("index"), expl
    return hits.select("vec_id", _dec(_sqdist64("embedding", q)).alias("_distance"))


def q_topk_ip(spark, sf_dir):
    """IP-metric optimizer path — the IP Flat index must be chosen."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    expl = {}
    hits = eng.topk("embeddings", q, 10, metric="ip", explain=expl)
    assert expl.get("rewritten"), f"ip topk did not rewrite: {expl}"
    assert expl.get("index") == "emb_flat_ip", f"wrong index: {expl}"
    return hits.select("vec_id", _dec(-_dot64("embedding", q)).alias("_distance"))


def q_topk_cosine(spark, sf_dir):
    """Cosine never rewrites (no cosine index type — ann_optimizer.cpp:237-258):
    the engine's cost gate must refuse and serve the exact brute-force plan."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    expl = {}
    hits = eng.topk("embeddings", q, 10, metric="cosine", explain=expl)
    assert not expl.get("rewritten"), f"cosine topk must not rewrite: {expl}"
    arr = _f64("embedding")
    qn = sum(x * x for x in q) ** 0.5
    d = F.lit(1.0) - _dot64("embedding", q) / (_norm64(arr) * F.lit(qn))
    return hits.select("vec_id", _dec(d).alias("_distance"))


def q_vector_distances(spark, sf_dir):
    q = _qvec(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", _dec(_sqdist64("embedding", q)).alias("_distance")
    )


def q_sql_topk(spark, sf_dir):
    """Transparent optimizer rewrite (SURVEY §2.2 S12): ``engine.sql``
    pattern-matches the parsed plan of a plain SQL top-k-by-distance query
    and answers it from the Flat index; output = true-L2 ``array_distance``
    like the reference's projected column (``ann_optimizer.cpp:348-530``)."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    arr = "array(" + ", ".join(f"CAST({x} AS FLOAT)" for x in q) + ")"
    res = eng.sql(
        f"SELECT * FROM (SELECT *, array_distance(embedding, {arr}) AS d "
        f"FROM embeddings) ORDER BY d LIMIT 10"
    )
    # the rewrite picks the rows; emit the distance re-derived in f64 like
    # every other oracle-compared query (engine's d is f32-faithful)
    return res.select(
        "vec_id", _dec(F.sqrt(_sqdist64("embedding", q))).alias("_distance")
    )


def q_accel_topk(spark, sf_dir):
    """Transparent *DataFrame-API* rewrite (engine.accelerate): a plain
    ``df.orderBy(array_distance(...)).limit(k)`` plan — no engine call in
    the user's query — is matched on the analyzed plan and answered from
    the Flat index; explain-asserted like the SQL path."""
    from duckdb_annsearch_spark.functions.distance import array_distance

    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    emb = eng.table("embeddings").df
    plain = emb.orderBy(array_distance("embedding", q)).limit(10)
    expl = {}
    res = eng.accelerate(plain, explain=expl)
    assert expl.get("rewritten"), f"DataFrame topk did not rewrite: {expl}"
    assert expl.get("index") == "emb_flat", expl
    assert res is not plain
    return res.select(
        "vec_id", _dec(F.sqrt(_sqdist64("embedding", q))).alias("_distance")
    )


def q_lifecycle_search(spark, sf_dir):
    """Index lifecycle, oracle-certified (D3 append / D4 delete / D5
    vacuum): build Flat on vec_id<400, INSERT the 400-499 tail (delta =
    unindexed, searched brute-force and merged — diskann_index.cpp:316-361),
    DELETE every 7th row (tombstone anti-join compensation), search; then
    VACUUM (staged rebuild) and assert the compacted index returns the
    same rows. Flat is exact, so the whole lifecycle is DuckDB-checkable."""

    from duckdb_annsearch_spark.engine import AnnEngine

    eng = AnnEngine(spark, workdir=tempfile.mkdtemp(prefix="ann_lifecycle_"))
    emb = _read(spark, sf_dir, "embeddings")
    eng.register_table("lc", emb.where(F.col("vec_id") < 400), row_id="vec_id")
    eng.create_index("lc_flat", "lc", "embedding", engine="faiss", index_type="Flat")
    eng.insert("lc", emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 500)))
    eng.delete("lc", [int(i) for i in range(0, 500, 7)])
    q = _qvec(spark, sf_dir)
    before = sorted(
        r["vec_id"] for r in eng.ann_search("lc", "lc_flat", q, k=20).collect()
    )
    eng.vacuum("lc_flat")
    after = eng.ann_search("lc", "lc_flat", q, k=20)
    got = sorted(r["vec_id"] for r in after.select("vec_id").collect())
    assert got == before, f"vacuum changed results: {before} -> {got}"
    return after.select(
        "vec_id", _dec(_sqdist64("embedding", q)).alias("_distance")
    )


def q_persistence_search(spark, sf_dir):
    """D8 restart parity, oracle-certified: build a Flat index in a
    workdir, instantiate a FRESH engine over the same workdir (= process
    restart; catalog + artifact reload from disk — diskann_persist.test /
    faiss_bind_after_restart.test semantics), search through the reloaded
    index. Flat is exact, so the reloaded results are DuckDB-checkable."""

    from duckdb_annsearch_spark.engine import AnnEngine

    wd = tempfile.mkdtemp(prefix="ann_persist_")
    emb = _read(spark, sf_dir, "embeddings")
    eng1 = AnnEngine(spark, workdir=wd)
    eng1.register_table("pt", emb, row_id="vec_id")
    eng1.create_index("pt_flat", "pt", "embedding", engine="faiss", index_type="Flat")
    del eng1
    eng2 = AnnEngine(spark, workdir=wd)  # restart: reload catalog from disk
    q = _qvec(spark, sf_dir)
    hits = eng2.get_index("pt_flat").search([float(x) for x in q], 10)
    out = emb.join(
        F.broadcast(hits.withColumnRenamed("row_id", "vec_id")), on="vec_id"
    )
    return out.select("vec_id", _dec(_sqdist64("embedding", q)).alias("_distance"))


def q_merge_scan(spark, sf_dir):
    """D6 MergeIndexes + S1 index_scan, oracle-certified: two Flat indexes
    over disjoint tables (the reference's per-transaction local-index
    shape, faiss_basic.test:216-256), merge source into target, raw
    (row_id, distance) scan sees BOTH tables' vectors. Flat is exact ->
    the merged top-k is DuckDB-checkable."""

    from duckdb_annsearch_spark.engine import AnnEngine

    eng = AnnEngine(spark, workdir=tempfile.mkdtemp(prefix="ann_merge_"))
    emb = _read(spark, sf_dir, "embeddings")
    eng.register_table("ma", emb.where(F.col("vec_id") < 300), row_id="vec_id")
    eng.register_table(
        "mb",
        emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        row_id="vec_id",
    )
    eng.create_index("m_main", "ma", "embedding", engine="faiss", index_type="Flat")
    eng.create_index("m_other", "mb", "embedding", engine="faiss", index_type="Flat")
    eng.merge_index("m_main", "m_other")
    q = _qvec(spark, sf_dir)
    hits = eng.index_scan("m_main", [float(x) for x in q], 15)
    out = emb.join(
        F.broadcast(hits.withColumnRenamed("row_id", "vec_id")), on="vec_id"
    )
    return out.select("vec_id", _dec(_sqdist64("embedding", q)).alias("_distance"))


def q_knn_join(spark, sf_dir):
    """ann_search_table semantics by pure composition: 5 query rows x base,
    rank per query (SURVEY §2.2 S5)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    d = _fold_sum(
        F.zip_with(
            _f64("embedding"), F.col("qv").cast("array<double>"),
            lambda x, y: (x - y) * (x - y),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("_d").asc(), F.col("vec_id").asc())
    return (
        emb.crossJoin(F.broadcast(queries))
        .select("qid", "vec_id", d.alias("_d"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", "vec_id", "rank")
    )


def q_ann_search_flat(spark, sf_dir):
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "emb_flat", q, k=10)
    w = Window.partitionBy(_const_key("_distance")).orderBy(F.col("_distance").asc(), F.col("vec_id").asc())
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


def q_ann_search_local(spark, sf_dir):
    """S3+ single-query serving short-circuit (round 6): ann_search(
    local=True) probes a driver-cached numpy snapshot of the artifact and
    returns a k-row driver-made relation (no table/artifact scan), the
    Spark rendering of the reference's µs in-process single-query serving
    (README.md:134-146).  Exact brute force, so the same rank oracle as
    the distributed flat search applies unchanged."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    # local serving answers from the artifact alone (row_id + vector);
    # a narrow view of the base table is the supported fetch shape
    eng.register_table(
        "embeddings_kv",
        _read(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        row_id="vec_id",
    )
    hits = eng.ann_search("embeddings_kv", "emb_flat", q, k=10, local=True)
    w = Window.partitionBy(_const_key("_distance")).orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


def q_ann_search_local_payload(spark, sf_dir):
    """S3++ covering-payload local serving (round 7, verdict item 2): the
    table carries a non-vector payload column (label), which local serving
    resolves from the covering sidecar — full-row in-process fetch like the
    reference scan (src/ann_search.cpp:31-195), still zero table/artifact
    scan at query time.  Exact brute force, so the rank+payload result is
    DuckDB-checkable."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "emb_flat_cov", q, k=10, local=True)
    w = Window.partitionBy(_const_key("_distance")).orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return hits.select(
        "vec_id", "label", F.row_number().over(w).alias("rank")
    )


def q_ann_batch_flat(spark, sf_dir):
    eng = _engine_for(spark, sf_dir)
    qs = [_qvec(spark, sf_dir, i) for i in (0, 1, 2)]
    hits = eng.ann_search_batch("embeddings", "emb_flat", qs, k=5)
    w = Window.partitionBy("query_idx").orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return hits.select(
        "query_idx", "vec_id", F.row_number().over(w).alias("rank")
    )


def q_ivf_full_probe(spark, sf_dir):
    """IVFFlat with nprobe == nlist is exhaustive -> exact, oracle-checkable."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "emb_ivf", q, k=10)
    w = Window.partitionBy(_const_key("_distance")).orderBy(F.col("_distance").asc(), F.col("vec_id").asc())
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


# Fixed handoff path for artifact-replay oracles: a Spark query exports the
# engine's deterministic artifact decision (here: which rows the probed IVF
# cells contain) as ONE parquet file; the DuckDB oracle reads it back with
# read_parquet.  Sound because the compare harness (driver + selfcheck)
# executes the oracle SQL AFTER the Spark query ran, and the probed-cell
# choice is deterministic (index/ivf.py _probe_cells: exact centroid top-k).
ORACLE_EXPORT_DIR = "/tmp/ann_oracle_export"
IVF_PROBE_MEMBERS = os.path.join(ORACLE_EXPORT_DIR, "ivf_probe_members.parquet")
BPE_WORD_TOKENS = os.path.join(ORACLE_EXPORT_DIR, "bpe_word_tokens.parquet")
GRAPH_CAND_MEMBERS = {
    name: os.path.join(ORACLE_EXPORT_DIR, f"graph_cand_{name}.parquet")
    for name in ("gsq8", "gpq", "gopq")
}


def _export_oracle_ids(path: str, ids) -> None:
    """Atomically publish a one-column (vec_id int64) parquet for the
    DuckDB side of an artifact-replay oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    os.makedirs(ORACLE_EXPORT_DIR, exist_ok=True)
    tmp = path + ".tmp"
    pa_pq.write_table(
        pa.table({"vec_id": pa.array(sorted(int(i) for i in ids), pa.int64())}),
        tmp,
    )
    os.replace(tmp, path)


def _export_bpe_word_tokens(path: str, rows: list) -> None:
    """Atomically publish the (word, n_tokens) replay map for the BPE
    serving oracle — vocabulary-sized, one parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    os.makedirs(ORACLE_EXPORT_DIR, exist_ok=True)
    tmp = path + ".tmp"
    pa_pq.write_table(
        pa.table(
            {
                "word": pa.array([w for w, _ in rows], pa.string()),
                "n_tokens": pa.array([int(n) for _, n in rows], pa.int64()),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)


def _export_oracle_ids_spark(path: str, ids_df) -> None:
    """Spark-side variant of :func:`_export_oracle_ids` for exports that
    scale with the table (round-7 review: never drive-collect a
    table-sized member list).  Writes the one-column ``vec_id`` frame as
    a single-part parquet executor-side, then atomically publishes the
    part file at ``path`` (DuckDB reads one file, same as the pyarrow
    writer)."""
    import glob
    import shutil

    os.makedirs(ORACLE_EXPORT_DIR, exist_ok=True)
    stage = path + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    (
        ids_df.select(F.col("vec_id").cast("long").alias("vec_id"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(stage)
    )
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.replace(part, path)
    shutil.rmtree(stage, ignore_errors=True)


def q_ivf_partial_probe(spark, sf_dir):
    """IVFFlat at nprobe < nlist — the production probe mode (approximate:
    only the query's closest 6 of 8 cells are scanned, which is parquet
    partition pruning here — src/faiss_index_scan.cpp nprobe semantics).

    Hash-green via artifact replay (round-6 verdict item 3): the probed
    cells are DETERMINISTIC (exact query-to-centroid top-nprobe,
    index/ivf.py::_probe_cells), so the exported member list of those
    cells lets the DuckDB oracle reproduce the exact partial-probe result
    by restricting brute force to the members — the oracle checks both the
    pruning decision replay and the in-cell exact scan."""
    import numpy as np

    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    idx = eng.get_index("emb_ivf")
    cells = idx._probe_cells(
        np.asarray([list(q)], dtype=np.float32), 6
    )[0]
    # the probed cells hold ~75% of the table — export executor-side
    # (one coalesced write task), never through the driver
    members = idx.artifact().where(F.col("cluster_id").isin([int(c) for c in cells]))
    if idx.meta.num_deleted > 0:  # the probe drops tombstoned members too
        members = members.join(
            eng.catalog.tombstones("emb_ivf"), "row_id", "left_anti"
        )
    _export_oracle_ids_spark(
        IVF_PROBE_MEMBERS, members.select(F.col("row_id").alias("vec_id"))
    )
    hits = eng.ann_search("embeddings", "emb_ivf", q, k=10, nprobe=6)
    # the replay hash is deliberately blind to pruning QUALITY (the oracle
    # brute-forces whatever cells were probed) — keep the original >=7/10
    # recall floor vs the exact Flat top-10 so a probe-selection
    # regression still throws in-plan (round-7 review finding)
    exact = eng.ann_search("embeddings", "emb_flat", q, k=10).select("vec_id")
    certified = _recall_floor_frame(
        hits.select("vec_id"), exact, 7, "ivf partial-probe"
    )
    w = Window.partitionBy(_const_key("_distance")).orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return (
        hits.select("vec_id", F.row_number().over(w).alias("rank"))
        .crossJoin(F.broadcast(certified))
        .select("vec_id", "rank")
    )


def q_ivf_hier_probe(spark, sf_dir):
    """Hierarchical (two-level-trained, cell-capped) IVF at full probe —
    exhaustive, so exact vs the brute-force oracle regardless of how the
    cells were trained or split (tests/test_ivf_scale.py invariant)."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    nlist = int(eng.catalog.load("emb_ivf_hier").extra["nlist"])
    hits = eng.ann_search("embeddings", "emb_ivf_hier", q, k=10, nprobe=nlist)
    w = Window.partitionBy(_const_key("_distance")).orderBy(F.col("_distance").asc(), F.col("vec_id").asc())
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


def q_graph_topk(spark, sf_dir):
    """DiskANN graph search — approximate; no oracle (rows-only check), but
    the PLAN asserts a recall floor vs brute force, mirroring the
    reference's own certification (test/sql/diskann_streaming.test:44-49:
    >=7/10 top-10 overlap) so the rows-only row carries real evidence.
    The check is embedded as an ``assert_true`` filter over the semi-join
    overlap count — one Spark job, no driver-side collects."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "emb_graph", q, k=10).select("vec_id")
    # the exact reference side serves from the COVERING Flat twin's local
    # snapshot when eligible (r10, verdict item 7): the brute-force top-10
    # is IDENTICAL either way (same artifact data, same (distance, row_id)
    # tie-break — kernels.local_topk), but the k-row local relation
    # replaces a whole distributed search's jobs in scaffolding that only
    # feeds a semi-join.  emb_flat_cov (not emb_flat) because the table
    # carries a payload column the bare artifact can't serve; 'auto'
    # falls back to the distributed path above the snapshot cap.
    exact = eng.ann_search(
        "embeddings", "emb_flat_cov", q, k=10, local="auto"
    ).select("vec_id")
    return _recall_floor_certified(hits, exact, 7, "graph")


_GRAPH_EXACT_N = 2000


def q_graph_exact_topk(spark, sf_dir):
    """Exhaustive-beam degeneracy closes the graph-search oracle gap
    (round-8 verdict item 2): with beam width L >= N on a connected
    Vamana graph the candidate pool never evicts, so greedy search visits
    the entire component and the served top-k IS the brute-force top-k —
    directly hash-comparable to the DuckDB oracle, no artifact replay.
    Small N keeps the driver build cheap; beam semantics mirror the
    reference (rust_lib/src/provider.rs:442-518).  ``graph_topk`` keeps
    the production-beam recall-floor row; this row certifies the SAME
    search code path (same beam loop, same L resolution) at the
    degenerate setting where approximate becomes exact."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    try:
        eng.get_index("emb_graph_exact")
    except Exception:
        # unsharded driver Vamana over the whole (small) embeddings table
        eng.create_index(
            "emb_graph_exact", "embeddings", "embedding", engine="diskann"
        )
    hits = eng.ann_search(
        "embeddings", "emb_graph_exact", q, k=10,
        search_complexity=_GRAPH_EXACT_N,
    )
    w = Window.partitionBy(_const_key("_distance")).orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


_SQ8_ENGINE_CACHE: dict[tuple[int, str], object] = {}


def _sq8_engine_for(spark, sf_dir):
    """Engine with the quantized-index family, built once per process+sf:
    Flat, SQ8-Flat, and the sharded out-of-core SQ8 graph (per-shard u8
    codes under index-global min/scale — rust_lib/src/provider.rs:157-230,
    DANN SQ8 trailing section rust_lib/src/file_format.rs:84-120)."""
    from duckdb_annsearch_spark.engine import AnnEngine

    key = (id(spark), sf_dir)
    if key in _SQ8_ENGINE_CACHE:
        return _SQ8_ENGINE_CACHE[key]
    eng = AnnEngine(spark, workdir=tempfile.mkdtemp(prefix="ann_sq8_"))
    eng.register_table("embeddings", _read(spark, sf_dir, "embeddings"), row_id="vec_id")
    builds = [
        # covering=True (r10): lets the graph replay rows' exact-reference
        # search serve from the local snapshot (the table carries a payload
        # column the bare artifact can't derive); the catalog row the
        # ann_list_info oracle compares is unchanged
        ("info_flat", lambda: eng.create_index(
            "info_flat", "embeddings", "embedding", engine="faiss",
            index_type="Flat", covering=True,
        )),
        ("info_sq8", lambda: eng.create_index(
            "info_sq8", "embeddings", "embedding", engine="faiss",
            index_type="Flat", quantization="sq8",
        )),
        # the sub-byte / half-float ends of the scalar-quantizer family
        # (FAISS QT_4bit / QT_fp16 — factory "SQ4"/"SQfp16"): 8x and 2x
        # compression through the same shared decode path
        ("info_sq4", lambda: eng.create_index(
            "info_sq4", "embeddings", "embedding", engine="faiss",
            description="SQ4",
        )),
        ("info_fp16", lambda: eng.create_index(
            "info_fp16", "embeddings", "embedding", engine="faiss",
            description="SQfp16",
        )),
        # pretransform + binary-code ends of the factory surface: PCA
        # (reduced f32 coords, W^T reconstruction) and LSH (hyperplane sign
        # bits, hamming ranking via the ±1-image GEMM)
        ("info_pca", lambda: eng.create_index(
            "info_pca", "embeddings", "embedding", engine="faiss",
            description="PCA32",
        )),
        ("info_lsh", lambda: eng.create_index(
            "info_lsh", "embeddings", "embedding", engine="faiss",
            description="LSH512",
        )),
        # PCA pretransform over an IVF coarse partitioning (the common
        # high-dim FAISS composite — new r5); reduced f32 codes per cell,
        # W^T reconstruction at probe, full-probe + rerank serving
        ("info_pcaivf", lambda: eng.create_index(
            "info_pcaivf", "embeddings", "embedding", engine="faiss",
            description="PCA32,IVF8,Flat", nprobe=8,
        )),
        # product quantization via the FAISS factory-composite surface
        # (src/faiss_index.cpp:39-60); 8 bytes/vector vs 256 raw
        # 16 subspaces of 4 dims: 16 bytes/vector vs 256 raw, and fine
        # enough that 10x over-fetch + exact re-rank is reliably exact at
        # these corpus sizes (measured candidate recall 10/10 at sf0.01/0.1)
        ("info_pq", lambda: eng.create_index(
            "info_pq", "embeddings", "embedding", engine="faiss",
            description="PQ16",
        )),
        # IVFPQ: coarse cells + residual-coded PQ (FAISS semantics);
        # nprobe=nlist so candidate coverage is probe-complete and only
        # ADC granularity limits it (measured 10/10 at 10x over-fetch)
        ("info_ivfpq", lambda: eng.create_index(
            "info_ivfpq", "embeddings", "embedding", engine="faiss",
            description="IVF8,PQ16", nprobe=8,
        )),
        # OPQ: learned orthogonal rotation before PQ (Ge et al. 2013 /
        # FAISS OPQMatrix); candidate recall 10/10 at 10x over-fetch
        ("info_opq", lambda: eng.create_index(
            "info_opq", "embeddings", "embedding", engine="faiss",
            description="OPQ16,PQ16",
        )),
        ("info_gsq8", lambda: eng.streaming_build(
            "info_gsq8", "embeddings", "embedding",
            shards=4, shard_by="kmeans", quantization="sq8",
        )),
        # sharded PQ graph (new r5): per-shard 16-byte codes under
        # index-global codebooks, PQC mmap sidecars — the 16x-compression
        # out-of-core path (m bytes/vector paged instead of 4*dim)
        ("info_gpq", lambda: eng.streaming_build(
            "info_gpq", "embeddings", "embedding",
            shards=4, shard_by="kmeans", quantization="pq", pq_m=16,
        )),
        # sharded OPQ (late r5): index-global rotation composed with the
        # per-shard codes (x @ R encode, R^T decode, OPQC mmap trailer)
        ("info_gopq", lambda: eng.streaming_build(
            "info_gopq", "embeddings", "embedding",
            shards=4, shard_by="kmeans", quantization="pq", pq_m=16, opq=True,
        )),
    ]
    _timed_builds(builds, 12)
    _SQ8_ENGINE_CACHE[key] = eng
    return eng


def q_ann_list_info(spark, sf_dir):
    """S8 ann_list + S9 ann_index_info, oracle-certified: catalog listing
    joined to per-index diagnostics (src/ann_list.cpp:16-90,92-221) over a
    deterministic index family (Flat, SQ8-Flat, sharded SQ8 graph).  The
    artifact-size column is excluded (bytes are layout-dependent); name,
    engine, table, column, num_vectors, num_deleted, and the quantized
    flag are exact and DuckDB-checkable as literals."""
    eng = _sq8_engine_for(spark, sf_dir)
    lst = eng.ann_list()
    info = eng.ann_index_info().select(
        "name",
        F.col("column").alias("col_name"),
        "num_vectors",
        "num_deleted",
        "quantized",
    )
    return (
        lst.join(info, "name")
        .select(
            "name", "engine", "table_name", "col_name",
            "num_vectors", "num_deleted", "quantized",
        )
        .orderBy("name")
    )


def q_sq8_rerank(spark, sf_dir):
    """R4 SQ8 search, oracle-certified end-to-end: the quantized index
    generates candidates (over-fetch 5x — dequantized u8 codes,
    rust_lib/src/provider.rs:161-210), then an exact f64 re-rank on the
    fetched rows restores full precision — the standard quantized-serving
    shape (candidates from codes, re-rank from the source vectors), which
    makes a lossy index brute-force-checkable."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_sq8", q, k=10, oversample=5)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_sq4_rerank(spark, sf_dir):
    """SQ4 (FAISS QT_4bit, factory "SQ4"): 4-bit affine codes packed two
    dims per byte — 8x compression — generate candidates (over-fetch 10x),
    exact f64 re-rank restores full precision.  Same oracle shape as
    ``sq8_rerank``; certifies the sub-byte pack/unpack path end-to-end."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_sq4", q, k=10, oversample=10)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_fp16_rerank(spark, sf_dir):
    """SQfp16 (FAISS QT_fp16): raw float16 codes, 2 bytes/dim, no training
    stats; reconstruction error ~1e-3 relative so 5x over-fetch + exact f64
    re-rank is comfortably exact.  Certifies the half-float widen path."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_fp16", q, k=10, oversample=5)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_pca_rerank(spark, sf_dir):
    """PCA pretransform ("PCA32" factory prefix, faiss PCAMatrix): candidates
    ranked on 32-dim reduced coordinates reconstructed through W^T (2x fewer
    bytes than the raw dim-64 vectors; near-isotropic synthetic embeddings
    have a flat spectrum, so deeper cuts cost candidate recall), 20x
    over-fetch, exact f64 re-rank — certifies the
    train/persist/project/reconstruct chain against brute force."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_pca", q, k=10, oversample=20)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_pca_ivf_rerank(spark, sf_dir):
    """PCA pretransform composed with IVF coarse cells
    ("PCA32,IVF8,Flat" factory — new r5): cells store the reduced f32
    coordinates, the probe reconstructs via W^T through the shared
    decode path, full probe (nprobe=nlist) + 20x over-fetch + exact f64
    re-rank certifies the composite against brute force."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search(
        "embeddings", "info_pcaivf", q, k=10, oversample=20, nprobe=8
    )
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_lsh_rerank(spark, sf_dir):
    """LSH binary codes ("LSH512" factory, faiss IndexLSH): candidates by
    hamming distance over 512 hyperplane sign bits (64 bytes/vector — the
    ±1-image GEMM identity, 4*hamming), exact f64 re-rank — certifies the
    sign-encode + hamming-ranking + query-transform chain end-to-end.
    512 bits + 20x over-fetch carries 2x candidate-coverage margin at BOTH
    driver scales (256-bit top-100 drops to 8/10 at sf0.1's 2000 rows —
    measured; sign bits on near-isotropic data need width)."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_lsh", q, k=10, oversample=20)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_pq_rerank(spark, sf_dir):
    """Product quantization, oracle-certified end-to-end (built via the
    "PQ16" FAISS factory composite): PQ codes generate candidates
    (over-fetch 10x, ADC distances on 16-byte codes), exact f64 re-rank on
    the fetched rows — same serving shape as ``sq8_rerank``, at 16x
    compression instead of 4x."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_pq", q, k=10, oversample=10)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_ivfpq_rerank(spark, sf_dir):
    """IVFPQ (residual-coded, FAISS semantics) oracle-certified end-to-end:
    full-probe candidates from 16-byte residual codes (over-fetch 10x),
    exact f64 re-rank — certifies the coarse assign + residual encode +
    centroid add-back + ADC chain against brute force."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_ivfpq", q, k=10, oversample=10, nprobe=8)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_opq_rerank(spark, sf_dir):
    """OPQ (rotated product quantization, "OPQ16,PQ16" factory composite)
    oracle-certified end-to-end: candidates from rotated 16-byte codes
    (decode applies R^T, so the probe is original-space), exact f64
    re-rank — certifies the rotation train/persist/apply chain against
    brute force."""
    eng = _sq8_engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.ann_search("embeddings", "info_opq", q, k=10, oversample=10)
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def _graph_replay_certified(spark, sf_dir, eng, index: str, tag: str, what: str):
    """Shared shape of the sharded-quantized-graph rows (round 7): the
    candidate union the rerank recipe scores is DETERMINISTIC (lock-step
    per-shard beams, ``merge_k=0`` skips the global code cut), so export
    it and let the DuckDB oracle reproduce the EXACT served top-10 by
    brute-forcing only the candidates — one hash then checks the beam's
    candidate decision replay, the exact re-score, the cross-shard merge,
    and the final ordering (the same artifact-replay shape as
    ``ivf_partial_probe``).  The >=7/10 in-plan recall-floor assert vs the
    full-precision Flat top-10 stays (diskann_streaming.test:44-49) so
    candidate QUALITY is still certified, not just replayed.

    Round 8: the export comes from ``ann_search``'s ``capture`` hook —
    the SAME persisted candidate frame the served result reranks (one
    beam execution total), so the served top-10 is a subset of the
    export BY CONSTRUCTION (round-7 review: the old second
    ``idx.search`` run made the oracle's soundness silently depend on
    two independent searches being bit-identical, and doubled the graph
    cost of these bench rows)."""
    q = _qvec(spark, sf_dir)
    cap: dict = {}
    hits = eng.ann_search(
        "embeddings", index, q, k=10, oversample=10, rerank=True, capture=cap
    )
    cand = cap["candidates"].select("row_id").distinct().collect()
    _export_oracle_ids(GRAPH_CAND_MEMBERS[tag], (r["row_id"] for r in cand))
    # capture stays persisted: the driver's collect of the returned frame
    # reuses the cached candidates (that reuse IS the single-search win);
    # ~fetch_k*shards rows cached per graph row is noise
    # exact reference from the Flat local snapshot when eligible (r10,
    # verdict item 7): identical brute-force top-10 (same (distance,
    # row_id) tie-break), one local k-row relation instead of a full
    # distributed search per graph row; 'auto' falls back above the cap
    exact = eng.ann_search(
        "embeddings", "info_flat", q, k=10, local="auto"
    ).select("vec_id")
    certified = _recall_floor_frame(hits.select("vec_id"), exact, 7, what)
    w = Window.partitionBy(_const_key("_distance")).orderBy(
        F.col("_distance").asc(), F.col("vec_id").asc()
    )
    return (
        hits.select("vec_id", F.row_number().over(w).alias("rank"))
        .crossJoin(F.broadcast(certified))
        .select("vec_id", "rank")
    )


def q_graph_sq8_topk(spark, sf_dir):
    """Sharded out-of-core SQ8 graph search, served through the rerank
    recipe (the documented serving shape for lossy codes) — hash-green
    since round 7 via candidate-union replay + the original >=7/10
    in-plan recall floor (see ``_graph_replay_certified``); the SQ8 mmap
    dequant path is exercised as the beam's navigation metric."""
    eng = _sq8_engine_for(spark, sf_dir)
    return _graph_replay_certified(
        spark, sf_dir, eng, "info_gsq8", "gsq8", "sharded-sq8 graph"
    )


def q_graph_pq_topk(spark, sf_dir):
    """Sharded out-of-core PQ graph search (new r5; hash-green since
    round 7 via candidate-union replay, see ``_graph_replay_certified``)
    with the same >=7/10 in-plan recall-floor certification as
    ``graph_topk`` (diskann_streaming.test:44-49), asserted against the
    exact full-precision Flat top-10 so the floor covers both the graph
    approximation AND the 16-byte-code reconstruction error.  Served
    through the engine's rerank recipe
    (``oversample=10, rerank=True`` — candidates from the codes, exact
    re-score on the table vectors), the documented serving shape for
    lossy codes: raw 16-byte ADC ranking alone drops below the floor at
    sf0.1's corpus size (distance concentration vs 4-dim subspace
    granularity).  This is the quantization whose compression matters at
    100 TB: shards page m=16 bytes/vector off the PQC mmap sidecar
    instead of 4*dim=256."""
    eng = _sq8_engine_for(spark, sf_dir)
    return _graph_replay_certified(
        spark, sf_dir, eng, "info_gpq", "gpq", "sharded-pq graph"
    )


def q_graph_opq_topk(spark, sf_dir):
    """Sharded out-of-core OPQ graph search (late r5; hash-green since
    round 7 via candidate-union replay, see ``_graph_replay_certified``),
    same >=7/10 in-plan recall-floor certification as
    ``graph_pq_topk``: the index-global learned rotation composes with the
    per-shard 16-byte codes (encode x @ R, decode applies R^T), served
    through the rerank recipe so the floor covers rotation persistence,
    the OPQC mmap trailer decode, and the graph approximation at once."""
    eng = _sq8_engine_for(spark, sf_dir)
    return _graph_replay_certified(
        spark, sf_dir, eng, "info_gopq", "gopq", "sharded-opq graph"
    )


def q_dann_roundtrip(spark, sf_dir):
    """R6 DANN binary interop, oracle-certified end-to-end: export the
    driver-built graph to the reference's ``.diskann`` v2 layout
    (``rust_lib/src/file_format.rs:3-18``), import it back as a NEW index,
    and serve through the imported copy.  Two layers of evidence in one
    plan: (a) an assert_true filter proves the imported index's top-10
    EQUALS the original graph's top-10 (the artifact is bit-exact, search
    is deterministic — any serialization drift throws at execution), and
    (b) a 10x over-fetch + exact-f64 re-rank makes the returned rows
    brute-force-checkable by the DuckDB oracle (the quantized-serving
    shape that turns an approximate index into a hash-matchable row)."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    if not eng.catalog.exists("emb_graph_rt"):
        dann_path = os.path.join(eng.catalog.root, "emb_graph_export.diskann")
        eng.export_dann("emb_graph", dann_path)
        eng.import_dann("emb_graph_rt", "embeddings", dann_path)
    # (a) bit-exact round trip: imported top-10 == original top-10.
    # import_dann assigns row_id = label; the engine labels by ascending
    # row_id over the contiguous vec_id range, so ids line up 1:1.
    orig = eng.ann_search("embeddings", "emb_graph", q, k=10).select("vec_id")
    imp = eng.ann_search("embeddings", "emb_graph_rt", q, k=10)
    same = imp.select("vec_id").join(orig, "vec_id", "left_semi").agg(
        F.count("*").alias("__eq")
    )
    certified = same.where(
        F.assert_true(
            F.col("__eq") == 10,
            F.concat(
                F.lit("DANN round-trip drift: only "),
                F.col("__eq").cast("string"),
                F.lit("/10 results match the pre-export graph"),
            ),
        ).isNull()
    )
    # (b) oracle-checkable serving: over-fetch through the IMPORTED index,
    # exact f64 re-rank (search L >= 100 on this corpus: candidate recall
    # 10/10, same margin as the pq/opq rerank rows)
    hits = eng.ann_search(
        "embeddings", "emb_graph_rt", q, k=10, oversample=10,
        search_complexity=150,
    )
    d = _sqdist64("embedding", q)
    return (
        hits.select("vec_id", d.alias("_dx"))
        .crossJoin(F.broadcast(certified))
        .orderBy(F.col("_dx").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _dec(F.col("_dx")).alias("_distance"))
    )


def q_drop_index_catalog(spark, sf_dir):
    """D7 Drop + DROP TABLE cascade, oracle-certified via the catalog
    delta (``test/sql/edge_cases.test`` "Drop table with indexes"): three
    Flat indexes over two tables; ``drop_index`` removes one, dropping
    the second table cascades away its index, and the surviving catalog
    listing (joined to per-index diagnostics) is exact — name, engine,
    table, column, live-vector count, deletes, quantized flag are all
    DuckDB-checkable.  The surviving index is then searched to prove the
    drops didn't disturb its artifact (the search feeds the in-plan
    assert; the returned rows are the catalog listing)."""

    from duckdb_annsearch_spark.engine import AnnEngine

    eng = AnnEngine(spark, workdir=tempfile.mkdtemp(prefix="ann_drop_"))
    emb = _read(spark, sf_dir, "embeddings")
    eng.register_table("da", emb, row_id="vec_id")
    eng.register_table("db", emb.where(F.col("vec_id") < 300), row_id="vec_id")
    eng.create_index("drop_keep", "da", "embedding", engine="faiss", index_type="Flat")
    eng.create_index("drop_gone", "da", "embedding", engine="faiss", index_type="Flat")
    eng.create_index("drop_casc", "db", "embedding", engine="faiss", index_type="Flat")
    eng.drop_index("drop_gone")
    eng.unregister_table("db")  # cascades drop_casc away
    q = _qvec(spark, sf_dir)
    # surviving index still serves: top-10 through drop_keep must overlap
    # the exact top-10 at >=9/10 — Flat is exact but ranks in f32 GEMM
    # while the exact side ranks in f64, so one unit of slack absorbs a
    # potential near-tie flip at the rank-10 boundary (the only zero-risk
    # floor; every other certification already carries slack)
    hits = eng.ann_search("da", "drop_keep", q, k=10).select("vec_id")
    exact_ids = (
        emb.select("vec_id", _sqdist64("embedding", q).alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    lst = eng.ann_list()
    info = eng.ann_index_info().select(
        "name", F.col("column").alias("col_name"), "num_vectors",
        "num_deleted", "quantized",
    )
    out = lst.join(info, "name").select(
        "name", "engine", "table_name", "col_name",
        "num_vectors", "num_deleted", "quantized",
    ).orderBy("name")
    return out.crossJoin(
        F.broadcast(_recall_floor_certified(hits, exact_ids, 9, "post-drop").agg(
            F.count("*").alias("__chk")
        ))
    ).drop("__chk")


def q_gpu_info(spark, sf_dir):
    """S11 faiss_gpu_info, oracle-certified (``src/faiss_fn_gpu.cpp:9-56``,
    ``test/sql/faiss_gpu.test:8-14`` asserts exactly this: available =
    false on a GPU-less host).  The device string names the execution
    backend plus the Spark master; the master is environment-dependent, so
    the checked columns are the availability flag and the backend prefix."""
    eng = _engine_for(spark, sf_dir)
    return eng.faiss_gpu_info().select(
        "available",
        F.substring_index(F.col("device"), "[", 1).alias("backend"),
    )


def q_hybrid_rrf(spark, sf_dir):
    """BM25 + f64 vector ranks + weighted RRF (engine FTS + rrf_fuse)."""
    from duckdb_annsearch_spark.operators.hybrid import rrf_fuse

    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    t = eng.table("chunks")
    d = _sqdist64("embedding", q)
    vec_ranked = (
        t.df.select(F.col("doc_id").alias("row_id"), F.round(d, 9).alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("row_id").asc())
        .limit(50)
        .withColumn(
            "_vector_rank",
            F.row_number().over(
                Window.partitionBy(_const_key("_d")).orderBy(F.col("_d").asc(), F.col("row_id").asc())
            ),
        )
        .select("row_id", "_vector_rank")
    )

    from duckdb_annsearch_spark.operators.fts import bm25_scores

    fts = eng.catalog.load("chunks_fts")
    base = eng.catalog.data_path("chunks_fts")
    postings = spark.read.parquet(os.path.join(base, "postings"))
    doclens = spark.read.parquet(os.path.join(base, "doclens"))
    scores = bm25_scores(
        postings, doclens, fts.extra["n_docs"], fts.extra["avgdl"], HYBRID_TERMS
    )
    bm25_ranked = (
        scores.withColumn("_s", F.round(F.col("_bm25_score"), 9))
        .orderBy(F.col("_s").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn(
            "_bm25_rank",
            F.row_number().over(
                Window.partitionBy(_const_key("_s")).orderBy(F.col("_s").desc(), F.col("doc_id").asc())
            ),
        )
        .select(F.col("doc_id").alias("row_id"), "_bm25_rank")
    )
    fused = rrf_fuse(bm25_ranked, vec_ranked, 10, 0.3, 0.7)
    return fused.select(
        F.col("row_id").alias("doc_id"),
        "_bm25_rank",
        "_vector_rank",
        _dec(F.col("_rrf_score").cast("double")).alias("_rrf_score"),
    )


# ---- dedup / text pipeline ----


def q_dedup_exact(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import dedup_exact

    docs = _read(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").select("doc_id")


def q_minhash_sigs(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(_fan(docs), "text", "doc_id", NUM_MINHASH)
    return sigs.select(
        "doc_id",
        F.concat_ws(
            ",", *[F.col("minhash")[i].cast("string") for i in range(NUM_MINHASH)]
        ).alias("minhash"),
    )


def q_lsh_pairs(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import lsh_duplicate_pairs

    docs = _read(spark, sf_dir, "documents")
    return lsh_duplicate_pairs(docs, "text", "doc_id", NUM_MINHASH, LSH_BANDS)


def q_dedup_clusters(spark, sf_dir):
    """Full fuzzy-dedup pipeline: LSH candidate pairs -> exact-Jaccard
    verification -> connected components via min-label propagation. The
    oracle computes the same pipeline with a recursive-CTE transitive
    closure — transitivity (A~B~C without a direct A~C pair) must agree."""
    from duckdb_annsearch_spark.pipeline.dedup import dedup_fuzzy

    docs = _read(spark, sf_dir, "documents")
    out = dedup_fuzzy(
        docs, "text", "doc_id",
        threshold=JACCARD_T, num_hashes=NUM_MINHASH, bands=LSH_BANDS,
    )
    return out.select("doc_id", "cluster")


def q_simhash(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import simhash

    docs = _read(spark, sf_dir, "documents")
    return simhash(_fan(docs), "text", "doc_id", SIMHASH_BITS)


def q_simhash_pairs(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import simhash_hamming_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs, "text", "doc_id", max_hamming=3, bits=SIMHASH_BITS)


def q_jaccard_pairs(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", JACCARD_T)
    return out.select("doc_a", "doc_b", _dec(F.col("jaccard"), 9, 6).alias("jaccard"))


def q_neardup_embeddings(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.dedup import embedding_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(emb, "embedding", "vec_id", NEARDUP_T)
    return out.select("id_a", "id_b", _dec(F.col("cos"), 9, 6).alias("cos"))


SEMDEDUP_EPS = 0.45
SEMDEDUP_MAX_ID = 600


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (pipeline/dedup.py::semantic_dedup) in its n_clusters=1
    degenerate form, which is exactly SQL-expressible: keep=False iff some
    smaller-id row has rounded cosine >= eps (the paper's upper-triangle
    rule, no transitive chaining).  The clustered path (kmeans partition +
    within-cluster pruning, the 100 TB shape) is equivalence-tested
    against this exact form in tests/test_pipeline.py.  Restricted to
    vec_id < {MAX_ID} so the O(n^2) DuckDB oracle stays bounded at
    sf0.1."""
    from duckdb_annsearch_spark.pipeline.dedup import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < SEMDEDUP_MAX_ID
    )
    out = semantic_dedup(
        emb, "embedding", "vec_id", eps=SEMDEDUP_EPS, n_clusters=1
    )
    return out.select("vec_id", "keep")


def q_neardup_lsh(spark, sf_dir):
    """Banded hyperplane-LSH near-dup (the 100 TB path): per-band bucket
    join -> distinct candidates -> exact double-fold cosine verify. The
    oracle reproduces the bucketing exactly (same planes as literals), so
    the deterministic sub-recall candidate set hash-matches."""
    from duckdb_annsearch_spark.pipeline.dedup import embedding_neardup_pairs_lsh

    emb = _read(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs_lsh(
        emb,
        "embedding",
        "vec_id",
        NEARDUP_T,
        n_planes=NEARDUP_LSH_PLANES,
        n_bands=NEARDUP_LSH_BANDS,
        dim=NEARDUP_LSH_DIM,
        seed=NEARDUP_LSH_SEED,
    )
    return out.select("id_a", "id_b", _dec(F.col("cos"), 9, 6).alias("cos"))


def q_topk_filtered(spark, sf_dir):
    """Filtered ANN (reference "3x + 100" over-fetch strategy, README.md:164):
    over-fetch from the flat index, filter, limit.  The multiplier is set so
    the over-fetch covers the table — exact results, oracle-checkable."""
    eng = _engine_for(spark, sf_dir)
    q = _qvec(spark, sf_dir)
    hits = eng.topk_filtered(
        "embeddings", F.col("label") == 3, q, 10, overfetch_multiplier=100000
    )
    w = Window.partitionBy(_const_key("_distance")).orderBy(F.col("_distance").asc(), F.col("vec_id").asc())
    return hits.select("vec_id", F.row_number().over(w).alias("rank"))


def q_ann_search_table(spark, sf_dir):
    """Table-in/table-out search (S5): query table -> per-query top-k with
    base-row fetch; ranks only (f32 distances are not oracle-reproducible)."""
    eng = _engine_for(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    qdf = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = eng.ann_search_table(qdf, "embeddings", "emb_flat", k=3)
    w = Window.partitionBy("qid").orderBy(F.col("_distance").asc(), F.col("vec_id").asc())
    return res.select("qid", "vec_id", F.row_number().over(w).alias("rank"))


def q_user_totals(spark, sf_dir):
    """Batch twin of the stateful-streaming running_user_totals operator."""
    from duckdb_annsearch_spark.streaming.events import running_user_totals

    ev = _read_events(spark, sf_dir)
    out = running_user_totals(ev)
    return out.select(
        "user_id",
        "n_events",
        _dec(F.col("total_value"), 18, 4).alias("total_value"),
    )


def q_events_windowed(spark, sf_dir):
    """Watermark-style tumbling window rollup (streaming module semantics,
    run in batch mode): 6-hour buckets per event type."""
    ev = _read_events(spark, sf_dir)
    w = F.window(_event_ts(ev), "6 hours")
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: documents' text bytes as an opaque
    BINARY payload -> Arrow-batched decode/feature-extract (the stubbed
    decode is md5-deterministic, so the byte features are oracle-exact)."""
    from duckdb_annsearch_spark.pipeline.multimodal import FEATURE_DIM, extract_features

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media)
    byte_strs = [
        F.round(F.col("feature")[i] * 255).cast("int").cast("string")
        for i in range(FEATURE_DIM)
    ]
    return feats.select(
        "media_id", F.concat_ws(",", *byte_strs).alias("feature_bytes")
    )


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training over the documents corpus (arXiv:1508.07909
    in its production shape: ONE distributed word-frequency pass — the
    table is vocabulary-sized, never corpus-sized — then a driver-side
    deterministic merge loop).  Rows-only check: the merge loop is
    inherently iterative (the documented non-SQL-expressible class);
    correctness is pinned by tests/test_bpe.py against an independently
    written naive reference implementation."""
    from duckdb_annsearch_spark.pipeline.bpe import train_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=40, min_freq=2, max_words=200_000)
    return spark.createDataFrame(
        [(int(k), str(l), str(r))
         for k, l, r in zip(merges["rank"], merges["left"], merges["right"])],
        "rank long, left string, right string",
    )


def q_bpe_token_counts(spark, sf_dir):
    """The learned tokenizer SERVED corpus-wide: train (cached-size merge
    table) then bpe_encode via Arrow-batched mapInPandas with per-worker
    word caches; returns per-doc learned-BPE token counts for the first
    documents.

    Hash-green via artifact replay (round 8, the ``ivf_partial_probe``
    shape): once training ends the learned ranks are DATA, and the token
    count of a fixed word under fixed ranks is deterministic — export the
    (word, n_tokens) map for the served docs' vocabulary (tiny) and let
    DuckDB re-split the corpus with the same word regex, join the map,
    and sum per doc.  That checks the corpus-wide distributed half (split
    parity, Arrow-batched encode across batches, per-worker cache, sum)
    EXACTLY; the per-word merge math itself stays pinned by
    tests/test_bpe.py's equivalence vs an independent naive reference
    (replay would be circular for that inner loop — documented class)."""
    from duckdb_annsearch_spark.pipeline.bpe import (
        WORD_SPLIT_RE,
        _encode_word,
        bpe_encode,
        train_bpe,
    )

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=40, min_freq=2, max_words=200_000)
    served = docs.where(F.col("doc_id") < 50)
    words = [
        r["word"]
        for r in served.select(
            F.explode(F.split(F.lower("text"), WORD_SPLIT_RE)).alias("word")
        )
        .where(F.col("word") != "")
        .distinct()
        .collect()
    ]
    ranks = {
        (str(l), str(r)): int(k)
        for k, l, r in zip(merges["rank"], merges["left"], merges["right"])
    }
    cache: dict = {}
    _export_bpe_word_tokens(
        BPE_WORD_TOKENS,
        [(w, len(_encode_word(w, ranks, cache))) for w in words],
    )
    enc = bpe_encode(served, merges)
    return enc.select("doc_id", "n_tokens")


def q_prepare_corpus(spark, sf_dir):
    """Composed training-data pipeline: langid -> quality floor -> exact
    dedup (pipeline/corpus.py), keeping (doc_id, lang, quality)."""
    from duckdb_annsearch_spark.pipeline.corpus import prepare_corpus

    docs = _read(spark, sf_dir, "documents")
    out = prepare_corpus(docs, langs=("en",), min_quality=0.3, dedup="exact")
    return out.select("doc_id", "lang", _dec(F.col("quality"), 9, 6).alias("quality"))


def q_langid(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.text import detect_language

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_language(F.col("text")).alias("lang"))


def q_doc_stats(spark, sf_dir):
    from duckdb_annsearch_spark.pipeline.text import (
        bpe_token_count,
        doc_fingerprint,
        quality_score,
        token_count,
    )

    docs = _read(spark, sf_dir, "documents")
    return _fan(docs).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        _dec(quality_score(F.col("text")), 9, 6).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


# Mixing parameters shared by the sampling queries and their oracles.
SAMPLE_RATES = {"de": 1.0, "en": 0.5, "zh": 0.25}
QUOTA_PER_SOURCE = 10
TOKEN_BUDGETS = {"en": 1500, "zh": 1000}


def q_stratified_sample(spark, sf_dir):
    """Corpus mixing by per-language Bernoulli rate (pipeline/sample.py):
    md5-keyed deterministic membership, map-only (no shuffle), so the
    DuckDB oracle reproduces the selection bit-for-bit."""
    from duckdb_annsearch_spark.pipeline.sample import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, SAMPLE_RATES, group_col="lang").select(
        "doc_id", "lang"
    )


def q_quota_sample(spark, sf_dir):
    """Exact per-source row quotas: each stratum keeps its smallest-hash
    prefix, so membership is deterministic and monotone under corpus
    growth (pipeline/sample.py; at scale a map-only presample bounds the
    rank window's input — exercised in tests/test_sample.py)."""
    from duckdb_annsearch_spark.pipeline.sample import quota_sample

    docs = _read(spark, sf_dir, "documents")
    return quota_sample(docs, QUOTA_PER_SOURCE, group_col="source").select(
        "doc_id", "source"
    )


def q_token_budget_mix(spark, sf_dir):
    """Training-mixture composition by per-language TOKEN budget: walk each
    stratum in hash order, keep while the running BPE-piece total fits
    (pipeline/sample.py)."""
    from duckdb_annsearch_spark.pipeline.sample import token_budget_mix

    docs = _read(spark, sf_dir, "documents")
    out = token_budget_mix(docs, TOKEN_BUDGETS, group_col="lang")
    return out.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def q_corpus_stats(spark, sf_dir):
    """Per-language corpus reporting: doc counts, char/BPE-token sums,
    exact n_chars percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, same linear interpolation — verified bit-equal), and
    mean quality via an exact integer-micros sum so the average is
    order-independent (a double sum would be partition-order dependent).
    At 100 TB swap `percentile` for `percentile_approx` (same plan shape,
    sketch-mergeable map-side) — exact percentile buffers each group."""
    from duckdb_annsearch_spark.pipeline.text import bpe_token_count, quality_score

    docs = _read(spark, sf_dir, "documents")
    q6 = F.round(quality_score(F.col("text")) * 1e6).cast("long")
    return (
        _fan(docs).groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(bpe_token_count(F.col("text")).cast("long")).alias("sum_bpe_tokens"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
            F.round(F.sum(q6) / F.count("*") / 1e6, 6).alias("avg_quality"),
        )
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (pipeline/quality.py): typed placeholder replacement +
    per-type match counts, pure JVM regexp chain (RE2-compatible patterns so
    the DuckDB oracle matches byte-for-byte).  The corpus text carries no
    PII, so each doc is augmented with deterministic synthetic PII derived
    from its id — both engines build the identical augmented text."""
    from duckdb_annsearch_spark.pipeline.quality import pii_counts, scrub_pii

    docs = _read(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    cnts = pii_counts(aug)
    return _fan(docs).select(
        "doc_id",
        scrub_pii(aug).alias("clean"),
        cnts["email"].cast("long").alias("n_email"),
        cnts["ip"].cast("long").alias("n_ip"),
        cnts["phone"].cast("long").alias("n_phone"),
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition metrics (pipeline/quality.py): duplicate-line
    fraction (lines synthesized deterministically — the corpus has no
    newlines), duplicate-token fraction, and the top-bigram character
    fraction (two partial-aggregated groupBys, no driver work)."""
    from duckdb_annsearch_spark.pipeline.quality import (
        dup_line_fraction,
        dup_token_fraction,
        top_bigram_char_fraction,
    )

    docs = _read(spark, sf_dir, "documents")
    lined = F.regexp_replace(F.col("text"), "table", "\n")
    rep = _fan(docs).select(
        "doc_id",
        dup_line_fraction(lined).alias("dup_line_frac"),
        dup_token_fraction(F.col("text")).alias("dup_token_frac"),
    )
    tb = top_bigram_char_fraction(docs, "doc_id", "text")
    return rep.join(tb, "doc_id")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (pipeline/quality.py): docs sharing any
    8-token-gram with the benchmark set (here: doc_id < 5, so those five
    are contaminated by construction) are flagged with their distinct
    overlap count.  Benchmark grams aggregate + broadcast; the corpus side
    is a map-side semi join — no corpus-sized shuffle."""
    from duckdb_annsearch_spark.pipeline.quality import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 5)
    return decontaminate(docs, bench, "doc_id", "text")


# ---- relational shell (Spark built-ins; SURVEY §2.4) ----


def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style pricing summary in exact integer-cents arithmetic
    (all money columns are 2-decimal; sums are exact BIGINT in both engines,
    divided back to doubles only at the end)."""
    li = _read(spark, sf_dir, "lineitem")
    price_c = _cents(F.col("l_extendedprice"))
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_pct)).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum(price_c * (100 - disc_pct) * (100 + tax_pct)).cast("double") / 1000000).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev_u = _cents(F.col("l_extendedprice")) * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg((F.sum(rev_u).cast("double") / 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "revenue")
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H-Q3 shape: customer ⋈ orders ⋈ lineitem, revenue per order.
    Three-way equi-join — Catalyst broadcasts the filtered small sides."""
    cust = _read(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01")
    )
    rev_c = _cents(F.col("l_extendedprice")) * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_c).cast("double") / 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_customer_running_revenue(spark, sf_dir):
    """Per-customer running order total (window cumulative sum) — the
    window-function member of the relational shell."""
    orders = _read(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total_c = F.sum(_cents(F.col("o_totalprice"))).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (total_c.cast("double") / 100).alias("running_total"),
    )


def _read_events(spark, sf_dir):
    """Load events tolerating either physical ``ts`` type the testdata has
    shipped: TIMESTAMP(NANOS) (readable only as LONG nanos via the legacy
    conf) or timestamp[us] (read as TIMESTAMP_NTZ). Consumers derive time
    via _event_ts_us / _event_ts instead of touching ``ts`` raw."""
    # Session-WIDE on purpose (and session-lifetime: restoring after the
    # read would corrupt the events queries at execution time, since the
    # conf applies when actions run, not when plans build). Safe for the
    # relational queries because their timestamp columns load as NTZ and
    # their oracles use naive timestamps — both tz-independent; the UTC
    # pin only makes the events cast epoch-exact.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _event_ts_us(ev):
    """Epoch-microseconds LONG for ``ts``, whatever its loaded dtype."""
    dt = dict(ev.dtypes)["ts"]
    if dt == "bigint":  # legacy nanos-as-long
        # integer division: epoch-ns ~1.7e18 exceeds double's 53-bit
        # mantissa, so (ts / 1000).cast(long) would truncate one µs low
        # for ~half of all rows and diverge from the oracle's epoch_us
        return F.expr("ts div 1000")
    # TIMESTAMP / TIMESTAMP_NTZ: under the UTC session tz the cast is
    # value-preserving and matches DuckDB's epoch_us(ts)
    return F.unix_micros(F.col("ts").cast("timestamp"))


def _event_ts(ev):
    """Native TIMESTAMP column (for F.window), whatever the loaded dtype."""
    dt = dict(ev.dtypes)["ts"]
    if dt == "bigint":
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def q_events_top_by_user(spark, sf_dir):
    ev = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", F.col("value").cast("double").alias("value"))
    )


def q_events_sessionize(spark, sf_dir):
    """Sessionization: 30-min inactivity gap splits sessions (window lag +
    running sum — the Spark shape of stateful session assignment).
    Gap compares epoch micros (see _event_ts_us for dtype handling)."""
    ev = _read_events(spark, sf_dir)
    ev = ev.withColumn("_us", _event_ts_us(ev))
    w = Window.partitionBy("user_id").orderBy(F.col("_us").asc(), F.col("event_id").asc())
    gap = F.when(F.col("_us") - F.lag(F.col("_us")).over(w) > 1800000000, 1).otherwise(0)
    sess = F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return ev.select("event_id", "user_id", sess.cast("long").alias("session_seq"))


def q_event_type_stats(spark, sf_dir):
    ev = _read_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-similarity benchmark decontamination
    (pipeline/quality.py::semantic_decontaminate): every 97th embedding
    plays the benchmark; members + exact/near copies flag at cos >= 0.95."""
    from duckdb_annsearch_spark.pipeline.quality import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.where(F.col("vec_id") % 97 == 0)
    return semantic_decontaminate(
        emb, bench, id_col="vec_id", vec_col="embedding", threshold=0.95
    )


def q_dup_ngram_stats(spark, sf_dir):
    """Per-doc duplicated-n-gram fraction (arXiv:2107.06499 ExactSubstr
    signal, pipeline/dedup.py::dup_ngram_stats). k=2 so the small-vocab
    synthetic corpus has real cross-document duplication to measure."""
    from duckdb_annsearch_spark.pipeline.dedup import dup_ngram_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_ngram_stats(docs, k=2)


def q_neardup_stream_batch(spark, sf_dir):
    """One increment of the streaming MinHash-LSH near-dedup protocol
    (streaming/dedup.py::near_dedup_increment) with empty history — the
    in-batch bucket-minimum rule in isolation: a doc survives iff no
    smaller-id doc shares any LSH band bucket (sentinel buckets of
    shingle-less docs bypass)."""
    import tempfile

    from duckdb_annsearch_spark.streaming.dedup import near_dedup_increment

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    empty_seen = tempfile.mkdtemp(prefix="neardup_seen_empty_")
    return near_dedup_increment(docs, empty_seen, 0, num_hashes=16, bands=4)


def q_temperature_weights(spark, sf_dir):
    """mT5-style temperature mixture weights (pipeline/sample.py,
    arXiv:2010.11934 §3.1): per-language token shares at alpha=0.5 and a
    20k-token budget allocation with trainer-facing epochs."""
    from duckdb_annsearch_spark.pipeline.sample import temperature_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_weights(docs, total_budget=20000, alpha=0.5)


def q_quality_classifier(spark, sf_dir):
    """fastText-shaped hashed linear scoring (pipeline/classify.py,
    arXiv:1607.01759 serving path). Weights are a deterministic synthetic
    model over 1024 features, dyadic rationals (multiples of 1/1024) so
    per-doc double sums are EXACT and partition-order independent."""
    from duckdb_annsearch_spark.pipeline.classify import score_hashed_linear

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = spark.range(1024).select(
        F.col("id").alias("feature"),
        (
            ((F.col("id") * 31 + 7) % 1000 - 500).cast("double") / F.lit(1024.0)
        ).alias("weight"),
    )
    return score_hashed_linear(
        docs, weights, n_features=1024, bias=0.125, ngram_ns=(1, 2)
    )


def q_remove_dup_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span removal (arXiv:2107.06499;
    pipeline/spans.py): cut every whitespace-token span of length >= 4
    occurring >= 2 times anywhere in the corpus. k=4 removes ~18% of the
    synthetic corpus's tokens while leaving 131/500 docs untouched."""
    from duckdb_annsearch_spark.pipeline.spans import remove_dup_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_dup_spans(docs, k=4, scope="corpus")


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint sets (MOSS, SIGMOD 2003;
    pipeline/winnow.py): per-window min of k-gram hashes, map-only."""
    from duckdb_annsearch_spark.pipeline.winnow import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = winnow_fingerprints(docs, k=3, w=4)
    # array -> comma string so vanilla (Arrow-less) pandas conversion and
    # the DuckDB fetch agree on representation (same trick as minhash_sigs)
    return fps.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("fingerprints"), lambda h: h.cast("string")), ","
        ).alias("fingerprints"),
        "n_fingerprints",
    )


def q_winnow_pairs(spark, sf_dir):
    """Partial-overlap candidate pairs by shared winnowing fingerprints
    (posting-list self-join with the max_df hot-hash cap)."""
    from duckdb_annsearch_spark.pipeline.winnow import winnow_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_pairs(docs, k=3, w=4, min_shared=2, max_df=1000)


def q_line_dedup(spark, sf_dir):
    """Cross-document boilerplate removal (pipeline/lines.py). The
    synthetic corpus is single-line, so the query first re-wraps each
    document into 8-token lines — deterministically, in BOTH engines —
    which makes short common token runs repeat across documents exactly
    like web boilerplate does; then drops lines with document frequency
    >= 2 and reassembles."""
    from duckdb_annsearch_spark.pipeline.lines import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ", -1)
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, F.lit(8))),
    )
    wrapped = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return line_dedup(wrapped, min_df=2)


def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing over documents in doc_id order
    (pipeline/pack.py): distributed two-phase prefix sum vs the oracle's
    single window cumsum."""
    from duckdb_annsearch_spark.pipeline.pack import pack_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_chunks(docs, budget=512, id_col="doc_id", text_col="text")


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (RAG/embedding prep,
    pipeline/pack.py::chunk_documents): window 32, stride 16 — map-only,
    original bytes preserved."""
    from duckdb_annsearch_spark.pipeline.pack import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(_fan(docs), window=32, stride=16)


def q_pack_greedy(spark, sf_dir):
    """Next-fit whole-document packing per language stream
    (pipeline/pack.py::pack_greedy). Inherently sequential per stream, so
    the oracle is a recursive CTE walking every stream in lockstep — one
    row per (lang, step); the Spark side is one applyInPandas per
    stream."""
    from duckdb_annsearch_spark.pipeline.pack import pack_greedy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_greedy(
        docs, budget=512, id_col="doc_id", text_col="text", stream_col="lang"
    )


def q_lm_perplexity(spark, sf_dir):
    """Self-trained add-1 unigram LM NLL per document (CCNet-style
    perplexity-filter signal, pipeline/lm.py). Integer micronat costs make
    the per-doc sums order-independent; the oracle replays the identical
    model in DuckDB SQL."""
    from duckdb_annsearch_spark.pipeline.lm import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_perplexity(docs, text_col="text", id_col="doc_id", n=1, alpha=1.0)


def q_events_asof(spark, sf_dir):
    """As-of join: every click matched to the user's most recent purchase
    at or before the click (ties at equal ts match; largest purchase id
    wins among equal-ts purchases). Runs the union+window shape in
    operators/temporal.py — one shuffle, no inequality join; the oracle
    is DuckDB's independent inequality-join + row_number formulation."""
    from duckdb_annsearch_spark.operators.temporal import asof_join

    ev = _read_events(spark, sf_dir)
    ev = ev.withColumn("_us", _event_ts_us(ev))
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "_us"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        "_us",
        _cents(F.col("value")).alias("p_vc"),
    )
    out = asof_join(
        clicks, purch, on="user_id", left_ts="_us", right_ts="_us",
        right_cols=["p_id", "p_vc"], tiebreak="p_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("_us").alias("click_us"),
        F.col("matched_p_id").alias("matched_p_id"),
        (F.col("matched_p_vc").cast("double") / 100).alias("matched_value"),
    )


def q_events_range_agg(spark, sf_dir):
    """Bounded interval join + aggregate: clicks in the 10 minutes up to
    each purchase by the same user (attribution window). Bucketed
    equi-join shape (operators/temporal.py) vs DuckDB's BETWEEN join."""
    from duckdb_annsearch_spark.operators.temporal import range_join

    ev = _read_events(spark, sf_dir)
    ev = ev.withColumn("_us", _event_ts_us(ev))
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "_us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("_us").alias("c_us"),
        _cents(F.col("value")).alias("c_vc"),
    )
    joined = range_join(
        purch, clicks, on="user_id", left_ts="_us", right_ts="c_us",
        lo=-600_000_000, hi=0, how="left",
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(
            F.count("c_id").alias("n_clicks"),
            (F.coalesce(F.sum("c_vc"), F.lit(0)).cast("double") / 100).alias(
                "sum_click_value"
            ),
        )
        .select("event_id", "user_id", "n_clicks", "sum_click_value")
    )


def q_vocab_topk(spark, sf_dir):
    """Top-100 vocabulary with coverage curve (pipeline/vocab.py):
    TakeOrderedAndProject selection, N-row cumsum window, scalar total
    broadcast back; rank ties break by word asc on both engines."""
    from duckdb_annsearch_spark.pipeline.vocab import top_vocab

    docs = _read(spark, sf_dir, "documents")
    return top_vocab(docs, top_n=100)


def q_vocab_coverage(spark, sf_dir):
    """OOV-rate report (pipeline/vocab.py::vocab_coverage) against the
    corpus's own top-20 vocabulary: one-row (n_tokens, n_in_vocab,
    oov_rate) — the coverage audit a tokenizer-vocab decision needs."""
    from duckdb_annsearch_spark.pipeline.vocab import top_vocab, vocab_coverage

    docs = _read(spark, sf_dir, "documents")
    vocab = top_vocab(docs, top_n=20).select("word")
    return vocab_coverage(docs, vocab)


def q_bigram_counts(spark, sf_dir):
    """Adjacent-token pair counts >= 5 (pipeline/vocab.py — the BPE merge
    candidate table): one zip_with explode + partial-aggregating groupBy."""
    from duckdb_annsearch_spark.pipeline.vocab import bigram_counts

    docs = _read(spark, sf_dir, "documents")
    return bigram_counts(docs).where(F.col("count") >= 5)


def q_url_curation(spark, sf_dir):
    """URL normalization + registered-domain extraction
    (pipeline/urls.py).  The corpus has no URL column, so each doc gets a
    deterministic raw URL from (source, doc_id) — messy case, default
    ports, userinfo, tracking params, fragments, a co.uk public-suffix
    case, and a non-URL third — built identically on both engines; the
    oracle then replays the full normalization contract in SQL."""
    from duckdb_annsearch_spark.pipeline.urls import (
        normalize_url,
        url_registered_domain,
    )

    docs = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://u:p@WWW."), F.col("source"),
                F.lit(".Example.COM:443/Docs/"), sid,
                F.lit("?utm_source=x&b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://"), F.col("source"), F.lit(".co.uk:80/p/"), sid
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), sid))
    )
    u = docs.select("doc_id", raw.alias("u"))
    return u.select(
        "doc_id",
        normalize_url(F.col("u")).alias("norm_url"),
        url_registered_domain(F.col("u")).alias("domain"),
    )


def q_curation_funnel(spark, sf_dir):
    """One-pass curation funnel (pipeline/report.py): every doc
    attributed to the FIRST stage that drops it (language -> quality ->
    exact-dup, prepare_corpus order) via one chained CASE + a
    survivors-join, aggregated once — per-stage doc/token counts without
    one corpus pass per stage."""
    from duckdb_annsearch_spark.pipeline.report import corpus_funnel

    docs = _read(spark, sf_dir, "documents")
    return corpus_funnel(
        docs, langs=("en",), min_quality=0.3, dedup="exact"
    )


def q_url_dedup(spark, sf_dir):
    """Normalized-URL dedup (pipeline/urls.py::dedup_by_url): re-crawls
    of one page — same URL modulo case/ports/tracking-params/fragments —
    collapse to the lowest doc_id.  Derived URLs give each (source,
    doc_id%5) page three surface variants; non-URL rows (every 11th doc)
    each survive."""
    from duckdb_annsearch_spark.pipeline.urls import dedup_by_url

    docs = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    page = (F.col("doc_id") % 5).cast("string")
    raw = (
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit("plain text "), sid))
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://"), F.col("source"),
                     F.lit(".com:443/page/"), page, F.lit("#top")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".com/page/"), page, F.lit("?utm_source=tw")),
        )
        .otherwise(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".COM/page/"),
                     page),
        )
    )
    u = docs.select("doc_id", raw.alias("url"))
    return dedup_by_url(u, "url", "doc_id").select("doc_id")


def q_dedup_against(spark, sf_dir):
    """CROSS-corpus fuzzy dedup (pipeline/dedup.py::dedup_against): treat
    doc_id % 3 == 0 as the existing corpus and the rest as the new crawl;
    drop new docs that share a MinHash-LSH band with a reference doc AND
    verify at exact shingle-Jaccard >= 0.8.  The oracle replays the
    identical signature/band/verify pipeline in SQL."""
    from duckdb_annsearch_spark.pipeline.dedup import dedup_against

    docs = _read(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 3 != 0)
    ref = docs.where(F.col("doc_id") % 3 == 0)
    out = dedup_against(
        new, ref, mode="fuzzy", threshold=0.8,
        num_hashes=NUM_MINHASH, bands=LSH_BANDS,
    )
    return out.select("doc_id")


def q_dedup_against_bloom(spark, sf_dir):
    """The plain cross-corpus dedup again, under the key of the removed
    Bloom shuffle guard.  The guard lost both times it was measured and
    no workload needed it, so it was deleted; the key stays because
    ``bench.py`` lists it and its position in ``queries()`` fixes the
    50-key correctness window.  It shares ``dedup_against``'s oracle."""
    return q_dedup_against(spark, sf_dir)


def q_gopher_filter(spark, sf_dir):
    """Gopher/MassiveText document-rule audit (pipeline/filters.py,
    arXiv:2112.11446 Table A1): per-doc rule statistics + the keep
    decision, every stat a pure JVM expression the DuckDB oracle
    reproduces bit-for-bit.  min_words is lowered to 20 for the synthetic
    ~40-100-word docs (the paper's 50 would fail most rows on length
    alone and hide the other rules from the hash)."""
    from duckdb_annsearch_spark.pipeline.filters import gopher_filter

    docs = _read(spark, sf_dir, "documents")
    return gopher_filter(
        _fan(docs), keep_stats=True, min_words=20, min_required_words=1
    ).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        "n_required_words",
        "keep",
    )


def q_c4_filter(spark, sf_dir):
    """C4 line/document cleaning (pipeline/filters.py, arXiv:1910.10683
    §2.2).  The synthetic corpus has no newlines or punctuation, so each
    doc is first augmented deterministically — ' value ' becomes a
    sentence break and every 7th doc gains a 'lorem ipsum' tail — with
    the identical construction on both engines; the hash then covers the
    line surgery (clean_text), the sentence proxy, and the keep rule."""
    from duckdb_annsearch_spark.pipeline.filters import c4_filter

    docs = _read(spark, sf_dir, "documents")
    # coalesce BEFORE augmenting: sf0.1 carries NULL texts, and the two
    # engines would otherwise diverge (Spark's c4_stats NULL-guards its
    # input; SQL would NULL-propagate through the whole construction)
    aug = F.concat(
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" value "),
            F.lit(".\n"),
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" lorem ipsum.")).otherwise(
            F.lit(".")
        ),
    )
    prepared = _fan(docs).select("doc_id", aug.alias("text"))
    return c4_filter(prepared, keep_stats=True).select(
        "doc_id", "clean_text", "n_lines_kept", "n_sentences", "keep"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # KEY ORDER IS EVIDENCE POLICY: the driver's CORRECTNESS run checks the
    # first 50 keys of this dict, so the window ALTERNATES between the two
    # halves of the surface on a 2-round cadence (round-9 verdict item 3).
    # Round 9 put the 44 never-driver-checked LLM-pipeline keys first (all
    # 45 windowed rows passed, CORRECTNESS_r09).  Round 10 rotates BACK:
    # the 45 ANN/engine/dedup keys that have r8 green rows but no r9
    # driver row come first — they are also the surface this optimization
    # round touched most (qvec point lookup, local exact reference,
    # streaming-build merge, dim-validation cache) — plus 5 pipeline
    # sentinels, two of them the pipeline queries restructured this round
    # (line_dedup drop-set shape, dedup_against_bloom self-gating).  The
    # Bloom guard has since been deleted; dedup_against_bloom now runs the
    # plain dedup_against and keeps its slot so the window does not shift.
    # The full 95-key sweep stays covered by tools/selfcheck.py every round.
    return {
        # -- 45 keys with r8 green rows but no r9 driver row --
        "topk_ip": q_topk_ip,
        "topk_cosine": q_topk_cosine,
        "vector_distances": q_vector_distances,
        "sql_topk": q_sql_topk,
        "accel_topk": q_accel_topk,
        "lifecycle_search": q_lifecycle_search,
        "persistence_search": q_persistence_search,
        "merge_scan": q_merge_scan,
        "knn_join": q_knn_join,
        "ann_search_local": q_ann_search_local,
        "ann_search_local_payload": q_ann_search_local_payload,
        "ann_batch_flat": q_ann_batch_flat,
        "ivf_full_probe": q_ivf_full_probe,
        "ivf_partial_probe": q_ivf_partial_probe,
        "ivf_hier_probe": q_ivf_hier_probe,
        "ann_list_info": q_ann_list_info,
        "sq8_rerank": q_sq8_rerank,
        "sq4_rerank": q_sq4_rerank,
        "fp16_rerank": q_fp16_rerank,
        "pca_rerank": q_pca_rerank,
        "pca_ivf_rerank": q_pca_ivf_rerank,
        "lsh_rerank": q_lsh_rerank,
        "pq_rerank": q_pq_rerank,
        "ivfpq_rerank": q_ivfpq_rerank,
        "opq_rerank": q_opq_rerank,
        "graph_sq8_topk": q_graph_sq8_topk,
        "graph_pq_topk": q_graph_pq_topk,
        "graph_opq_topk": q_graph_opq_topk,
        "dann_roundtrip": q_dann_roundtrip,
        "drop_index_catalog": q_drop_index_catalog,
        "gpu_info": q_gpu_info,
        "topk_filtered": q_topk_filtered,
        "ann_search_table": q_ann_search_table,
        "events_windowed": q_events_windowed,
        "user_totals": q_user_totals,
        "minhash_sigs": q_minhash_sigs,
        "lsh_pairs": q_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "neardup_embeddings": q_neardup_embeddings,
        "neardup_lsh": q_neardup_lsh,
        "semantic_dedup": q_semantic_dedup,
        "media_features": q_media_features,
        # -- 5 pipeline sentinels from the round-9-checked half --
        "line_dedup": q_line_dedup,
        "dedup_against_bloom": q_dedup_against_bloom,
        "doc_stats": q_doc_stats,
        "events_sessionize": q_events_sessionize,
        "gopher_filter": q_gopher_filter,
        # ---- 50-key driver window ends here ----
        "prepare_corpus": q_prepare_corpus,
        "bpe_merges": q_bpe_merges,
        "bpe_token_counts": q_bpe_token_counts,
        "langid": q_langid,
        "stratified_sample": q_stratified_sample,
        "quota_sample": q_quota_sample,
        "token_budget_mix": q_token_budget_mix,
        "corpus_stats": q_corpus_stats,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "decontaminate": q_decontaminate,
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "shipping_priority": q_shipping_priority,
        "customer_running_revenue": q_customer_running_revenue,
        "events_top_by_user": q_events_top_by_user,
        "event_type_stats": q_event_type_stats,
        "events_asof": q_events_asof,
        "events_range_agg": q_events_range_agg,
        "lm_perplexity": q_lm_perplexity,
        "pack_chunks": q_pack_chunks,
        "pack_greedy": q_pack_greedy,
        "chunk_documents": q_chunk_documents,
        "dup_ngram_stats": q_dup_ngram_stats,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "remove_dup_spans": q_remove_dup_spans,
        "quality_classifier": q_quality_classifier,
        "temperature_weights": q_temperature_weights,
        "neardup_stream_batch": q_neardup_stream_batch,
        "semantic_decontaminate": q_semantic_decontaminate,
        "c4_filter": q_c4_filter,
        "dedup_against": q_dedup_against,
        "url_curation": q_url_curation,
        "url_dedup": q_url_dedup,
        "curation_funnel": q_curation_funnel,
        "vocab_topk": q_vocab_topk,
        "vocab_coverage": q_vocab_coverage,
        "bigram_counts": q_bigram_counts,
        "graph_exact_topk": q_graph_exact_topk,
        "topk_l2": q_topk_l2,
        "ann_search_flat": q_ann_search_flat,
        "graph_topk": q_graph_topk,
        "dedup_exact": q_dedup_exact,
        "hybrid_rrf": q_hybrid_rrf,
    }


# ---------------------------------------------------------------- oracles


def _brute_topk_sql(dist_expr: str, k: int = 10) -> str:
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {dist_expr} AS _d FROM embeddings e, q)
    SELECT vec_id, CAST(round(_d, 6) + 0.0 AS DOUBLE) AS _distance
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT {k}
    """


def _brute_rank_sql(k: int = 10) -> str:
    d = _sql_sqdist("e.embedding", "q.qv")
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {d} AS _d FROM embeddings e, q)
    SELECT vec_id, CAST(row_number() OVER (ORDER BY _d ASC, vec_id ASC) AS INT) AS rank
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT {k}
    """


def oracle_sql() -> dict[str, str]:
    sq = _sql_sqdist("e.embedding", "q.qv")
    dot = _sql_dot("e.embedding", "q.qv")
    cos_d = f"(1.0 - {dot} / ({_sql_norm('e.embedding')} * {_sql_norm('q.qv')}))"
    toks = _SQL_TOKS.format(t="text")
    oracles: dict[str, str] = {}

    oracles["topk_l2"] = _brute_topk_sql(sq)
    oracles["sql_topk"] = _brute_topk_sql(f"sqrt({sq})")
    oracles["accel_topk"] = _brute_topk_sql(f"sqrt({sq})")
    oracles["lifecycle_search"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {sq} AS _d FROM embeddings e, q
          WHERE e.vec_id < 500 AND e.vec_id % 7 != 0)
    SELECT vec_id, CAST(round(_d, 6) + 0.0 AS DOUBLE) AS _distance
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 20
    """
    oracles["persistence_search"] = _brute_topk_sql(sq)
    oracles["merge_scan"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {sq} AS _d FROM embeddings e, q
          WHERE e.vec_id < 400)
    SELECT vec_id, CAST(round(_d, 6) + 0.0 AS DOUBLE) AS _distance
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 15
    """
    oracles["topk_ip"] = _brute_topk_sql(f"-({dot})")
    oracles["topk_cosine"] = _brute_topk_sql(cos_d)
    oracles["vector_distances"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS vec_id, CAST(round({sq}, 6) + 0.0 AS DOUBLE) AS _distance
    FROM embeddings e, q
    """
    d_qe = _sql_sqdist("e.embedding", "f.embedding")
    oracles["knn_join"] = f"""
    WITH pairs AS (
      SELECT f.vec_id AS qid, e.vec_id AS vec_id, {d_qe} AS _d
      FROM embeddings f CROSS JOIN embeddings e WHERE f.vec_id < 5
    )
    SELECT qid, vec_id, CAST(rn AS INT) AS rank FROM (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY _d ASC, vec_id ASC) AS rn
      FROM pairs
    ) WHERE rn <= 3
    """
    oracles["ann_search_flat"] = _brute_rank_sql(10)
    # exhaustive-beam graph search (L >= N): exact by beam degeneracy, so
    # the brute-force rank oracle applies directly — no replay
    oracles["graph_exact_topk"] = _brute_rank_sql(10)
    oracles["ann_search_local"] = _brute_rank_sql(10)
    # covering-payload local serving: same brute rank, label resolved from
    # the covering sidecar on the Spark side and from the base table here
    oracles["ann_search_local_payload"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, e.label AS label, {sq} AS _d
          FROM embeddings e, q)
    SELECT vec_id, label,
           CAST(row_number() OVER (ORDER BY _d ASC, vec_id ASC) AS INT) AS rank
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 10
    """
    d_qf = _sql_sqdist("e.embedding", "f.embedding")
    oracles["ann_batch_flat"] = f"""
    WITH pairs AS (
      SELECT f.vec_id AS query_idx, e.vec_id AS vec_id, {d_qf} AS _d
      FROM embeddings f CROSS JOIN embeddings e WHERE f.vec_id < 3
    )
    SELECT CAST(query_idx AS INT) AS query_idx, vec_id, CAST(rn AS INT) AS rank FROM (
      SELECT query_idx, vec_id,
             row_number() OVER (PARTITION BY query_idx ORDER BY _d ASC, vec_id ASC) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """
    oracles["ivf_full_probe"] = _brute_rank_sql(10)
    oracles["ivf_hier_probe"] = _brute_rank_sql(10)
    # partial probe: artifact replay — brute force RESTRICTED to the probed
    # cells' members, which q_ivf_partial_probe exports at call time (the
    # harness executes oracle SQL after the Spark query; see
    # IVF_PROBE_MEMBERS).  Checks the deterministic pruning decision AND
    # the in-cell exact scan in one hash.
    oracles["ivf_partial_probe"] = f"""
    WITH m AS (SELECT vec_id FROM read_parquet('{IVF_PROBE_MEMBERS}')),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {sq} AS _d FROM embeddings e, q
          WHERE e.vec_id IN (SELECT vec_id FROM m))
    SELECT vec_id, CAST(row_number() OVER (ORDER BY _d ASC, vec_id ASC) AS INT) AS rank
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 10
    """
    # graph_topk: no oracle — approximate (driver records rows-only check;
    # its candidate set IS its result on the unsharded graph, so a replay
    # oracle would be circular — the in-plan recall floor is the evidence)
    # sharded quantized graph rows: candidate-union replay (round 7) — the
    # rerank recipe's exact re-score over the exported deterministic
    # candidate set is reproducible by brute force restricted to it
    for _tag, _qname in (
        ("gsq8", "graph_sq8_topk"), ("gpq", "graph_pq_topk"),
        ("gopq", "graph_opq_topk"),
    ):
        oracles[_qname] = f"""
    WITH m AS (SELECT vec_id FROM read_parquet('{GRAPH_CAND_MEMBERS[_tag]}')),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {sq} AS _d FROM embeddings e, q
          WHERE e.vec_id IN (SELECT vec_id FROM m))
    SELECT vec_id, CAST(row_number() OVER (ORDER BY _d ASC, vec_id ASC) AS INT) AS rank
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 10
    """
    # bpe_token_counts: artifact replay (round 8) — once training ends the
    # learned ranks are DATA and each word's token count under them is
    # deterministic; DuckDB re-splits the corpus with the trainer's word
    # regex, joins the exported (word, n_tokens) map and sums per doc,
    # checking the distributed split/encode/sum half exactly (the merge
    # math stays pinned by tests/test_bpe.py — see q_bpe_token_counts)
    oracles["bpe_token_counts"] = f"""
    WITH m AS (SELECT word, n_tokens FROM read_parquet('{BPE_WORD_TOKENS}')),
    w AS (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+')) AS word
          FROM documents WHERE doc_id < 50),
    s AS (SELECT w.doc_id, sum(m.n_tokens) AS n
          FROM w JOIN m ON w.word = m.word GROUP BY w.doc_id)
    SELECT d.doc_id, CAST(coalesce(s.n, 0) AS INT) AS n_tokens
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    WHERE d.doc_id < 50
    """

    oracles["topk_filtered"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id AS vec_id, {sq} AS _d
          FROM embeddings e, q WHERE e.label = 3)
    SELECT vec_id, CAST(row_number() OVER (ORDER BY _d ASC, vec_id ASC) AS INT) AS rank
    FROM d ORDER BY _d ASC, vec_id ASC LIMIT 10
    """
    oracles["sq8_rerank"] = _brute_topk_sql(sq)
    oracles["sq4_rerank"] = _brute_topk_sql(sq)
    oracles["fp16_rerank"] = _brute_topk_sql(sq)
    oracles["pca_rerank"] = _brute_topk_sql(sq)
    oracles["pca_ivf_rerank"] = _brute_topk_sql(sq)
    oracles["lsh_rerank"] = _brute_topk_sql(sq)
    oracles["pq_rerank"] = _brute_topk_sql(sq)
    oracles["ivfpq_rerank"] = _brute_topk_sql(sq)
    oracles["opq_rerank"] = _brute_topk_sql(sq)
    oracles["dann_roundtrip"] = _brute_topk_sql(sq)
    oracles["drop_index_catalog"] = """
    WITH nv AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL)
    SELECT 'drop_keep' AS name, 'faiss' AS engine, 'da' AS table_name,
           'embedding' AS col_name, nv.n AS num_vectors,
           CAST(0 AS BIGINT) AS num_deleted, false AS quantized
    FROM nv
    """
    oracles["gpu_info"] = "SELECT false AS available, 'cpu' AS backend"
    oracles["ann_list_info"] = """
    WITH nv AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL)
    SELECT t.name AS name, t.engine AS engine, t.table_name AS table_name,
           t.col_name AS col_name, nv.n AS num_vectors,
           CAST(0 AS BIGINT) AS num_deleted, t.quantized AS quantized
    FROM (VALUES
      ('info_flat',  'faiss',   'embeddings', 'embedding', false),
      ('info_fp16',  'faiss',   'embeddings', 'embedding', true),
      ('info_gopq',  'diskann', 'embeddings', 'embedding', true),
      ('info_gpq',   'diskann', 'embeddings', 'embedding', true),
      ('info_gsq8',  'diskann', 'embeddings', 'embedding', true),
      ('info_ivfpq', 'faiss',   'embeddings', 'embedding', true),
      ('info_lsh',   'faiss',   'embeddings', 'embedding', true),
      ('info_opq',   'faiss',   'embeddings', 'embedding', true),
      ('info_pca',   'faiss',   'embeddings', 'embedding', true),
      ('info_pcaivf', 'faiss',  'embeddings', 'embedding', true),
      ('info_pq',    'faiss',   'embeddings', 'embedding', true),
      ('info_sq4',   'faiss',   'embeddings', 'embedding', true),
      ('info_sq8',   'faiss',   'embeddings', 'embedding', true)
    ) AS t(name, engine, table_name, col_name, quantized)
    CROSS JOIN nv
    ORDER BY name
    """
    d_qt = _sql_sqdist("e.embedding", "f.embedding")
    oracles["ann_search_table"] = f"""
    WITH pairs AS (
      SELECT f.vec_id AS qid, e.vec_id AS vec_id, {d_qt} AS _d
      FROM embeddings f CROSS JOIN embeddings e WHERE f.vec_id < 3
    )
    SELECT qid, vec_id, CAST(rn AS INT) AS rank FROM (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY _d ASC, vec_id ASC) AS rn
      FROM pairs
    ) WHERE rn <= 3
    """
    oracles["user_totals"] = """
    SELECT user_id, count(*) AS n_events,
      CAST(round(sum(value), 4) + 0.0 AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """

    oracles["events_windowed"] = """
    SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT) AS win_start,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
    FROM events GROUP BY 1, 2
    """

    qterms = ", ".join(f"'{t}'" for t in HYBRID_TERMS)
    oracles["hybrid_rrf"] = f"""
    WITH chunks AS (
      SELECT d.doc_id AS doc_id, d.text AS text, e.embedding AS embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vd AS (SELECT c.doc_id, round({_sql_sqdist('c.embedding', 'q.qv')}, 9) AS _d
           FROM chunks c, q),
    vtop AS (SELECT doc_id, _d FROM vd ORDER BY _d ASC, doc_id ASC LIMIT 50),
    vrank AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY _d ASC, doc_id ASC) AS INT) AS _vector_rank FROM vtop),
    tok AS (SELECT doc_id, unnest({toks}) AS term FROM chunks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
              WHERE term IN ({qterms}) GROUP BY 1),
    sc AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5))
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
      GROUP BY tf.doc_id
    ),
    btop AS (SELECT doc_id, round(s, 9) AS _s FROM sc ORDER BY round(s, 9) DESC, doc_id ASC LIMIT 50),
    brank AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY _s DESC, doc_id ASC) AS INT) AS _bm25_rank FROM btop),
    fused AS (
      SELECT coalesce(v.doc_id, b.doc_id) AS doc_id,
             coalesce(b._bm25_rank, 0) AS _bm25_rank,
             coalesce(v._vector_rank, 0) AS _vector_rank,
             (CASE WHEN coalesce(b._bm25_rank,0) > 0 THEN 0.3 / (60 + b._bm25_rank) ELSE 0 END
            + CASE WHEN coalesce(v._vector_rank,0) > 0 THEN 0.7 / (60 + v._vector_rank) ELSE 0 END)::FLOAT AS _rrf_score
      FROM vrank v FULL OUTER JOIN brank b USING (doc_id)
    )
    SELECT doc_id, _bm25_rank, _vector_rank,
           CAST(round(_rrf_score::DOUBLE, 6) + 0.0 AS DOUBLE) AS _rrf_score
    FROM fused ORDER BY _rrf_score DESC, doc_id ASC LIMIT 10
    """

    oracles["media_features"] = """
    SELECT doc_id AS media_id,
      array_to_string(list_transform(range(0, 16),
        i -> (('0x' || substr(md5(text), (2*i+1)::INT, 2))::INT)::VARCHAR), ',')
        AS feature_bytes
    FROM documents
    """

    oracles["dedup_exact"] = """
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY coalesce(md5(text), '__null__' || doc_id) ORDER BY doc_id ASC) AS rn
      FROM documents
    ) WHERE rn = 1
    """

    oracles["minhash_sigs"] = (
        _sql_minhash_sig() + "SELECT doc_id, minhash FROM sigs"
    )

    rows_per_band = NUM_MINHASH // LSH_BANDS
    band_exprs = []
    for b in range(LSH_BANDS):
        cols = " || ',' || ".join(
            f"sig[{i + 1}]::VARCHAR" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_exprs.append(f"({cols})")
    sig_list = ", ".join(
        f"coalesce(list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}) % {HASH_MOD})), {HASH_MOD})"
        for a, b in MINHASH_AB
    )
    toks_d = _SQL_TOKS.format(t="text")
    sh_d = _SQL_SHINGLES.format(tk="tk")
    h_d = _SQL_HASH.format(s="s") + f" % {HASH_MOD}"
    oracles["lsh_pairs"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh_d} AS shs FROM tok),
    hh AS (SELECT doc_id, list_transform(shs, s -> {h_d}) AS hs FROM sh),
    sigs AS (SELECT doc_id, [{sig_list}] AS sig FROM hh),
    bands AS (
      SELECT doc_id, band, bh FROM sigs,
      LATERAL (SELECT * FROM (VALUES {', '.join(f'({i}, {e})' for i, e in enumerate(band_exprs))}) AS t(band, bh))
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """

    # top-100 vocabulary + coverage curve: count/word-asc total order on
    # both engines; cum_frac over the top prefix equals the full-table
    # prefix (identical ordering)
    oracles["vocab_topk"] = f"""
    WITH tok AS (SELECT {toks} AS tk FROM documents),
    ex AS (SELECT unnest(tk) AS w FROM tok),
    c AS (SELECT w, count(*) AS cnt FROM ex GROUP BY w),
    tot AS (SELECT sum(cnt) AS t FROM c),
    top AS (
      SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rk
      FROM c ORDER BY cnt DESC, w ASC LIMIT 100
    )
    SELECT w AS word, cnt AS count, CAST(rk AS INT) AS rank,
      CAST(round(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
                                ROWS UNBOUNDED PRECEDING)::DOUBLE / t, 6)
           + 0.0 AS DOUBLE) AS cum_frac
    FROM top, tot
    """

    # OOV coverage against the corpus's own top-20 vocabulary
    oracles["vocab_coverage"] = f"""
    WITH tok AS (SELECT {toks} AS tk FROM documents),
    ex AS (SELECT unnest(tk) AS w FROM tok),
    c AS (SELECT w, count(*) AS cnt FROM ex GROUP BY w),
    top AS (SELECT w FROM c ORDER BY cnt DESC, w ASC LIMIT 20),
    tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n_tokens FROM c),
    inv AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n_in_vocab
            FROM c WHERE w IN (SELECT w FROM top))
    SELECT tot.n_tokens, inv.n_in_vocab,
      CAST(round(CASE WHEN tot.n_tokens > 0
        THEN 1.0 - inv.n_in_vocab::DOUBLE / tot.n_tokens ELSE 0.0 END, 6)
        + 0.0 AS DOUBLE) AS oov_rate
    FROM tot, inv
    """

    # adjacent-token bigram counts >= 5 (positions i, i+1 of the shared
    # tokenizer splits)
    oracles["bigram_counts"] = f"""
    WITH tok AS (SELECT {toks} AS tk FROM documents),
    bg AS (
      SELECT unnest(list_transform(
        range(1, greatest(len(tk) - 1, 0) + 1),
        i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS p
      FROM tok
    )
    SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS count
    FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
    """

    # URL normalization contract replayed in SQL over the same derived
    # raw URLs (pipeline/urls.py docstring: lowercase scheme/host, drop
    # userinfo + fragment + default ports + tracking params, sort params,
    # empty path -> '/'); registered domain = eTLD+1 with the module's
    # two-level-suffix subset
    from duckdb_annsearch_spark.pipeline.urls import TWO_LEVEL_SUFFIXES

    _sfx = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)

    def _sql_url_norm(raw_case: str) -> str:
        """CTE chain ``raw -> ... -> t`` computing the normalization
        contract over ``raw_case`` (a SQL expression producing the raw
        URL per documents row); ``t`` carries doc_id, is_url, scheme,
        host, port, path, nq, hl."""
        return f"""
    WITH raw AS (
      SELECT doc_id, {raw_case} AS u FROM documents
    ), p AS (
      SELECT doc_id, u,
        regexp_matches(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://') AS is_url,
        lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$', 1) AS rest
      FROM raw
    ), a AS (
      SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS auth FROM p
    ), r AS (
      SELECT *, regexp_extract(auth, '([^@]*)$', 1) AS hostport,
             substr(rest, len(auth) + 1) AS pqf
      FROM a
    ), s AS (
      SELECT *, lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
             regexp_extract(pqf, '^([^?#]*)', 1) AS path,
             regexp_extract(pqf, '^[^?#]*\\?([^#]*)', 1) AS qs
      FROM r
    ), t AS (
      SELECT *,
        coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
          x -> x <> '' AND NOT (
            starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_')
            OR regexp_extract(x, '^([^=]*)', 1)
               IN ('gclid', 'fbclid', 'msclkid')))), '&'), '') AS nq,
        string_split(host, '.') AS hl
      FROM s
    )
    SELECT doc_id,
      CASE WHEN is_url THEN scheme || '://' || host
        || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
             THEN '' ELSE ':' || port END)
        || (CASE WHEN path = '' THEN '/' ELSE path END)
        || (CASE WHEN nq = '' THEN '' ELSE '?' || nq END)
      END AS norm_url,
      CASE WHEN is_url THEN
        CASE WHEN len(hl) <= 1 THEN host
             WHEN len(hl) >= 3
                  AND (hl[-2] || '.' || hl[-1]) IN ({_sfx})
             THEN hl[-3] || '.' || hl[-2] || '.' || hl[-1]
             ELSE hl[-2] || '.' || hl[-1]
        END
      END AS domain
    FROM t
    """

    oracles["url_curation"] = _sql_url_norm("""
        CASE
          WHEN doc_id % 3 = 0 THEN 'HTTPS://u:p@WWW.' || source
               || '.Example.COM:443/Docs/' || doc_id
               || '?utm_source=x&b=2&a=1#frag'
          WHEN doc_id % 3 = 1 THEN 'http://' || source || '.co.uk:80/p/'
               || doc_id
          ELSE 'not a url ' || doc_id
        END""")

    # normalized-URL dedup: lowest doc_id per normalized form; non-URL
    # rows keep per-row keys (all survive) — the q_url_dedup construction
    oracles["url_dedup"] = f"""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY coalesce(norm_url, '__nonurl__' || doc_id)
        ORDER BY doc_id ASC) AS rn
      FROM ({_sql_url_norm('''
        CASE
          WHEN doc_id % 11 = 0 THEN 'plain text ' || doc_id
          WHEN doc_id % 3 = 0 THEN 'HTTPS://' || source || '.com:443/page/'
               || (doc_id % 5) || '#top'
          WHEN doc_id % 3 = 1 THEN 'https://' || source || '.com/page/'
               || (doc_id % 5) || '?utm_source=tw'
          ELSE 'https://' || source || '.COM/page/' || (doc_id % 5)
        END''')}) n
    ) WHERE rn = 1
    """

    # cross-corpus fuzzy dedup: new (doc_id % 3 != 0) vs ref (% 3 == 0) —
    # band-join candidates, exact shingle-Jaccard >= 0.8 verify, anti-join
    # (empty-shingle docs never verify: they produce no `shared` rows)
    oracles["dedup_against"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh_d} AS shs FROM tok),
    hh AS (SELECT doc_id, list_transform(shs, s -> {h_d}) AS hs FROM sh),
    sigs AS (SELECT doc_id, [{sig_list}] AS sig FROM hh),
    bands AS (
      SELECT doc_id, band, bh FROM sigs,
      LATERAL (SELECT * FROM (VALUES {', '.join(f'({i}, {e})' for i, e in enumerate(band_exprs))}) AS t(band, bh))
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id % 3 != 0 AND b.doc_id % 3 = 0
    ),
    ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sz AS (SELECT doc_id, len(shs) AS n FROM sh),
    shared AS (
      SELECT c.da, c.db, count(*) AS cnt
      FROM cand c
      JOIN ex a ON a.doc_id = c.da
      JOIN ex b ON b.doc_id = c.db AND b.s = a.s
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT DISTINCT da FROM shared
      JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE round(cnt::DOUBLE / greatest(sa.n + sb.n - cnt, 1), 6) >= 0.8
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 3 != 0 AND d.doc_id NOT IN (SELECT da FROM dup)
    """
    # the kept key of the removed Bloom guard runs the same query
    oracles["dedup_against_bloom"] = oracles["dedup_against"]

    # streaming near-dedup increment with empty history == in-batch
    # bucket-min: drop any doc sharing a non-sentinel band bucket with a
    # smaller id (same sig/band machinery as lsh_pairs)
    _sent4 = ",".join([str(HASH_MOD)] * 4)
    oracles["neardup_stream_batch"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh_d} AS shs FROM tok),
    hh AS (SELECT doc_id, list_transform(shs, s -> {h_d}) AS hs FROM sh),
    sigs AS (SELECT doc_id, [{sig_list}] AS sig FROM hh),
    bands AS (
      SELECT doc_id, band, bh FROM sigs,
      LATERAL (SELECT * FROM (VALUES {', '.join(f'({i}, {e})' for i, e in enumerate(band_exprs))}) AS t(band, bh))
      WHERE bh <> '{_sent4}'
    ),
    dropped AS (
      SELECT DISTINCT a.doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
    )
    SELECT d.* FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
    """

    # fuzzy-dedup pipeline: LSH candidates -> exact-jaccard verify ->
    # transitive closure (recursive CTE = the oracle for Spark's min-label
    # propagation connected components)
    oracles["dedup_clusters"] = f"""
    WITH RECURSIVE tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh_d} AS shs FROM tok),
    hh AS (SELECT doc_id, list_transform(shs, s -> {h_d}) AS hs FROM sh),
    sigs AS (SELECT doc_id, [{sig_list}] AS sig FROM hh),
    bands AS (
      SELECT doc_id, band, bh FROM sigs,
      LATERAL (SELECT * FROM (VALUES {', '.join(f'({i}, {e})' for i, e in enumerate(band_exprs))}) AS t(band, bh))
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE round(len(list_intersect(sa.shs, sb.shs))::DOUBLE
                  / greatest(len(list_distinct(sa.shs || sb.shs)), 1), 6) >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS ea, doc_b AS eb FROM ver
      UNION
      SELECT doc_b AS ea, doc_a AS eb FROM ver
    ),
    reach(id, y) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.id, e.eb FROM reach r JOIN edges e ON e.ea = r.y
    )
    SELECT id AS doc_id, min(y) AS cluster FROM reach GROUP BY id
    """

    bitsum = (
        "list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
    )
    sim_terms = " + ".join(
        f"CASE WHEN {bitsum.format(b=b)} > 0 THEN {2**b}::BIGINT ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    oracles["simhash"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    hh AS (SELECT doc_id, list_transform(tk, t -> {_SQL_HASH.format(s='t')}) AS hs FROM tok)
    SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM hh
    """

    oracles["simhash_pairs"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    hh AS (SELECT doc_id, list_transform(tk, t -> {_SQL_HASH.format(s='t')}) AS hs FROM tok),
    sims AS (SELECT doc_id, CAST({sim_terms} AS BIGINT) AS s FROM hh)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """

    oracles["jaccard_pairs"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    sh AS (SELECT doc_id, {sh_d} AS shs FROM tok),
    ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 6) + 0.0 AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 6) >= {JACCARD_T}
    """

    cos_ab = (
        f"({_sql_dot('a.embedding', 'b.embedding')} / "
        f"({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')}))"
    )
    oracles["neardup_embeddings"] = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(round({cos_ab}, 6) + 0.0 AS DOUBLE) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({cos_ab}, 6) >= {NEARDUP_T}
    """

    oracles["semantic_dedup"] = f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {SEMDEDUP_MAX_ID}),
    l AS (SELECT DISTINCT b.vec_id AS vid
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE round({cos_ab}, 6) >= {SEMDEDUP_EPS})
    SELECT v.vec_id, (l.vid IS NULL) AS keep
    FROM v LEFT JOIN l ON v.vec_id = l.vid
    """

    # banded hyperplane LSH: same plane matrix as the Spark side (same seed),
    # inlined as literal DOUBLE arrays; sign of the sequential double sum
    # reproduces Spark's left-fold projection sign bit-for-bit in practice
    import numpy as np

    _planes = np.random.RandomState(NEARDUP_LSH_SEED).randn(
        NEARDUP_LSH_BANDS, NEARDUP_LSH_PLANES, NEARDUP_LSH_DIM
    ).astype("float32")

    def _sql_band_sig(band: int) -> str:
        parts = []
        for p in range(NEARDUP_LSH_PLANES):
            arr = "[" + ", ".join(repr(float(x)) for x in _planes[band, p]) + "]"
            dot = (
                f"list_sum(list_transform(range(1, len(embedding)+1), "
                f"i -> embedding[i]::DOUBLE * ({arr}::DOUBLE[])[i]))"
            )
            parts.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
        return " || ".join(parts)

    _band_cols = ", ".join(
        f"{_sql_band_sig(b)} AS band{b}" for b in range(NEARDUP_LSH_BANDS)
    )
    _band_match = " OR ".join(
        f"a.band{b} = b.band{b}" for b in range(NEARDUP_LSH_BANDS)
    )
    oracles["neardup_lsh"] = f"""
    WITH sig AS (SELECT vec_id, {_band_cols} FROM embeddings),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({_band_match})
    )
    SELECT c.id_a, c.id_b, CAST(round({cos_ab}, 6) + 0.0 AS DOUBLE) AS cos
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_a
    JOIN embeddings b ON b.vec_id = c.id_b
    WHERE round({cos_ab}, 6) >= {NEARDUP_T}
    """

    def marker_count(lang):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return f"len(list_filter(tk, t -> list_contains([{markers}], t)))"

    oracles["langid"] = f"""
    WITH tok AS (SELECT doc_id, {toks_d} AS tk FROM documents),
    s AS (SELECT doc_id,
      {marker_count('en')} AS en, {marker_count('es')} AS es,
      {marker_count('de')} AS de, {marker_count('fr')} AS fr FROM tok)
    SELECT doc_id, CASE
      WHEN greatest(en, es, de, fr) = 0 THEN 'und'
      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      WHEN es >= de AND es >= fr THEN 'es'
      WHEN de >= fr THEN 'de'
      ELSE 'fr' END AS lang
    FROM s
    """

    stop = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    oracles["doc_stats"] = f"""
    WITH base AS (
      SELECT doc_id, text, {toks_d} AS tk,
             length(text)::DOUBLE AS n_chars,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS n_punct,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS n_digits
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, tk, n_chars, n_punct, n_digits,
             len(tk)::DOUBLE AS n_tokens,
             len(list_filter(tk, t -> list_contains([{stop}], t)))::DOUBLE AS n_stop
      FROM base
    )
    SELECT doc_id,
      CAST(n_tokens AS INT) AS n_tokens,
      CAST(len(regexp_extract_all(lower(text),
        '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))
        AS INT) AS n_bpe_tokens,
      CAST(round(
        0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END * 3.0, 1.0)
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END * 5.0, 1.0))
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_digits / n_chars ELSE 0 END * 5.0, 1.0))
      , 6) + 0.0 AS DOUBLE) AS quality,
      list_reduce(
        list_prepend(0::BIGINT, list_transform(tk, t -> ({_SQL_HASH.format(s='t')} % {FP_MOD})::BIGINT)),
        (acc, h) -> (acc * 31 + h) % {FP_MOD}
      ) AS fingerprint
    FROM m
    """

    oracles["corpus_stats"] = f"""
    WITH base AS (
      SELECT doc_id, lang, text, n_chars, {toks_d} AS tk,
             length(text)::DOUBLE AS nc,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS n_punct,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS n_digits
      FROM documents
    ),
    m AS (
      SELECT *, len(tk)::DOUBLE AS n_tokens,
             len(list_filter(tk, t -> list_contains([{stop}], t)))::DOUBLE AS n_stop
      FROM base
    ),
    q AS (
      SELECT lang, n_chars,
        len(regexp_extract_all(lower(text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))::BIGINT
          AS bpe,
        round(round(
          0.4 * least(n_tokens / 100.0, 1.0)
        + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END * 3.0, 1.0)
        + 0.15 * (1.0 - least(CASE WHEN nc > 0 THEN n_punct / nc ELSE 0 END * 5.0, 1.0))
        + 0.15 * (1.0 - least(CASE WHEN nc > 0 THEN n_digits / nc ELSE 0 END * 5.0, 1.0))
        , 6) * 1e6)::BIGINT AS q6
      FROM m
    )
    SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
      sum(bpe)::BIGINT AS sum_bpe_tokens,
      CAST(round(quantile_cont(n_chars, 0.5), 6) + 0.0 AS DOUBLE) AS p50_chars,
      CAST(round(quantile_cont(n_chars, 0.9), 6) + 0.0 AS DOUBLE) AS p90_chars,
      CAST(round(sum(q6)::DOUBLE / count(*) / 1e6, 6) + 0.0 AS DOUBLE) AS avg_quality
    FROM q GROUP BY lang
    """

    # sampling/mixing (pipeline/sample.py): same md5 hash, same thresholds
    samp_h = _SQL_HASH.format(s="doc_id::VARCHAR || '#0'")
    thr_case = " ".join(
        f"WHEN '{g}' THEN {int(round(r * (1 << 60)))}"
        for g, r in sorted(SAMPLE_RATES.items())
    )
    oracles["stratified_sample"] = f"""
    SELECT doc_id, lang FROM documents
    WHERE {samp_h} < CASE lang {thr_case} ELSE 0 END
    """

    oracles["quota_sample"] = f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY {samp_h}, doc_id) AS rk
      FROM documents WHERE source IS NOT NULL
    )
    SELECT doc_id, source FROM r WHERE rk <= {QUOTA_PER_SOURCE}
    """

    budget_langs = ", ".join(f"'{g}'" for g in sorted(TOKEN_BUDGETS))
    budget_case = " ".join(
        f"WHEN '{g}' THEN {int(b)}" for g, b in sorted(TOKEN_BUDGETS.items())
    )
    oracles["token_budget_mix"] = f"""
    WITH b AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))::BIGINT
          AS n_tokens,
        {samp_h} AS h
      FROM documents WHERE lang IN ({budget_langs})
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
        (sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
      FROM b
    )
    SELECT doc_id, lang, n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= CASE lang {budget_case} ELSE 0 END
    """

    oracles["prepare_corpus"] = f"""
    WITH tok AS (SELECT doc_id, text, {toks_d} AS tk FROM documents),
    lng AS (SELECT doc_id,
      {marker_count('en')} AS en, {marker_count('es')} AS es,
      {marker_count('de')} AS de, {marker_count('fr')} AS fr FROM tok),
    lang AS (SELECT doc_id, CASE
      WHEN greatest(en, es, de, fr) = 0 THEN 'und'
      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      WHEN es >= de AND es >= fr THEN 'es'
      WHEN de >= fr THEN 'de'
      ELSE 'fr' END AS lang FROM lng),
    m AS (
      SELECT doc_id, tk,
             length(text)::DOUBLE AS n_chars,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS n_punct,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS n_digits,
             len(tk)::DOUBLE AS n_tokens,
             len(list_filter(tk, t -> list_contains([{stop}], t)))::DOUBLE AS n_stop
      FROM tok
    ),
    q AS (SELECT doc_id, CAST(round(
        0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END * 3.0, 1.0)
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END * 5.0, 1.0))
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_digits / n_chars ELSE 0 END * 5.0, 1.0))
      , 6) + 0.0 AS DOUBLE) AS quality FROM m),
    kept AS (
      SELECT d.doc_id, d.text, l.lang, q.quality
      FROM documents d JOIN lang l USING (doc_id) JOIN q USING (doc_id)
      WHERE l.lang = 'en' AND q.quality >= 0.3
    )
    SELECT doc_id, lang, quality FROM (
      SELECT *, row_number() OVER (PARTITION BY coalesce(md5(text), '__null__' || doc_id) ORDER BY doc_id ASC) AS rn
      FROM kept
    ) WHERE rn = 1
    """

    # one-pass curation funnel: same lang/quality/dedup machinery as the
    # prepare_corpus oracle, re-expressed as first-failing-stage
    # attribution + a per-stage aggregate (kept docs are the
    # prepare_corpus survivors by construction)
    oracles["curation_funnel"] = f"""
    WITH tok AS (SELECT doc_id, text, {toks_d} AS tk FROM documents),
    lng AS (SELECT doc_id,
      {marker_count('en')} AS en, {marker_count('es')} AS es,
      {marker_count('de')} AS de, {marker_count('fr')} AS fr FROM tok),
    lang AS (SELECT doc_id, CASE
      WHEN greatest(en, es, de, fr) = 0 THEN 'und'
      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      WHEN es >= de AND es >= fr THEN 'es'
      WHEN de >= fr THEN 'de'
      ELSE 'fr' END AS lang FROM lng),
    m AS (
      SELECT doc_id, tk,
             length(text)::DOUBLE AS n_chars,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS n_punct,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS n_digits,
             len(tk)::DOUBLE AS n_tokens,
             len(list_filter(tk, t -> list_contains([{stop}], t)))::DOUBLE AS n_stop
      FROM tok
    ),
    q AS (SELECT doc_id, CAST(round(
        0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END * 3.0, 1.0)
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END * 5.0, 1.0))
      + 0.15 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_digits / n_chars ELSE 0 END * 5.0, 1.0))
      , 6) + 0.0 AS DOUBLE) AS quality FROM m),
    surv AS (
      SELECT doc_id FROM (
        SELECT d.doc_id, row_number() OVER (
          PARTITION BY coalesce(md5(d.text), '__null__' || d.doc_id)
          ORDER BY d.doc_id ASC) AS rn
        FROM documents d JOIN lang l USING (doc_id) JOIN q USING (doc_id)
        WHERE l.lang = 'en' AND q.quality >= 0.3
      ) WHERE rn = 1
    ),
    staged AS (
      SELECT d.doc_id,
        len(regexp_extract_all(lower(d.text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))::BIGINT
          AS bpe,
        CASE
          WHEN l.lang <> 'en' THEN 'lang'
          WHEN q.quality < 0.3 THEN 'quality'
          WHEN s.doc_id IS NULL THEN 'exact_dup'
          ELSE 'kept'
        END AS stage
      FROM documents d
      JOIN lang l USING (doc_id) JOIN q USING (doc_id)
      LEFT JOIN surv s USING (doc_id)
    ),
    rep AS (
      SELECT stage, count(*) AS n_docs, sum(bpe)::BIGINT AS n_tokens
      FROM staged GROUP BY stage
    )
    SELECT stage,
      CAST(CASE stage WHEN 'lang' THEN 0 WHEN 'quality' THEN 1
           WHEN 'exact_dup' THEN 2 ELSE 3 END AS INT) AS stage_order,
      n_docs, n_tokens,
      CAST(round(n_docs::DOUBLE / sum(n_docs) OVER (), 6) + 0.0 AS DOUBLE)
        AS pct_docs
    FROM rep
    """

    from duckdb_annsearch_spark.pipeline.quality import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    tkq = _SQL_TOKS.format(t="text")
    oracles["pii_scrub"] = f"""
    WITH aug AS (
      SELECT doc_id,
        text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
          || (doc_id % 256)::VARCHAR || '.7 tel +1 (555) 010-'
          || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
      FROM documents
    ),
    s1 AS (SELECT doc_id,
           len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_email,
           regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM aug),
    s2 AS (SELECT doc_id, n_email,
           len(regexp_extract_all(t1, '{PII_IPV4_RE}')) AS n_ip,
           regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2 FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ip,
           len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS n_phone,
           regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean FROM s2)
    SELECT doc_id, clean, n_email::BIGINT AS n_email, n_ip::BIGINT AS n_ip,
           n_phone::BIGINT AS n_phone
    FROM s3 ORDER BY doc_id
    """
    oracles["repetition_stats"] = f"""
    WITH tok AS (SELECT doc_id, text, {tkq} AS tkn FROM documents),
    ln AS (SELECT doc_id, list_filter(
             string_split(regexp_replace(text, 'table', chr(10), 'g'), chr(10)),
             x -> trim(x) <> '') AS lines FROM documents),
    dl AS (SELECT doc_id, CASE WHEN len(lines) > 0
             THEN round(1.0 - len(list_distinct(lines))::DOUBLE / len(lines), 6)
             ELSE 0.0 END AS dup_line_frac FROM ln),
    dt AS (SELECT doc_id, CASE WHEN len(tkn) > 0
             THEN round(1.0 - len(list_distinct(tkn))::DOUBLE / len(tkn), 6)
             ELSE 0.0 END AS dup_token_frac FROM tok),
    bg AS (SELECT doc_id, length(text)::DOUBLE AS chars,
             unnest(list_transform(range(1, len(tkn)),
                                   i -> tkn[i] || ' ' || tkn[i+1])) AS bigram
           FROM tok WHERE len(tkn) >= 2),
    cnt AS (SELECT doc_id, chars, bigram, count(*) AS c
            FROM bg GROUP BY doc_id, chars, bigram),
    best AS (SELECT doc_id,
             round(least(c * length(bigram) / chars, 1.0), 6) AS top_bigram_frac,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, bigram DESC) AS rn FROM cnt)
    SELECT d.doc_id AS doc_id, dl.dup_line_frac AS dup_line_frac,
           dt.dup_token_frac AS dup_token_frac,
           coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM documents d
    JOIN dl USING(doc_id) JOIN dt USING(doc_id)
    LEFT JOIN (SELECT doc_id, top_bigram_frac FROM best WHERE rn = 1) b USING(doc_id)
    ORDER BY doc_id
    """
    g8 = " || ' ' || ".join(["tkn[i]"] + [f"tkn[i+{j}]" for j in range(1, 8)])
    oracles["decontaminate"] = f"""
    WITH tok AS (SELECT doc_id, {tkq} AS tkn FROM documents),
    gr AS (SELECT doc_id, list_distinct(CASE WHEN len(tkn) >= 8
             THEN list_transform(range(1, len(tkn) - 6), i -> {g8})
             ELSE [] END) AS gs FROM tok),
    bg AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE doc_id < 5),
    dg AS (SELECT doc_id, unnest(gs) AS g FROM gr),
    hits AS (SELECT dg.doc_id, count(*) AS overlap_ngrams
             FROM dg JOIN bg USING(g) GROUP BY dg.doc_id)
    SELECT d.doc_id AS doc_id,
           coalesce(h.overlap_ngrams, 0)::BIGINT AS overlap_ngrams,
           (coalesce(h.overlap_ngrams, 0) > 0) AS contaminated
    FROM documents d LEFT JOIN hits h USING(doc_id)
    ORDER BY doc_id
    """
    oracles["pricing_summary"] = """
    SELECT l_returnflag, l_linestatus,
      CAST(sum(l_quantity::BIGINT) AS BIGINT) AS sum_qty,
      CAST(sum(round(l_extendedprice * 100)::BIGINT) AS DOUBLE) / 100 AS sum_base_price,
      CAST(sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
      CAST(sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT) * (100 + round(l_tax * 100)::BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """

    oracles["top_orders"] = """
    SELECT o_orderkey,
      CAST(sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """

    oracles["shipping_priority"] = """
    SELECT l_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_orderpriority,
      CAST(sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """

    oracles["customer_running_revenue"] = """
    SELECT o_custkey, o_orderkey,
      CAST(sum(round(o_totalprice * 100)::BIGINT)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100 AS running_total
    FROM orders WHERE o_custkey < 100
    """

    oracles["events_top_by_user"] = """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """

    oracles["events_sessionize"] = """
    SELECT event_id, user_id,
      CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM (
      SELECT event_id, user_id, epoch_us(ts) AS us,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) > 1800000000
             THEN 1 ELSE 0 END AS gap
      FROM events
    )
    """

    oracles["event_type_stats"] = """
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      CAST(sum(round(value * 100)::BIGINT) AS DOUBLE) / 100 AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """

    dot_b = _sql_dot("e.embedding", "b.bv")
    norm_b = "sqrt(list_sum(list_transform(b.bv, x -> x::DOUBLE * x::DOUBLE)))"
    oracles["semantic_decontaminate"] = f"""
    WITH b AS (
      SELECT embedding AS bv FROM embeddings
      WHERE vec_id % 97 = 0 AND embedding IS NOT NULL
    ), p AS (
      SELECT e.vec_id,
             round({dot_b} / greatest({_sql_norm("e.embedding")} * {norm_b}, 1e-300), 6)
               + 0.0 AS c
      FROM embeddings e CROSS JOIN b
      WHERE e.embedding IS NOT NULL
    ), m AS (
      SELECT vec_id, max(c) AS max_benchmark_cos FROM p GROUP BY vec_id
    )
    SELECT e.vec_id, m.max_benchmark_cos,
           coalesce(m.max_benchmark_cos >= 0.95, false) AS contaminated
    FROM embeddings e LEFT JOIN m USING (vec_id)
    """

    oracles["dup_ngram_stats"] = f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS.format(t="text")} AS l FROM documents
    ), g AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(l) - 2 + 2, 1)),
               i -> array_to_string(l[i : i + 1], ' '))) AS gram
      FROM tk
    ), gh AS (
      SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM g
    ), dup AS (
      SELECT h FROM gh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), per AS (
      SELECT gh.doc_id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup
      FROM gh LEFT JOIN dup USING (h) GROUP BY gh.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           coalesce(p.n_dup, 0) AS n_dup_grams,
           CASE WHEN p.n_grams > 0
                THEN round(CAST(p.n_dup AS DOUBLE) / CAST(p.n_grams AS DOUBLE), 6) + 0.0
           END AS dup_frac
    FROM documents d LEFT JOIN per p USING (doc_id)
    """

    # temperature mixture weights: n_tokens^0.5 shares over languages,
    # 20k-token budget; floats rounded to 6, budget = floor(x + 0.5).
    oracles["temperature_weights"] = r"""
    WITH s AS (
      SELECT lang, count(*)::BIGINT AS n_docs,
        sum(len(regexp_extract_all(lower(text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+'
        )))::BIGINT AS n_tokens
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
      round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS p_raw,
      round(pow(CAST(n_tokens AS DOUBLE), 0.5)
            / sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER (), 6) AS p_temp,
      CAST(floor(20000 * pow(CAST(n_tokens AS DOUBLE), 0.5)
            / sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER () + 0.5) AS BIGINT)
        AS budget,
      round(CASE WHEN n_tokens > 0 THEN
        floor(20000 * pow(CAST(n_tokens AS DOUBLE), 0.5)
              / sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER () + 0.5)
        / n_tokens END, 6) AS epochs
    FROM s
    """

    # fastText-shaped hashed linear scoring: unigram + bigram md5
    # features mod 1024, mean-pooled, sigmoid(bias + mean weight).
    # Weights are multiples of 1/1024 (dyadic) so the sum is exact.
    oracles["quality_classifier"] = f"""
    WITH w AS (
      SELECT range AS feature,
             CAST((range * 31 + 7) % 1000 - 500 AS DOUBLE) / 1024.0 AS weight
      FROM range(1024)
    ), tk AS (
      SELECT doc_id, {_SQL_TOKS.format(t="text")} AS l FROM documents
    ), f1 AS (
      SELECT doc_id, unnest(l) AS g FROM tk
    ), f2 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(l), 1)),
               i -> array_to_string(l[i : i + 1], ' '))) AS g
      FROM tk WHERE len(l) >= 2
    ), feats AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS feature
      FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
    ), per AS (
      SELECT feats.doc_id, count(*)::BIGINT AS n_feats,
             sum(coalesce(w.weight, 0.0)) AS ws
      FROM feats LEFT JOIN w USING (feature) GROUP BY feats.doc_id
    ), sc AS (
      SELECT doc_id, n_feats,
             round(1.0 / (1.0 + exp(-(0.125 + ws / n_feats))), 6) AS score
      FROM per
    )
    SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats, s.score,
           CASE WHEN s.score IS NOT NULL THEN s.score >= 0.5 END AS keep
    FROM documents d LEFT JOIN sc s USING (doc_id)
    """

    # ExactSubstr span removal, k=4 whitespace grams (original bytes,
    # corpus scope: count(*) >= 2 so within-doc repeats count); paired
    # unnests zip in DuckDB, slices are end-inclusive.
    oracles["remove_dup_spans"] = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l,
             text IS NULL AS tnull
      FROM documents
    ), g AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(l) - 2, 1)),
                              i -> array_to_string(l[i : i + 3], ' '))) AS gram,
        unnest(range(0, greatest(len(l) - 3, 0))) AS gpos
      FROM tk WHERE len(l) >= 4
    ), gh AS (
      SELECT doc_id, gpos,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
      FROM g
    ), dup AS (
      SELECT h FROM gh GROUP BY h HAVING count(*) >= 2
    ), starts AS (
      SELECT gh.doc_id, gh.gpos FROM gh JOIN dup USING (h)
    ), tokpos AS (
      SELECT doc_id, unnest(l) AS tok, unnest(range(0, len(l))) AS pos
      FROM tk
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM starts s
        WHERE s.doc_id = tp.doc_id
          AND s.gpos <= tp.pos AND tp.pos < s.gpos + 4)
    ), a AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             count(*)::BIGINT AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CASE WHEN tk.tnull THEN NULL ELSE coalesce(a.text, '') END AS text,
           coalesce(len(tk.l), 0)::BIGINT AS n_tokens,
           coalesce(len(tk.l), 0)::BIGINT - coalesce(a.n_kept, 0) AS n_removed
    FROM tk LEFT JOIN a USING (doc_id)
    """

    # winnowing: k=3 grams, w=4 windows; l[i : i+2] is DuckDB's inclusive
    # 3-element slice, hs[i : i+3] the 4-element window.
    _winnow_fps = f"""
    tk AS (
      SELECT doc_id, {_SQL_TOKS.format(t="text")} AS l,
             text IS NULL AS tnull
      FROM documents
    ), gh AS (
      SELECT doc_id, tnull,
        CASE WHEN len(l) >= 3 THEN
          list_transform(
            list_transform(range(1, len(l) - 1), i -> array_to_string(l[i : i + 2], ' ')),
            g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)
        ELSE [] END AS hs
      FROM tk
    ), fps AS (
      SELECT doc_id,
        CASE WHEN len(hs) > 0 THEN
          list_sort(list_distinct(
            list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                           i -> list_min(hs[i : i + 3]))))
        WHEN tnull THEN NULL ELSE [] END AS fingerprints
      FROM gh
    )"""

    oracles["winnow_fingerprints"] = f"""
    WITH {_winnow_fps}
    SELECT doc_id, array_to_string(fingerprints, ',') AS fingerprints,
           len(fingerprints) AS n_fingerprints
    FROM fps
    """

    oracles["winnow_pairs"] = f"""
    WITH {_winnow_fps}, posts AS (
      SELECT doc_id, len(fingerprints) AS nf, unnest(fingerprints) AS fp
      FROM fps WHERE len(fingerprints) > 0
    ), rare AS (
      SELECT fp FROM posts GROUP BY fp HAVING count(*) <= 1000
    ), p AS (
      SELECT posts.* FROM posts JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*)::BIGINT AS n_shared,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(least(any_value(a.nf), any_value(b.nf)) AS DOUBLE), 6)
             AS overlap
    FROM p a JOIN p b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """

    oracles["line_dedup"] = """
    WITH w AS (
      SELECT doc_id,
        list_transform(range(0, CAST(ceil(len(l) / 8.0) AS INT)),
                       i -> array_to_string(l[i*8+1 : i*8+8], ' ')) AS ls
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    ), lx AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(range(0, len(ls))) AS pos
      FROM w
    ), b AS (
      SELECT lower(trim(line)) AS k
      FROM lx WHERE lower(trim(line)) <> ''
      GROUP BY k HAVING count(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT lx.doc_id, lx.line, lx.pos FROM lx
      WHERE lower(trim(lx.line)) = ''
         OR NOT EXISTS (SELECT 1 FROM b WHERE b.k = lower(trim(lx.line)))
    ), a AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             count(*)::BIGINT AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.ls IS NULL THEN NULL
                ELSE coalesce(a.text, '') END AS text,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(CAST(len(d.ls) AS BIGINT), 0) - coalesce(a.n_kept, 0) AS n_dropped
    FROM w d LEFT JOIN a USING (doc_id)
    """

    oracles["pack_chunks"] = """
    WITH tok AS (
      SELECT doc_id,
        len(regexp_extract_all(lower(text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))::BIGINT
          AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING)
          - n_tokens AS BIGINT) AS s
      FROM tok
    )
    SELECT doc_id, n_tokens,
      CAST(s // 512 AS BIGINT) AS chunk_id,
      CAST(s % 512 AS BIGINT) AS chunk_offset,
      (n_tokens > 0 AND
       ((s + greatest(n_tokens - 1, 0)) // 512) > (s // 512)) AS crosses_boundary
    FROM c
    """

    oracles["chunk_documents"] = """
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
      FROM documents
      WHERE text IS NOT NULL AND len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) > 0
    ), c AS (
      SELECT doc_id, l,
        unnest(range(0,
          CAST(ceil(greatest(len(l) - 32, 0) / 16.0) AS INT) + 1)) AS i
      FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(l[i*16+1 : i*16+32], ' ') AS chunk_text,
           CAST(least(32, len(l) - i*16) AS BIGINT) AS n_tokens
    FROM c
    """

    oracles["pack_greedy"] = """
    WITH RECURSIVE tok AS (
      SELECT lang, doc_id,
        len(regexp_extract_all(lower(text),
          '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+'))::BIGINT
          AS n_tokens
      FROM documents
    ), d AS MATERIALIZED (
      -- MATERIALIZED: the recursive walk re-reads d every round; inlined,
      -- DuckDB would re-tokenize the whole corpus per iteration.
      -- coalesce(n_tokens, 0): a NULL-text doc must not poison every
      -- later bin_fill in its stream through the CASE recurrence (the
      -- Spark side coalesces in _tokens_col).
      SELECT lang, doc_id, coalesce(n_tokens, 0) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS seq
      FROM tok
    ), walk AS (
      SELECT lang, seq, doc_id, n_tokens,
             0::BIGINT AS bin_id, n_tokens AS bin_fill
      FROM d WHERE seq = 1
      UNION ALL
      SELECT d.lang, d.seq, d.doc_id, d.n_tokens,
        CASE WHEN w.bin_fill + d.n_tokens > 512
             THEN w.bin_id + 1 ELSE w.bin_id END,
        CASE WHEN w.bin_fill + d.n_tokens > 512
             THEN d.n_tokens ELSE w.bin_fill + d.n_tokens END
      -- IS NOT DISTINCT FROM: a NULL-lang stream must keep walking past
      -- its seed row (Spark's groupBy keeps the NULL group whole)
      FROM walk w JOIN d
        ON d.lang IS NOT DISTINCT FROM w.lang AND d.seq = w.seq + 1
    )
    SELECT lang AS stream, doc_id, n_tokens, bin_id, bin_fill,
           n_tokens > 512 AS oversize
    FROM walk
    """

    oracles["lm_perplexity"] = f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS.format(t="text")} AS toks FROM documents
    ), t AS (
      SELECT doc_id, unnest(toks) AS gram FROM tk
    ), cnt AS (
      SELECT gram, count(*)::BIGINT AS c FROM t GROUP BY gram
    ), tot AS (
      SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM cnt
    ), cost AS (
      SELECT t.doc_id,
             round(-ln((cnt.c + 1.0) / (tot.n + 1.0 * tot.v)) * 1000000)::BIGINT AS mc
      FROM t JOIN cnt USING (gram) CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_grams, sum(mc)::BIGINT AS s
      FROM cost GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_grams, 0) AS n_grams,
           coalesce(a.s, 0) AS sum_nll_micro,
           CASE WHEN a.n_grams > 0
                THEN round(CAST(a.s AS DOUBLE) / (CAST(a.n_grams AS DOUBLE) * 1000000), 6) + 0.0
           END AS avg_nll
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """

    oracles["events_asof"] = """
    WITH c AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS us,
             round(value * 100)::BIGINT AS vc
      FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT c.event_id, c.user_id, c.us, p.p_id, p.vc,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY p.us DESC, p.p_id DESC) AS rn
      FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.us <= c.us
    )
    SELECT event_id, user_id, us AS click_us, p_id AS matched_p_id,
           CAST(vc AS DOUBLE) / 100 AS matched_value
    FROM j WHERE rn = 1
    """

    oracles["events_range_agg"] = """
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS c_id, user_id, epoch_us(ts) AS us,
             round(value * 100)::BIGINT AS vc
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           count(c.c_id) AS n_clicks,
           CAST(coalesce(sum(c.vc), 0) AS DOUBLE) / 100 AS sum_click_value
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id AND c.us BETWEEN p.us - 600000000 AND p.us
    GROUP BY p.event_id, p.user_id
    """

    # Gopher document rules (pipeline/filters.py): words = non-empty \s+
    # splits, lines = \n splits rtrimmed, symbol count = non-overlapping
    # replace deltas — each stat the same expression shape as the Spark
    # side, keep = the threshold conjunction (min_words=20,
    # min_required_words=1, all other thresholds paper defaults).
    _req_sql = " + ".join(
        f"list_contains(lw, '{w}')::INT"
        for w in (
            "the", "be", "to", "of", "and", "that", "have", "with"
        )
    )
    oracles["gopher_filter"] = f"""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), w AS (
      SELECT doc_id, t,
        list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS w,
        list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS lw,
        list_transform(string_split(t, chr(10)), l -> rtrim(l)) AS ln
      FROM base
    ), s AS (
      SELECT doc_id,
        len(w)::BIGINT AS n_words,
        round(CASE WHEN len(w) > 0 THEN
          coalesce(list_sum(list_transform(w, x -> len(x))), 0)::DOUBLE / len(w)
          ELSE 0.0 END, 6) AS mean_word_len,
        round(CASE WHEN len(w) > 0 THEN
          ((len(t) - len(replace(t, '#', '')))
           + (len(t) - len(replace(t, '...', ''))) / 3)::DOUBLE / len(w)
          ELSE 0.0 END, 6) AS symbol_word_ratio,
        round(CASE WHEN len(ln) > 0 THEN
          len(list_filter(ln, l -> starts_with(l, '- ')
                                   OR starts_with(l, '* ')))::DOUBLE / len(ln)
          ELSE 0.0 END, 6) AS bullet_line_frac,
        round(CASE WHEN len(ln) > 0 THEN
          len(list_filter(ln, l -> ends_with(l, '...')))::DOUBLE / len(ln)
          ELSE 0.0 END, 6) AS ellipsis_line_frac,
        round(CASE WHEN len(w) > 0 THEN
          len(list_filter(w, x -> translate(x,
            'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '')
            <> x))::DOUBLE / len(w)
          ELSE 0.0 END, 6) AS alpha_word_frac,
        ({_req_sql})::INT AS n_required_words
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           n_required_words,
           (n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND n_required_words >= 1) AS keep
    FROM s
    """

    # C4 line/document rules over the same deterministic augmentation as
    # q_c4_filter: ' value ' -> sentence break, every 7th doc a lorem
    # ipsum tail; line keep = terminal punct + >= 5 words; doc keep =
    # >= 3 sentences and no bad substring.
    oracles["c4_filter"] = """
    WITH aug AS (
      SELECT doc_id,
             replace(coalesce(text, ''), ' value ', '.' || chr(10))
             || (CASE WHEN doc_id % 7 = 0 THEN ' lorem ipsum.' ELSE '.' END)
             AS t
      FROM documents
    ), cleaned AS (
      SELECT doc_id, t,
        coalesce(array_to_string(
          list_filter(
            list_transform(string_split(coalesce(t, ''), chr(10)),
                           l -> rtrim(l)),
            l -> (ends_with(l, '.') OR ends_with(l, '!')
                  OR ends_with(l, '?') OR ends_with(l, '"'))
                 AND len(list_filter(string_split_regex(l, '\\s+'),
                                     x -> x <> '')) >= 5
                 AND NOT contains(lower(l), 'javascript')
          ), chr(10)), '') AS clean_text
      FROM aug
    )
    SELECT doc_id, clean_text,
      (CASE WHEN clean_text = '' THEN 0
            ELSE len(string_split(clean_text, chr(10))) END)::BIGINT
        AS n_lines_kept,
      ((len(clean_text) - len(replace(clean_text, '.', '')))
       + (len(clean_text) - len(replace(clean_text, '!', '')))
       + (len(clean_text) - len(replace(clean_text, '?', ''))))::BIGINT
        AS n_sentences,
      (((len(clean_text) - len(replace(clean_text, '.', '')))
        + (len(clean_text) - len(replace(clean_text, '!', '')))
        + (len(clean_text) - len(replace(clean_text, '?', '')))) >= 3
       AND NOT (contains(lower(t), 'lorem ipsum')
                OR contains(lower(t), '{'))) AS keep
    FROM cleaned
    """

    return oracles
