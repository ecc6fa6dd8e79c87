"""hybrid_search: BM25 + vector search + weighted Reciprocal Rank Fusion.

Parity with ``/root/reference/src/ann_search.cpp:894-1163``:

* defaults: k=20, bm25_weight=0.3, vector_weight=0.7, bm25_candidates=50,
  vector_candidates=50 (``ann_search.cpp:920-931``)
* RRF_K = 60; ``score = Σ_i w_i / (60 + rank_i)`` summing only the rank
  lists the doc appears in (``ann_search.cpp:1091-1106``)
* rank columns ``_bm25_rank`` / ``_vector_rank`` are 1-based, 0 = absent
* graceful degradation to vector-only when no FTS index exists or the
  query text is empty (``ann_search.cpp:1056``)
* output: all table columns + ``_rrf_score FLOAT, _bm25_rank INT,
  _vector_rank INT``, ordered by fused score desc, top k.

Spark shape (SURVEY §2.2 S7): two small ranked DataFrames (each at most
``*_candidates`` rows) -> full outer join on row_id -> fused-score
expression -> orderBy desc limit k -> the engine's bounded row fetch
(broadcast join back to the base table, one limit-sort to k rows).
The only large-data work is the BM25 postings filter and the index probe,
both distributed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60


def rrf_fuse(
    bm25_ranked: DataFrame | None,
    vector_ranked: DataFrame,
    k: int,
    bm25_weight: float,
    vector_weight: float,
) -> DataFrame:
    """(row_id, _rrf_score, _bm25_rank, _vector_rank) — top k by fused score.

    Inputs carry (row_id, _bm25_rank) / (row_id, _vector_rank), 1-based.
    """
    if bm25_ranked is None:
        fused = vector_ranked.withColumn("_bm25_rank", F.lit(0))
    else:
        fused = vector_ranked.join(bm25_ranked, on="row_id", how="full_outer")
    fused = fused.fillna({"_bm25_rank": 0, "_vector_rank": 0})
    score = (
        F.when(
            F.col("_bm25_rank") > 0,
            F.lit(bm25_weight) / (F.lit(RRF_K) + F.col("_bm25_rank")),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("_vector_rank") > 0,
            F.lit(vector_weight) / (F.lit(RRF_K) + F.col("_vector_rank")),
        ).otherwise(F.lit(0.0))
    ).cast("float")
    return (
        fused.withColumn("_rrf_score", score)
        .orderBy(F.col("_rrf_score").desc(), F.col("row_id").asc())
        .limit(k)
    )


def constant_partition_key(col_name: str):
    """A constant-valued but non-foldable partition key: Catalyst can't
    fold ``x*0`` (NULL semantics), so WindowExec sees a real single-group
    spec instead of a flagged-empty one. NULL and NaN inputs — which would
    otherwise each open a SECOND partition and restart row_number — are
    normalized into the same group."""
    return F.coalesce(
        F.nanvl(F.col(col_name).cast("double") * 0, F.lit(0.0)), F.lit(0.0)
    )


def rank_by(
    df: DataFrame, order_cols: list, rank_name: str, key_col: str = "row_id"
) -> DataFrame:
    """Global 1-based rank. Callers pass bounded candidate sets (top-N
    truncated upstream), so the single-partition sort is k-bounded."""
    w = Window.partitionBy(constant_partition_key(key_col)).orderBy(*order_cols)
    return df.withColumn(rank_name, F.row_number().over(w).cast("int"))
