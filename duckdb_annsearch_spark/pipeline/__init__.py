"""LLM-training-data pipeline operators (beyond-reference scope, SURVEY §7.1
M9): deduplication, text analysis, similarity self-join, and multimodal
column plumbing (md5 byte features; no media codecs).

All operators are pure DataFrame transforms built from JVM-side expressions
(no Python UDFs in the hot paths) so they scale with the cluster.
"""

from duckdb_annsearch_spark.pipeline.text import (
    detect_language,
    doc_fingerprint,
    quality_score,
    token_count,
)
from duckdb_annsearch_spark.pipeline.sample import (
    hash_sample,
    quota_sample,
    stratified_sample,
    temperature_mix,
    temperature_weights,
    token_budget_mix,
)
from duckdb_annsearch_spark.pipeline.lm import (
    lm_perplexity,
    train_ngram_counts,
)
from duckdb_annsearch_spark.pipeline.pack import (
    chunk_documents,
    pack_chunks,
    pack_greedy,
)
from duckdb_annsearch_spark.pipeline.quality import (
    semantic_decontaminate,
)
from duckdb_annsearch_spark.pipeline.lines import (
    line_dedup,
    line_df_counts,
)
from duckdb_annsearch_spark.pipeline.classify import (
    hashed_features,
    score_hashed_linear,
    train_quality_classifier,
)
from duckdb_annsearch_spark.pipeline.spans import (
    dup_span_starts,
    remove_dup_spans,
)
from duckdb_annsearch_spark.pipeline.winnow import (
    winnow_fingerprints,
    winnow_pairs,
)
from duckdb_annsearch_spark.pipeline.dedup import (
    dup_ngram_stats,
    embedding_neardup_pairs,
    exact_duplicates,
    minhash_signatures,
    lsh_duplicate_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash,
)

__all__ = [
    "detect_language",
    "doc_fingerprint",
    "quality_score",
    "token_count",
    "exact_duplicates",
    "minhash_signatures",
    "lsh_duplicate_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "embedding_neardup_pairs",
    "semantic_dedup",
    "hash_sample",
    "stratified_sample",
    "quota_sample",
    "token_budget_mix",
    "temperature_mix",
    "temperature_weights",
    "lm_perplexity",
    "train_ngram_counts",
    "pack_chunks",
    "pack_greedy",
    "line_dedup",
    "dup_span_starts",
    "remove_dup_spans",
    "hashed_features",
    "score_hashed_linear",
    "train_quality_classifier",
    "winnow_fingerprints",
    "winnow_pairs",
    "line_df_counts",
    "dup_ngram_stats",
    "semantic_decontaminate",
    "chunk_documents",
]
