"""Round-9 optimization internals: evaluate-once binding, scale-adaptive
fan-out, and off-driver training execution.

These guard the three mechanisms the r9 optimization round introduced;
the *results* of every affected operator are separately pinned by the
oracle selfcheck and the existing operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import job_count


def test_bind_evaluates_once_and_matches_inline(spark):
    from duckdb_annsearch_spark.pipeline.text import bind

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None)], "id long, t string"
    )
    toks = F.split(F.col("t"), " ")
    inline = F.size(toks) + F.size(toks)
    bound = bind(toks, lambda ts: F.size(ts) + F.size(ts))
    rows = df.select(
        F.col("id"), inline.alias("a"), bound.alias("b")
    ).orderBy("id").collect()
    # NULL input: both forms NULL-propagate identically (size(NULL) is
    # NULL under Spark 4 defaults)
    assert [(r["a"], r["b"]) for r in rows] == [(6, 6), (2, 2), (None, None)]
    # the bound form carries ONE copy of the child expression; the inline
    # form duplicates it per reference (explicit aliases so the printed
    # plan doesn't repeat the expression in a generated alias name)
    def n_splits(col):
        plan = (
            df.select(col.alias("x"))
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        return plan.count("split(")

    assert n_splits(bound) == 1
    assert n_splits(inline) == 2


def test_fan_out_small_fires_only_below_core_count(spark):
    from duckdb_annsearch_spark.pipeline.fanout import fan_out_small

    cores = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame(
        [(i,) for i in range(100)], "id long"
    ).coalesce(1)
    fanned = fan_out_small(small)
    assert fanned.rdd.getNumPartitions() == cores
    # rows unchanged (round-robin only relocates)
    assert sorted(r["id"] for r in fanned.collect()) == list(range(100))
    # already-parallel input is returned untouched (the 100 TB case)
    wide = small.repartition(cores)
    assert fan_out_small(wide) is wide


def _small_scans(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(200).selectExpr("id", "cast(id AS string) t").coalesce(1).write.parquet(a)
    spark.range(100).selectExpr("id", "id * 2 AS u").coalesce(1).write.parquet(b)
    return spark.read.parquet(a), spark.read.parquet(b)


def _round_robins(df) -> int:
    # logical plan: an executed AQE plan prints its exchanges twice
    # (final and initial plan)
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "Repartition "
    )


def test_fan_out_small_fans_post_shuffle_input_without_a_job(spark, tmp_path):
    """An input with an exchange is decided from the plan: the RDD probe
    it replaces ran every upstream shuffle stage under AQE."""
    from duckdb_annsearch_spark.pipeline.fanout import fan_out_small

    a, b = _small_scans(spark, tmp_path)
    joined = a.join(b, "id")
    with job_count(spark) as jobs:
        fanned = fan_out_small(joined)
    assert jobs == [0]
    assert fanned is not joined and _round_robins(fanned) == 1
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in fanned.collect()) == list(range(100))


def test_fan_out_small_does_not_stack_on_a_fanned_plan(spark, tmp_path):
    """A plan already ending in a round-robin repartition to >= cores
    keeps its count, through projections too (a pure estimate gate would
    add a second exchange here)."""
    from duckdb_annsearch_spark.pipeline.fanout import fan_out_small

    a, _ = _small_scans(spark, tmp_path)
    twice = fan_out_small(fan_out_small(a).select(F.col("id") + 1, F.upper("t")))
    assert _round_robins(twice) == 1


def test_fan_out_small_leaves_large_estimates_untouched(spark):
    from duckdb_annsearch_spark.pipeline.fanout import fan_out_small
    from duckdb_annsearch_spark.session import estimated_bytes

    # an inner join's estimate is the product of its sides: GBs here
    big = spark.range(10_000).join(
        spark.range(10_000).select(F.col("id").alias("id2")),
        F.col("id") == F.col("id2"),
    )
    assert estimated_bytes(big) > 1 << 30
    with job_count(spark) as jobs:
        assert fan_out_small(big) is big
    assert jobs == [0]


@pytest.mark.parametrize(
    "query,budget",
    # measured on the sf0.001 fixture: 13 (was 18 with the RDD fan-out
    # probe and an inner-join representative filter) and 5 (was 9: four
    # probes)
    [("dedup_clusters", 13), ("dedup_against", 5)],
)
def test_dedup_construct_job_budget(spark, sf_dir, query, budget):
    """Jobs the dedup queries submit before their final action (eager
    checkpoints and gates).  A new probe or checkpoint that adds one fails
    here."""
    import __spark_entry__ as entry

    with job_count(spark) as jobs:
        entry.queries()[query](spark, sf_dir)
    assert jobs[0] <= budget


def test_run_remote_matches_local_training(spark):
    from duckdb_annsearch_spark.index.pq import train_pq
    from duckdb_annsearch_spark.index.remote import run_remote

    rng = np.random.RandomState(7)
    sample = rng.randn(256, 16).astype(np.float32)
    local = train_pq(sample, 4)
    remote = run_remote(spark, train_pq, sample, 4)
    # same function, same inputs, same libraries -> bit-identical books
    assert np.array_equal(local, remote)


def test_run_remote_propagates_errors(spark):
    from duckdb_annsearch_spark.index.pq import train_pq
    from duckdb_annsearch_spark.index.remote import run_remote

    with pytest.raises(Exception):
        run_remote(spark, train_pq, "not-an-array", 4)
