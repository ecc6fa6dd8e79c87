"""dedup_against on one partition holding a NULL text, a duplicate and a
novel doc. The file keeps the name of the Bloom-guarded plan this check
was first written for; the plain plan it now covers is the only one left,
run here both broadcast and as a shuffle join."""

import contextlib

import pytest

from duckdb_annsearch_spark.pipeline.dedup import dedup_against


@pytest.fixture()
def no_broadcast(spark):
    """Context manager that turns auto-broadcast off, so the reference is
    joined by a shuffle; the old threshold is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def forced():
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return forced


class TestDedupAgainstBloom:
    def test_null_and_dup_in_one_partition(self, spark, no_broadcast):
        # a NULL-text row neither shields nor drags down its partition-mates:
        # the true duplicate is dropped, the NULL and the novel doc survive
        new = spark.createDataFrame(
            [(1, None), (2, "shared text here"), (3, "novel doc")],
            "doc_id long, text string",
        ).coalesce(1)
        ref = spark.createDataFrame(
            [(9, "shared text here")], "doc_id long, text string"
        )

        def ids():
            out = dedup_against(new, ref, mode="exact")
            return sorted(r["doc_id"] for r in out.collect())

        broadcast = ids()
        with no_broadcast():
            shuffled = ids()
        assert broadcast == shuffled == [1, 3]
