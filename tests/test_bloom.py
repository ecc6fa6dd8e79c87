"""Distributed Bloom filter (pipeline/bloom.py) and its
exactness-preserving wiring into dedup_against: a Bloom has no false
negatives, so bloom-pruned plans must return IDENTICAL results."""

import contextlib

import numpy as np
import pytest

from duckdb_annsearch_spark.pipeline.bloom import (
    BloomFilter,
    bloom_filter_df,
    bloom_from_df,
)
from duckdb_annsearch_spark.pipeline.dedup import dedup_against


@pytest.fixture()
def bloom_forced(spark):
    """Context manager that turns auto-broadcast off, so
    ``dedup._bloom_worth_it`` engages the Bloom guard whatever the
    reference's size; the old threshold is restored on exit."""
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


def _local_bloom(keys, num_bits, num_hashes):
    bf = BloomFilter(np.zeros(num_bits // 64, np.uint64), num_bits, num_hashes)
    bf.add(np.asarray(keys, dtype=np.int64))
    return bf


class TestBloomCore:
    def test_params_textbook(self):
        m, k = BloomFilter.params(10_000, 0.01)
        assert 90_000 < m < 100_000  # ~9.59 bits/key
        assert k == 7  # round(m/n * ln2)

    def test_no_false_negatives_and_fpp(self):
        rng = np.random.RandomState(3)
        members = rng.randint(-(2**62), 2**62, 20_000).astype(np.int64)
        m, k = BloomFilter.params(len(members), 0.01)
        bf = _local_bloom(members, m, k)
        assert bf.might_contain(members).all()  # the hard guarantee
        others = rng.randint(-(2**62), 2**62, 50_000).astype(np.int64)
        others = others[~np.isin(others, members)]
        fp = bf.might_contain(others).mean()
        assert fp < 0.03, fp  # ~1% target, generous bound

    def test_negative_keys_and_empty(self):
        bf = _local_bloom([-1, -(2**62), 0], 1024, 3)
        assert bf.might_contain(np.asarray([-1, 0], np.int64)).all()
        assert bf.might_contain(np.zeros(0, np.int64)).shape == (0,)


class TestBloomSpark:
    def test_distributed_build_equals_local(self, spark):
        keys = list(range(0, 5000, 3))
        df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(7)
        bf = bloom_from_df(df, "k", expected=len(keys), fpp=0.01)
        local = _local_bloom(keys, bf.num_bits, bf.num_hashes)
        np.testing.assert_array_equal(bf.words, local.words)

    def test_filter_split_is_a_partition(self, spark):
        rows = [(i, i * 17) for i in range(400)] + [(400, None)]
        df = spark.createDataFrame(rows, "id long, k long")
        members = [i * 17 for i in range(0, 400, 4)]
        bf = _local_bloom(members, *BloomFilter.params(len(members), 0.01))
        maybe = bloom_filter_df(df, "k", bf, "maybe").collect()
        nope = bloom_filter_df(df, "k", bf, "definitely_not").collect()
        assert len(maybe) + len(nope) == len(rows)
        assert {r["id"] for r in maybe}.isdisjoint({r["id"] for r in nope})
        # every true member is in 'maybe' (no false negatives end-to-end)
        member_ids = {i for i in range(0, 400, 4)}
        assert member_ids <= {r["id"] for r in maybe}
        # NULL key is never a member
        assert 400 in {r["id"] for r in nope}

    def test_keep_validation(self, spark):
        df = spark.createDataFrame([(1, 2)], "id long, k long")
        bf = _local_bloom([2], 1024, 3)
        with pytest.raises(ValueError, match="maybe"):
            bloom_filter_df(df, "k", bf, "nope")


class TestDedupAgainstBloom:
    @pytest.fixture()
    def corpora(self, spark):
        base = [
            "the quick brown fox jumps over the lazy dog every day",
            "pack my box with five dozen liquor jugs tonight",
            "how vexingly quick daft zebras jump around here",
            "sphinx of black quartz judge my vow again",
        ]
        ref_rows = [(i, base[i % 4] + f" ref tail {i % 7}") for i in range(40)]
        new_rows = (
            [(100 + i, ref_rows[i][1]) for i in range(10)]  # exact dups
            + [(200 + i, f"completely novel document number {i} "
                         f"with distinct words {i * 3} {i * 5}") for i in range(30)]
        )
        ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")
        return new, ref

    @pytest.mark.parametrize("mode", ["exact", "fuzzy"])
    def test_bloom_pruned_equals_plain(self, corpora, bloom_forced, mode):
        new, ref = corpora
        plain = sorted(
            r["doc_id"] for r in dedup_against(new, ref, mode=mode).collect()
        )
        with bloom_forced():
            pruned = sorted(
                r["doc_id"]
                for r in dedup_against(
                    new, ref, mode=mode, ref_bloom_fpp=0.01
                ).collect()
            )
        assert plain == pruned
        assert all(d >= 200 for d in plain)  # exact dups dropped

    def test_null_and_dup_in_one_partition(self, spark, bloom_forced):
        # Regression: a NULL key anywhere in an Arrow batch used to demote
        # the whole batch's key column to float64, corrupting keys > 2^53
        # before might_contain — a true duplicate in the SAME partition as
        # a NULL-text row silently survived the bloom-pruned plan.
        new = spark.createDataFrame(
            [(1, None), (2, "shared text here"), (3, "novel doc")],
            "doc_id long, text string",
        ).coalesce(1)
        ref = spark.createDataFrame(
            [(9, "shared text here")], "doc_id long, text string"
        )
        plain = sorted(
            r["doc_id"] for r in dedup_against(new, ref, mode="exact").collect()
        )
        with bloom_forced():
            pruned = sorted(
                r["doc_id"]
                for r in dedup_against(
                    new, ref, mode="exact", ref_bloom_fpp=0.01
                ).collect()
            )
        assert plain == pruned == [1, 3]  # dup 2 dropped in BOTH plans

    def test_null_and_big_keys_one_partition_filter(self, spark):
        # Direct bloom_filter_df shape of the same regression: NULL +
        # >2^53 keys coalesced into one partition must not false-negative.
        big = [2**62 + 7, 2**60 + 1, 2**53 + 3, -(2**61) - 5]
        rows = [(i, k) for i, k in enumerate(big)] + [(99, None)]
        df = spark.createDataFrame(rows, "id long, k long").coalesce(1)
        bf = _local_bloom(big, *BloomFilter.params(len(big), 0.01))
        maybe = {r["id"] for r in bloom_filter_df(df, "k", bf, "maybe").collect()}
        assert {0, 1, 2, 3} <= maybe  # no false negatives
        nope = {r["id"] for r in bloom_filter_df(df, "k", bf, "definitely_not").collect()}
        assert 99 in nope  # NULL is never a member

    def test_null_and_big_keys_one_partition_build(self, spark):
        # Build side: distributed build over a NULL-bearing single
        # partition must equal the local build over the non-null keys.
        big = [2**62 + 7, 2**60 + 1, 2**53 + 3, -(2**61) - 5]
        df = spark.createDataFrame(
            [(k,) for k in big] + [(None,)], "k long"
        ).coalesce(1)
        bf = bloom_from_df(df, "k", expected=len(big), fpp=0.01)
        local = _local_bloom(big, bf.num_bits, bf.num_hashes)
        np.testing.assert_array_equal(bf.words, local.words)

    def test_null_text_survives_with_bloom(self, spark, bloom_forced):
        new = spark.createDataFrame(
            [(1, None), (2, "shared text here")], "doc_id long, text string"
        )
        ref = spark.createDataFrame(
            [(9, "shared text here")], "doc_id long, text string"
        )
        with bloom_forced():
            out = dedup_against(
                new, ref, mode="exact", ref_bloom_fpp=0.01
            ).collect()
        assert [r["doc_id"] for r in out] == [1]


def test_bloom_test_stage_is_map_side(spark):
    # the membership test must add NO exchange — it's the point of the
    # guard (prune BEFORE the shuffle, not after)
    df = spark.createDataFrame([(i, i * 3) for i in range(100)], "id long, k long")
    bf = _local_bloom([3, 9, 27], 1024, 3)
    out = bloom_filter_df(df, "k", bf, "maybe")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_big_bitmap_build_and_probe(spark):
    # 128 MiB-class bitmap (sized for 1e8 expected keys at 1% fpp): the
    # build must OR-reduce partition bitmaps without driver blow-up and
    # the probe must ride the explicit broadcast.  Inserted keys are a
    # 200k sample — the mechanics under test are bitmap size, not volume.
    num_bits, num_hashes = BloomFilter.params(100_000_000, 0.01)
    assert num_bits // 8 >= 100 * 1024 * 1024  # genuinely >=100 MiB
    n = 200_000
    df = spark.range(n).selectExpr("id * 2654435761 % 9223372036854775783 AS k")
    df = df.coalesce(2)  # 2 partition bitmaps through toLocalIterator
    bf = bloom_from_df(df, "k", expected=100_000_000, fpp=0.01)
    probe = spark.range(n + 1000).selectExpr(
        "id AS id", "id * 2654435761 % 9223372036854775783 AS k"
    ).coalesce(2)
    maybe = bloom_filter_df(probe, "k", bf, "maybe")
    # every inserted key must survive (no false negatives at this size);
    # with m sized for 1e8 and only 201k keys set, false positives are
    # ~zero, so the survivor count is exactly n (the 1000 extras drop)
    assert maybe.count() == n


def test_bloom_guard_skips_broadcastable_ref(spark, bloom_forced):
    # r10: the guard engages only when the guarded join's right side is
    # too big to broadcast (dedup._bloom_worth_it) — at broadcastable
    # sizes the anti-join is already map-side and the Bloom build passes
    # are pure overhead.  A tiny ref must therefore produce a plan with
    # NO Python membership stage unless auto-broadcast is off; survivors
    # are identical either way (pinned by test_bloom_pruned_equals_plain).
    from pyspark.sql import functions as F

    from duckdb_annsearch_spark.pipeline.dedup import dedup_against

    # parquet-backed ref: scan estimates are meaningful there (a Python
    # LocalRelation reports unknown size -> the guard conservatively
    # stays on, by design)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.where(F.col("doc_id") % 3 != 0)
    ref = docs.where(F.col("doc_id") % 3 == 0)
    auto = dedup_against(new, ref, mode="exact", ref_bloom_fpp=0.01)
    assert "MapInPandas" not in auto._jdf.queryExecution().executedPlan().toString()
    with bloom_forced():
        forced = dedup_against(new, ref, mode="exact", ref_bloom_fpp=0.01)
        assert "MapInPandas" in forced._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["doc_id"] for r in auto.collect()) == sorted(
        r["doc_id"] for r in forced.collect()
    )
