"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design: every operator is shuffle-bounded by its keys —
* exact: one groupBy on the content hash (map-side partial agg);
* MinHash/LSH: signatures are per-row expressions (no shuffle), candidate
  pairs come from a self-join on (band, band_hash) buckets — the classic
  shingle→minhash→band→bucket-join pipeline, never all-pairs;
* SimHash: per-row expression;
* n-gram Jaccard: self-join on shared shingles (posting-list join), so cost
  is Σ_shingle df², not n²;
* embedding near-dup: exact all-pairs only for small/broadcastable sides,
  with a random-hyperplane LSH bucket variant as the scale path.

Determinism contract: md5-based hashing (reproducible in the DuckDB oracle),
integer arithmetic mod 2^31-1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_annsearch_spark.operators.fts import tokenize
from duckdb_annsearch_spark.pipeline.fanout import fan_out_small
from duckdb_annsearch_spark.pipeline.text import HASH_MOD, bind, token_hash
from duckdb_annsearch_spark.session import job_label

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function (fixed seed)."""
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, HASH_MOD), rng.randrange(0, HASH_MOD))
        for _ in range(num_hashes)
    ]


def word_grams(text: Column, k: int = 3) -> Column:
    """Positional word k-grams joined by single spaces (one per gram
    START position, multiplicity preserved).

    Built from k-1 ``zip_with`` concats of shifted token arrays — O(k)
    array ops per row instead of one ``slice`` per gram position.  The
    token array is bound once (r9): the shifted slices reference it ~2k
    times, and HOF subtrees are excluded from subexpression elimination,
    so the inline form re-ran the tokenizer's regexp split six times per
    row (visible verbatim in the pre-fix minhash plan)."""

    def _grams(toks: Column) -> Column:
        n = F.size(toks)
        grams = toks
        for j in range(1, k):
            shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
            grams = F.zip_with(grams, shifted, lambda g, t: F.concat_ws(" ", g, t))
        return F.when(n >= k, F.slice(grams, 1, n - (k - 1))).otherwise(F.array())

    return bind(tokenize(text), _grams)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams joined by single spaces."""
    return F.array_distinct(word_grams(text, k))


def _content_key(text_col: str, id_col: str):
    """Dedup grouping key: md5 of the text, except NULL texts — those are
    not equal to each other under SQL semantics, so each gets a per-row
    key and is never treated as anyone's duplicate."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    )


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(content_hash, dup_count, doc_ids) for texts appearing more than
    once. NULL texts are never duplicates of each other."""
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct text (the actual dedup filter).
    NULL-text rows all survive — they are not equal to each other."""
    from pyspark.sql import Window

    w = Window.partitionBy(_content_key(text_col, id_col)).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, minhash ARRAY<BIGINT>[num_hashes]).

    ``sig_i = min over shingles s of (a_i * h(s) + b_i) mod (2^31-1)``;
    empty-shingle docs get sig_i = 2^31-1 sentinel. Pure per-row expression —
    map-only, no shuffle.

    Computed as ONE fold over the shingle array updating all ``num_hashes``
    mins at once, so the (md5-based) shingle hash is evaluated exactly once
    per shingle — per-hash-function projections would be collapsed by
    Catalyst into ``num_hashes`` copies of the whole hash expression."""
    params = _minhash_params(num_hashes)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in params])
    sh = word_shingles(F.col(text_col), shingle_k)
    # materialize integer hashes first: h is a lambda VARIABLE in the fold
    # below, so md5 runs exactly once per shingle
    hashes = F.transform(sh, lambda s: token_hash(s) % HASH_MOD)
    init = F.array_repeat(F.lit(HASH_MOD).cast("long"), num_hashes)
    sig = F.aggregate(
        hashes, init, lambda acc, h: _min_update(acc, h, a_arr, b_arr)
    )
    return df.select(F.col(id_col).alias("doc_id"), sig.alias("minhash"))


def _min_update(acc: Column, h: Column, a_arr: Column, b_arr: Column) -> Column:
    """elementwise min(acc_i, (a_i*h + b_i) mod M) — h evaluated once."""
    return F.zip_with(
        F.zip_with(a_arr, b_arr, lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
        acc,
        lambda ab, m: F.least(m, (ab["a"] * h + ab["b"]) % HASH_MOD),
    )


def band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """``(doc_id, band, band_hash)`` — each document's LSH band bucket
    keys (``bands`` rows per doc; ``band_hash`` is the comma-joined
    signature rows of that band).  The shared banding primitive of
    :func:`lsh_duplicate_pairs` and the streaming near-dedup sink.

    Map-only per row; the signature pipeline is localCheckpointed (not
    ``.persist()`` — checkpoint blocks are reclaimed by the ContextCleaner
    once the DataFrame is dropped) so multi-consumer plans (self-joins,
    bucket-min aggregates) run it once.  ``eager=False`` defers only the
    signature stage itself: under AQE the call runs every shuffle stage
    upstream of it (e.g. the fan-out exchange) right away."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # fan the md5-per-shingle signature pass across cores when the input
    # is small (no-op at scale — pipeline/fanout.py); the checkpoint then
    # materializes in parallel too
    sigs = minhash_signatures(
        fan_out_small(df), text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col("minhash")[i].cast("string")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_duplicate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-duplicate pairs: docs sharing at least
    one LSH band. Band hash join — shuffle keyed on (band, values), never
    all-pairs.

    ``max_bucket`` is the scale knob: a bucket of d docs emits d² join
    rows, and degenerate content (empty/boilerplate texts hashing to one
    signature) makes d huge. Buckets larger than ``max_bucket`` are dropped
    before the self-join. CAVEAT: byte-identical texts collide in EVERY
    band, so a big identical cluster loses all its buckets and emits no
    pairs — collapse exact duplicates first (``dedup_fuzzy`` does this
    pre-pass automatically). Near-identical (but not identical) members
    still pair through their unaffected bands. Default None keeps every
    bucket (the oracle-checked mode)."""
    banded = band_buckets(df, text_col, id_col, num_hashes, bands, shingle_k)
    if max_bucket is not None:
        keep = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("sz"))
            .where(F.col("sz") <= int(max_bucket))
            .select("band", "band_hash")
        )
        banded = banded.join(keep, ["band", "band_hash"])
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """(doc_id, simhash BIGINT): sign of per-bit weighted token-hash sums.

    The token-hash array is materialized through a projection boundary so
    tokenize+md5 run ONCE per row — higher-order functions are excluded
    from Catalyst subexpression elimination, and inlining the array into
    ``bits`` aggregate subtrees would re-hash every token ``bits`` times.
    Hashes are the full 60-bit ``token_hash`` (no ``% 2^31-1`` reduction,
    which would pin bit 31 to zero and halve the top band's entropy), so
    ``bits`` runs from 1 to 60: wider signatures carry no signal."""
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits={bits} must be in 1..60 (token_hash is 60-bit)")
    hashes = F.transform(tokenize(F.col(text_col)), lambda t: token_hash(t))
    staged = df.select(F.col(id_col).alias("doc_id"), hashes.alias("__hs"))
    hs = F.col("__hs")
    bit_sum = lambda b: F.aggregate(  # noqa: E731
        hs,
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )
    value = F.aggregate(
        F.array(
            *[
                F.when(bit_sum(b) > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
                for b in range(bits)
            ]
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return staged.select("doc_id", value.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs whose simhash differs in at most
    ``max_hamming`` bits.  Candidate generation by band equality (pigeonhole:
    any pair within ``bands - 1`` differing bands shares at least one of the
    ``bands`` bit-blocks, so ``max_hamming < bands`` guarantees no missed
    pairs), then exact popcount verify — never all-pairs."""
    assert bits % bands == 0
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got bands={bands}) for the pigeonhole recall guarantee"
        )
    block = bits // bands
    # lazy localCheckpoint, not .persist(): see lsh_candidate_pairs
    sigs = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * block).bitwiseAND(
                        F.lit((1 << block) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "block"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham,
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard >=
    threshold. Posting-list self-join: cost Σ_shingle df², not n².

    ``max_df`` is the scale knob: a shingle occurring in d documents
    contributes d² join rows, so one boilerplate phrase shared by 10⁶ docs
    is a 10¹² blow-up. With ``max_df`` set, shingles with document
    frequency above it are removed from the universe *before* the join —
    jaccard is then computed over the remaining (discriminative) shingles
    for both intersection and union, the standard stop-shingle semantics.
    Default None keeps exact full-universe jaccard (the oracle-checked
    mode)."""
    # barrier: the shingle arrays feed three consumers (sizes + both join
    # sides); recomputing the gram expression per consumer dominates cost.
    # Lazy localCheckpoint, not .persist(): see lsh_candidate_pairs.
    # fan_out_small: parallelize the md5 shingle pass off a single-split
    # scan (no-op at scale)
    sh = fan_out_small(df).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).localCheckpoint(eager=False)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    # join on an 8-byte hash of the shingle, not the string itself — the
    # posting-list shuffle moves fixed-width keys (collision odds ~2^-64
    # only perturb the candidate count, which the exact jaccard filter
    # re-checks via set sizes)
    # the postings relation feeds BOTH self-join sides (and one side is
    # typically broadcast, so no exchange reuse is possible) — checkpoint
    # it so the explode+hash pass over the cached shingle arrays runs
    # once, not once per side (r10; the r9 plan scanned the shingle
    # checkpoint four times and re-ran Generate twice)
    exploded = sh.select(
        "doc_id", F.explode("sh").alias("s")
    ).select("doc_id", F.xxhash64("s").alias("shingle")).localCheckpoint(
        eager=False
    )
    if max_df is not None:
        keep = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= int(max_df))
            .select("shingle")
        )
        exploded = exploded.join(keep, "shingle").localCheckpoint(eager=False)
        # sizes over the filtered universe so union matches intersection;
        # docs whose every shingle was ubiquitous drop out entirely
        sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _cos_double(a: Column, b: Column) -> Column:
    """Cosine similarity in double with deterministic left-fold order —
    reproducible by the DuckDB oracle's list_* fold."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    # clamp: 0/0 is NaN and Spark sorts NaN ABOVE every number, so an
    # unclamped zero-norm vector would pass any `cos >= t` filter
    return dot / F.greatest(na * nb, F.lit(1e-300))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    max_exact_rows: int | None = 200_000,
    **lsh_params,
) -> DataFrame:
    """(id_a, id_b, cos) exact all-pairs above a cosine threshold.

    Two stages: (1) candidate generation — each task GEMMs its partition of
    rows against the full matrix (driver-collected once, broadcast) with a
    float-error margin, emitting only ids; (2) exact verify — candidates
    join their vectors back and the deterministic double left-fold cosine
    (oracle-reproducible) applies the threshold.  All-vs-all is inherently
    O(n²) flops, but the flops run as numpy GEMM distributed across input
    partitions instead of per-pair codegen folds.

    The driver-side collect+broadcast caps this at inputs that fit driver /
    executor RAM: above ``max_exact_rows`` the call routes to the bucketed
    :func:`embedding_neardup_pairs_lsh` scale path automatically (recall
    < 1, tunable via ``lsh_params``: ``n_planes``, ``n_bands``, ``seed``).
    Pass ``max_exact_rows=None`` to force the exact path."""
    import numpy as np
    import pandas as pd

    if max_exact_rows is not None and df.count() > max_exact_rows:
        return embedding_neardup_pairs_lsh(
            df, vec_col, id_col, threshold, **lsh_params
        )
    rows = df.select(F.col(id_col), F.col(vec_col)).collect()
    all_ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms = np.maximum(norms, 1e-300)
    bc = df.sparkSession.sparkContext.broadcast((all_ids, mat, norms))
    margin = float(threshold) - 1e-6

    def candidates(batches):
        ids_b, mat_b, norms_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_a = pdf[id_col].to_numpy().astype(np.int64)
            a = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cos = (a @ mat_b.T) / np.maximum(np.linalg.norm(a, axis=1), 1e-300)[:, None] / norms_b[None, :]
            ii, jj = np.nonzero((cos >= margin) & (ids_a[:, None] < ids_b[None, :]))
            if len(ii):
                yield pd.DataFrame({"id_a": ids_a[ii], "id_b": ids_b[jj]})

    cand = df.select(id_col, vec_col).mapInPandas(candidates, "id_a long, id_b long")
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = F.round(_cos_double(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _hyperplane_sigs(vec: Column, planes) -> list[Column]:
    """One '0'/'1'-string signature Column per band of hyperplanes.

    The projection is the deterministic double left fold (zip_with +
    aggregate) so a SQL oracle can reproduce the exact same sign with a
    sequential double sum — the sign test only goes wrong if a projection
    lands within float-noise of 0, measure-zero for continuous data."""
    n_bands, n_planes, _dim = planes.shape
    return [
        F.concat_ws(
            "",
            *[
                F.when(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.array(*[F.lit(float(x)) for x in planes[b, p]]),
                            lambda x, y: x * y,
                        ),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                    >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0"))
                for p in range(n_planes)
            ],
        )
        for b in range(n_bands)
    ]


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Scale path: banded random-hyperplane LSH -> per-band bucket join ->
    exact cosine verify over the distinct candidate set.

    Standard band-OR construction: ``n_bands`` independent signatures of
    ``n_planes`` hyperplanes each; two rows are candidates if ANY band
    agrees on all its plane signs, so candidate probability is
    ``1 - (1 - p^r)^b`` with ``p = 1 - angle/pi`` — recall tunable toward 1
    by adding bands without growing any bucket.  Each band join is an
    equi-join shuffle on (band, bucket), never all-pairs; the exact verify
    joins vectors back onto the deduplicated id pairs only."""
    import numpy as np

    if dim is None:
        first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if first is None:
            # no usable vectors -> no pairs, with the usual output schema
            idt = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [], f"id_a {idt}, id_b {idt}, cos double"
            )
        dim = len(first[0])
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_bands, n_planes, dim).astype("float32")
    sigs = _hyperplane_sigs(F.col(vec_col), planes)
    tagged = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*sigs)).alias("band", "bucket"),
    )
    a = tagged.select(F.col("id").alias("id_a"), "band", "bucket")
    b = tagged.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = F.round(_cos_double(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def verify_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact shingle-Jaccard verification of an (a, b) candidate-pair set —
    the second stage of the MinHash pipeline. Joins each side's shingle
    array onto the pairs and computes intersection/union per pair, so cost
    is O(|pairs| · shingles-per-doc), never a posting-list blow-up.

    The shingle relation feeds BOTH join sides — localCheckpointed so the
    md5 shingle pass runs once, not once per side (the band_buckets
    reasoning: the call itself runs the upstream shuffle stages), and
    fanned out of small inputs (no-op at scale)."""
    sh = (
        fan_out_small(df)
        .select(
            F.col(id_col).alias("__vid"),
            word_shingles(F.col(text_col), shingle_k).alias("__sh"),
        )
        .localCheckpoint(eager=False)
    )
    out = (
        pairs.select(a_col, b_col)
        .join(sh.select(F.col("__vid").alias(a_col), F.col("__sh").alias("__sa")), a_col)
        .join(sh.select(F.col("__vid").alias(b_col), F.col("__sh").alias("__sb")), b_col)
        .withColumn("__i", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("__u", F.size(F.array_union("__sa", "__sb")))
        .withColumn(
            "jaccard",
            F.round(F.col("__i") / F.greatest(F.col("__u"), F.lit(1)), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )
    return out


def duplicate_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
    max_driver_edges: int | None = 200_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph:
    ``(id_col, cluster)`` with cluster = min id reachable from the node.

    Min-label propagation with pointer jumping: every round each node takes
    the minimum label among itself and its neighbors (one hop), then jumps
    to its current root's label (path halving) — so convergence is
    O(log diameter) rounds, not O(diameter). One shuffle join +
    aggregation per round; lineage is cut per round with
    ``localCheckpoint`` so the plan stays flat. Driver holds only the
    changed-row *count* per round, never data. Raises if the loop exits
    without converging — silently-partial components would under-dedup.

    Small-edge-set fast path (the same cap+route shape as the embedding
    near-dup operator): when the verified pair graph has at most
    ``max_driver_edges`` edges — the count the loop's first round would
    materialize anyway — the components come from one driver-side
    union-find over just the edge list (NOT the id table, which stays
    distributed and picks up labels via a broadcast join). At training-data
    scale the verified-duplicate graph is orders of magnitude smaller than
    the corpus; above the cap the distributed rounds run unchanged.
    ``max_driver_edges=None`` forces the distributed loop.

    Determinism contract (ADVICE r9): ``pairs`` must be a deterministic
    relation of its inputs (every in-repo producer is — md5/xxhash64
    keyed joins, no sampling).  The edge checkpoint below freezes ONE
    execution only at first materialization; if a caller ever passes a
    nondeterministic pair source, the ``take``-based fast-path gate and
    the distributed loop could observe different edge sets — pass
    ``max_driver_edges=None`` for such sources.  The gate measures
    id-filtered edges (edges whose endpoints exist in ``ids``), which is
    exactly the set the loop itself would propagate over."""
    # eager=False (r9): eager=True added a dedicated job for the last
    # (post-distinct) stage; deferred, that stage runs inside the gate's
    # take and the loop rounds (the multi-consumer case) reuse the same
    # blocks.  The call itself still runs every shuffle stage of the pair
    # plan: AQE materializes them to plan the checkpointed RDD.
    sc = ids.sparkSession.sparkContext
    with job_label(sc, "duplicate_clusters: edges"):
        edges = (
            pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
            .distinct()
            .localCheckpoint(eager=False)
        )
    rows = None
    if max_driver_edges is not None:
        # match the distributed loop exactly: labels exist only for ids, so
        # edges touching out-of-ids endpoints never propagate there — drop
        # them here too (pairs from a wider corpus than ids is a legal call)
        idsr = ids.select(F.col(id_col).alias("__id"))
        edges_in = (
            edges.join(idsr.withColumnRenamed("__id", "src"), "src", "left_semi")
            .join(idsr.withColumnRenamed("__id", "dst"), "dst", "left_semi")
        )
        # ONE capped take replaces the count-gate job + the collect job:
        # at most cap+1 rows ever reach the driver, and > cap falls through
        # to the distributed loop untouched.  Its jobs are AQE stage
        # materializations, not a CollectLimit ramp: the edge checkpoint's
        # last stage plus the stages of the two id semi-joins — fewer when
        # ``ids`` broadcasts than when it shuffles (each execution re-runs
        # a shuffled side's stages).
        with job_label(sc, "duplicate_clusters: cluster gate"):
            rows = edges_in.take(int(max_driver_edges) + 1)
        if len(rows) > int(max_driver_edges):
            rows = None
    if rows is not None:
        parent: dict = {}

        def find(u):
            r = u
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(u, u) != r:  # path compression
                parent[u], u = r, parent[u]
            return r

        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        mapping = [(u, find(u)) for u in list(parent)]
        ids_out = ids.select(F.col(id_col).alias("id"))
        if not mapping:
            return ids_out.select(
                F.col("id").alias(id_col), F.col("id").alias("cluster")
            )
        mdf = ids.sparkSession.createDataFrame(mapping, ["id", "__root"])
        return (
            ids_out.join(F.broadcast(mdf), "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("__root", F.col("id")).alias("cluster"),
            )
        )
    with job_label(sc, "duplicate_clusters: labels"):
        labels = ids.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("cluster")
        ).localCheckpoint()
    converged = False
    for it in range(max_iterations):
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        hop = labels.join(nbr, labels.id == nbr.src, "left").select(
            "id",
            F.least(
                F.col("cluster"), F.coalesce("nbr_cluster", F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jump: adopt the label of my current root (labels are node
        # ids, so the root's row always exists); halves path lengths every
        # round — including round 0, where the neighbor-min step has already
        # moved some labels
        roots = hop.select(
            F.col("id").alias("cluster"), F.col("cluster").alias("root_cluster")
        )
        hop = hop.join(roots, "cluster", "left").select(
            "id",
            F.least(
                F.col("cluster"),
                F.coalesce("root_cluster", F.col("cluster")),
            ).alias("cluster"),
        )
        with job_label(sc, f"duplicate_clusters: round {it}"):
            new = hop.localCheckpoint()
            changed = (
                new.withColumnRenamed("cluster", "new_cluster")
                .join(labels, "id")
                .where(F.col("new_cluster") != F.col("cluster"))
                .count()
            )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} rounds"
        )
    return labels.withColumnRenamed("id", id_col)


def dedup_fuzzy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The full near-duplicate pipeline a training-data run needs:
    shingle → MinHash → LSH candidate pairs → exact-Jaccard verify →
    connected components → keep the minimum id per cluster.

    Returns every input row as ``(id_col, cluster, keep)``; filter
    ``keep`` for the deduplicated corpus. All stages are the bounded-
    shuffle operators above, so the pipeline scales with Σ bucket² of the
    LSH stage (capped by ``max_bucket``), not n².

    Byte-identical texts are collapsed by an exact hash pre-pass *before*
    the LSH stages: one groupBy, no pairs, and the signature pipeline runs
    on unique texts only. This is both the dominant real-world case done
    cheaply and what makes ``max_bucket`` safe — identical docs share
    every band, so without the pre-pass a large identical cluster would
    lose all its buckets to the cap and escape dedup entirely."""
    # NULL-safe key: md5(NULL) is NULL and equi-joins drop NULL keys, which
    # would silently delete NULL-text rows from the output; give each such
    # row its own key so it survives as its own singleton cluster
    from pyspark.sql import Window

    sc = df.sparkSession.sparkContext
    hexp = _content_key(text_col, id_col).alias("__h")
    # per-group min via ONE window over the content-hash exchange (r9: the
    # groupBy + join-back shape exchanged the id/hash relation twice);
    # checkpointed because mapping feeds both the unique-text filter and
    # the final cluster join — without it the md5 pass runs twice.  The
    # call runs the content-hash exchange at once (AQE); the window stage
    # itself materializes in the first action that reads it.
    with job_label(sc, "dedup_fuzzy: mapping"):
        mapping = (
            df.select(F.col(id_col), hexp)
            .withColumn("__rep", F.min(id_col).over(Window.partitionBy("__h")))
            .select(id_col, "__rep")
            .localCheckpoint(eager=False)
        )
    # a semi-join: the right side only filters df to representative ids.
    # As an inner join the optimizer estimates this input at the product
    # of both sides (GBs for a few hundred KB), which declines fan_out_small
    # and stops the join from broadcasting
    uniq = df.join(
        mapping.where(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    with job_label(sc, "dedup_fuzzy: signatures"):
        cand = lsh_duplicate_pairs(
            uniq, text_col, id_col, num_hashes, bands, shingle_k, max_bucket
        )
    with job_label(sc, "dedup_fuzzy: verify shingles"):
        verified = verify_jaccard_pairs(
            uniq, cand, text_col, id_col, threshold, shingle_k
        )
    # components over representatives; reps are per-group min ids, so the
    # component min over reps equals the component min over all members
    clusters = duplicate_clusters(uniq.select(id_col), verified, id_col)
    return (
        mapping.join(clusters.withColumnRenamed(id_col, "__rep"), "__rep")
        .select(
            id_col,
            "cluster",
            (F.col(id_col) == F.col("cluster")).alias("keep"),
        )
    )


def dedup_against(
    df: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "fuzzy",
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """CROSS-corpus deduplication: drop from ``df`` every document already
    present in ``ref`` (the 'dedupe the new crawl against the existing
    corpus' stage — ``ref`` itself is never modified, and duplicates
    *within* ``df`` are deliberately left alone; run :func:`dedup_fuzzy`
    for that).  Both inputs need ``text_col`` and ``id_col``.

    ``mode='exact'``: byte-identical texts — one distinct-project of the
    reference corpus's md5 keys + a left-anti join; NULL texts are never
    duplicates (per-row key, SQL NULL semantics).

    ``mode='fuzzy'``: an exact md5 pre-pass first (byte-identical docs
    are dropped outright — one distinct-project + anti-join, and the
    reason ``max_bucket`` is safe, see below), then MinHash-LSH
    candidates (a df↔ref band-bucket equi-join — never all-pairs)
    verified by exact shingle-Jaccard >= ``threshold``.  ``max_bucket``
    caps degenerate REFERENCE buckets (boilerplate content shared by
    thousands of ref docs): byte-identical matches to such content are
    already gone via the pre-pass — without it a doc identical to
    over-cap boilerplate would lose EVERY band to the cap and escape —
    so the cap can only miss *near*-(not exact-)duplicates of
    heavily-duplicated reference content, the standard recall trade of
    bucket capping.  Shingle-less docs (< shingle_k words) carry
    sentinel signatures and are excluded on both sides, matching the
    batch family's 'empty docs are never duplicates' contract.

    Scale shape: two map-only signature passes + one equi-join keyed on
    (band, band_hash) + one verify join over candidates + one left-anti
    join back — every stage bounded by bucket sizes, nothing driver-side."""
    if mode == "exact":
        ref_keys = (
            ref.where(F.col(text_col).isNotNull())
            .select(F.md5(F.col(text_col)).alias("__k"))
            .distinct()
        )
        return df.join(
            ref_keys,
            _content_key(text_col, id_col) == F.col("__k"),
            "left_anti",
        )
    if mode != "fuzzy":
        raise ValueError(f"unknown dedup_against mode {mode!r}")

    # exact pre-pass (see docstring: what makes max_bucket safe)
    df = dedup_against(df, ref, text_col, id_col, mode="exact")

    sc = df.sparkSession.sparkContext
    nonempty = F.size(word_shingles(F.col(text_col), shingle_k)) > 0
    with job_label(sc, "dedup_against: signatures"):
        left = band_buckets(
            df.where(nonempty), text_col, id_col, num_hashes, bands, shingle_k
        )
        right = band_buckets(
            ref.where(nonempty), text_col, id_col, num_hashes, bands, shingle_k
        ).withColumnRenamed("doc_id", "ref_id")
    if max_bucket is not None:
        keep = (
            right.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__sz"))
            .where(F.col("__sz") <= int(max_bucket))
            .select("band", "band_hash")
        )
        right = right.join(keep, ["band", "band_hash"])
    cand = (
        left.join(right, ["band", "band_hash"])
        .select("doc_id", "ref_id")
        .distinct()
    )
    # exact cross-corpus Jaccard verify: shingles of each side joined on
    # the candidate pair (cost O(|cand| * shingles/doc)); fan_out_small
    # parallelizes the shingle recompute off small inputs (no-op at scale)
    sh_l = fan_out_small(df).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_k).alias("__sa"),
    )
    sh_r = fan_out_small(ref).select(
        F.col(id_col).alias("ref_id"),
        word_shingles(F.col(text_col), shingle_k).alias("__sb"),
    )
    dup_ids = (
        cand.join(sh_l, "doc_id")
        .join(sh_r, "ref_id")
        .withColumn("__i", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("__u", F.size(F.array_union("__sa", "__sb")))
        .where(
            F.round(F.col("__i") / F.greatest(F.col("__u"), F.lit(1)), 6)
            >= threshold
        )
        .select("doc_id")
        .distinct()
    )
    return df.join(
        dup_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    eps: float = 0.95,
    n_clusters: int = 64,
    sample_rows: int = 25_000,
    seed: int = 42,
    max_cluster_rows: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then prune near-duplicates WITHIN each cluster — the
    all-pairs O(n²) similarity work drops to O(Σ n_c²) with cross-cluster
    pairs deliberately ignored (the paper's trade: true near-dups embed
    close together, so they co-cluster).

    Returns ``(id_col, cluster, keep)`` for every input row with a
    non-NULL vector (a NULL vector cannot be compared, so those rows are
    excluded from the result — filter them beforehand if they must
    survive).
    ``keep = False`` iff some SAME-CLUSTER member with a smaller id has
    rounded cosine >= eps — the paper's upper-triangle rule (no transitive
    chaining: b is judged against every smaller-id a, whether or not a
    itself survived).  ``n_clusters=1`` degenerates to exact global
    pruning — the brute-force-oracle shape used by the driver row.

    Mechanics: centroids train driver-side on a deterministic stride
    sample (Lloyd's, fixed seed — ``index/ivf.py::_train_kmeans`` on
    L2-normalized vectors, so L2-argmin == cosine-argmax); assignment is a
    distributed broadcast-GEMM ``mapInPandas``; within-cluster candidate
    pairs come from a per-cluster chunked GEMM (``applyInPandas``, float
    margin below eps) and are then verified with the deterministic
    double left-fold cosine (``_cos_double``, rounded to 6) so the final
    keep decision is oracle-reproducible — the same two-stage
    candidates → exact-verify shape as :func:`embedding_neardup_pairs`.
    Clusters above ``max_cluster_rows`` raise with advice (raise
    ``n_clusters``) rather than risking an executor OOM."""
    import numpy as np
    import pandas as pd

    if not 0.0 < eps <= 1.0:
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias("__v")
    ).where(F.col("__v").isNotNull())

    if n_clusters <= 1:
        assigned = base.withColumn("cluster", F.lit(0))
    else:
        # hash-based positional sample (NOT id-value stride — sparse or
        # non-dense ids would match nothing), deterministic via the same
        # md5 key hash the sampling module uses; ordered limit bounds it
        from duckdb_annsearch_spark.pipeline.sample import hash_sample

        n = base.count()
        rate = min(1.0, 2.0 * sample_rows / max(n, 1))
        sample = (
            hash_sample(base, rate, key_col=id_col)
            .orderBy(id_col)
            .limit(sample_rows)
            .collect()
        )
        if not sample:  # n == 0, or an astronomically unlucky hash draw
            raise ValueError("semantic_dedup: no rows with a non-NULL vector")
        mat = np.asarray([r["__v"] for r in sample], dtype=np.float32)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        from duckdb_annsearch_spark.index.ivf import _train_kmeans

        cents = _train_kmeans(mat, n_clusters, "l2", seed=seed)
        bc = spark.sparkContext.broadcast(cents)

        def assign(batches):
            # closure stays numpy-only (no package import): pipeline
            # operators work without an engine to ship the package to
            # executors, unlike index/ paths which run ensure_shipped
            c = bc.value.astype(np.float32)
            c_sq = (c.astype(np.float64) ** 2).sum(axis=1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.asarray(
                    [np.asarray(x, dtype=np.float32) for x in pdf["__v"]]
                )
                vn = v / np.maximum(
                    np.linalg.norm(v, axis=1, keepdims=True), 1e-30
                )
                # L2 argmin against the trained centroids — the SAME rule
                # training used (centroids are Lloyd means, NOT unit norm,
                # so a dot-product argmax would favor large-norm centroids
                # and disagree with the trained cells at the boundaries);
                # ||v||² is constant per row, so argmin(||c||² - 2 c·v)
                d = c_sq[:, None] - 2.0 * (c.astype(np.float64) @ vn.astype(np.float64).T)
                pdf = pdf.copy()
                pdf["cluster"] = np.argmin(d, axis=0).astype(np.int32)
                yield pdf

        assigned = base.mapInPandas(
            assign, f"{id_col} long, __v {df.schema[vec_col].dataType.simpleString()}, cluster int"
        )

    # three consumers (size guard, candidate pairs, final keep join):
    # checkpoint so the assignment GEMM runs once, not three times
    # (lazy localCheckpoint, GC-reclaimed — see lsh_candidate_pairs)
    assigned = assigned.localCheckpoint(eager=False)
    sizes = assigned.groupBy("cluster").count().collect()
    over = [(r[0], r[1]) for r in sizes if r[1] > max_cluster_rows]
    if over:
        raise RuntimeError(
            f"semantic_dedup cluster(s) exceed max_cluster_rows="
            f"{max_cluster_rows}: {over[:5]}; raise n_clusters (got "
            f"{n_clusters}) so per-cluster pair work stays bounded"
        )

    margin = float(eps) - 1e-6

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy().astype(np.int64)
        v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
        vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
        out_a, out_b = [], []
        # chunked GEMM: block vs all earlier rows (+ intra-block triangle)
        # bounds memory at chunk x n_c instead of n_c x n_c
        chunk = 1024
        for s in range(0, len(ids), chunk):
            blk = vn[s : s + chunk]
            sims = blk @ vn[: s + len(blk)].T  # (b, s+b)
            ii, jj = np.nonzero(sims >= margin)
            keep_mask = jj < (s + ii)  # strictly-earlier rows only
            gi, gj = s + ii[keep_mask], jj[keep_mask]
            out_a.append(ids[gj])  # smaller id
            out_b.append(ids[gi])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    cand = assigned.select("cluster", id_col, "__v").groupBy("cluster").applyInPandas(
        cluster_pairs, "id_a long, id_b long"
    )
    va = base.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"))
    losers = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(F.round(_cos_double(F.col("va"), F.col("vb")), 6) >= eps)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(losers.withColumn("__lost", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("__lost"), F.lit(True)).alias("keep"),
        )
    )


def dup_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the ExactSubstr-style
    signal of Lee et al. 2021 (arXiv:2107.06499, "Deduplicating Training
    Data Makes Language Models Better"): what share of a document's word
    ``k``-grams also occur in at least one OTHER document.  Quality
    filters threshold this (high dup_frac = templated / syndicated /
    boilerplate-heavy text) where whole-doc dedup sees nothing.

    Emits ``(id_col, n_grams, n_dup_grams, dup_frac)``; positions count
    with multiplicity, so a gram repeated inside one document inflates
    neither count unless some other document also has it (duplication is
    cross-document by definition — df counts distinct docs).

    Scale shape: grams explode map-only, then ONE partial-aggregating
    groupBy on the 60-bit gram hash (16 bytes/row into the shuffle, not
    the gram text), a left join of positions against the df>=2 hash set,
    and a per-doc aggregate.  Same cost class as line-level dedup.

    ``hash_fn``: ``'md5'`` (default) is reproducible in the DuckDB oracle;
    ``'xx'`` swaps in JVM-native xxhash64 — same semantics (any consistent
    64-bit hash works; collisions equally negligible).  Measured at 1M
    docs x 100 tokens (~93M grams) the end-to-end difference is within
    run variance: the gram explode + 16-byte shuffle dominates, not the
    hash.  Prefer 'xx' only where profiling actually shows md5 hot.
    """
    if hash_fn == "md5":
        ghash = token_hash(F.col("_gram"))
    elif hash_fn == "xx":
        ghash = F.xxhash64(F.col("_gram"))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xx', got {hash_fn!r}")
    # fan_out_small: parallelize the gram build off a single-split scan
    # (no-op at scale); the explode feeds the _gh shuffle anyway
    grams = fan_out_small(df).select(
        F.col(id_col),
        F.explode(word_grams(F.col(text_col), k)).alias("_gram"),
    ).select(F.col(id_col), ghash.alias("_gh"))
    dup = (
        grams.groupBy("_gh")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= 2)
        .select("_gh", F.lit(1).alias("_dup"))
    )
    per_doc = (
        grams.join(dup, "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_grams"),
        )
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double"),
                6,
            )
            + F.lit(0.0),
        ).alias("dup_frac"),
    )
