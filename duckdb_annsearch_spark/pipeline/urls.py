"""URL / domain curation for web-crawl corpora: parse, normalize,
registered-domain extraction, URL-level dedup, and per-domain caps.

The standard web-pipeline stages between "raw crawl" and the text
filters: collapse re-crawls of the same page (normalized-URL dedup),
bound any one site's contribution (per-domain caps — the C4/RefinedWeb
anti-SEO-farm measure), and report the domain mix.  No reference twin
(the reference engine has no web notion); the operations are published
practice.

Everything is a pure JVM column expression built from RE2-compatible
regexes and list functions, so the DuckDB oracle reproduces each value
byte-for-byte and the whole stage is map-only at 100 TB (the one
exception: :func:`cap_per_domain` delegates to the presampled
quota-window machinery of pipeline/sample.py).

Normalization contract (deliberately conservative — semantics-preserving
transforms only):

- scheme and host lowercased; userinfo dropped
- fragment dropped
- default ports stripped (http:80, https:443)
- tracking query params dropped (``utm_*``, gclid, fbclid, msclkid)
- remaining query params sorted byte-wise (param order is almost never
  semantic; sorting makes equivalent URLs compare equal)
- empty path becomes ``/``

A string with no ``scheme://`` is not a URL: every parser column returns
NULL for it, and the dedup/cap operators pass such rows through
untouched (never grouped together under a NULL key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ``scheme://`` detector + splitter (RE2-safe: no lookarounds).
_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_REST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$"

# Two-level public suffixes (compact subset of the Mozilla PSL — the
# common country registries; extend as needed).  Sorted tuple so plans
# are stable across runs.
TWO_LEVEL_SUFFIXES = (
    "ac.uk", "co.in", "co.jp", "co.kr", "co.nz", "co.uk", "co.za",
    "com.ar", "com.au", "com.br", "com.cn", "com.mx", "com.sg",
    "com.tr", "gov.uk", "ne.jp", "net.au", "or.jp", "org.au", "org.uk",
)

TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid")

DEFAULT_PORTS = {"http": "80", "https": "443"}


def _nullify_non_url(url: Column, out: Column) -> Column:
    """NULL unless ``url`` starts with ``scheme://``."""
    return F.when(url.rlike(_SCHEME_RE), out)


def url_scheme(url: Column) -> Column:
    return _nullify_non_url(url, F.lower(F.regexp_extract(url, _SCHEME_RE, 1)))


def _authority(url: Column) -> Column:
    """host[:port] with userinfo stripped (everything before the last '@'
    of the authority removed), original case."""
    rest = F.regexp_extract(url, _REST_RE, 1)
    auth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    return F.regexp_extract(auth, r"([^@]*)$", 1)


def url_host(url: Column) -> Column:
    """Lowercased hostname (no port, no userinfo); NULL for non-URLs."""
    return _nullify_non_url(
        url, F.lower(F.regexp_extract(_authority(url), r"^([^:]*)", 1))
    )


def url_port(url: Column) -> Column:
    """Explicit port as a string, '' when absent; NULL for non-URLs."""
    return _nullify_non_url(
        url, F.regexp_extract(_authority(url), r":([0-9]+)$", 1)
    )


def _path_query_fragment(url: Column) -> Column:
    rest = F.regexp_extract(url, _REST_RE, 1)
    auth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    return F.substring(rest, F.length(auth) + 1, F.length(rest))


def url_path(url: Column) -> Column:
    """Path component ('' when absent, case preserved); NULL for non-URLs."""
    return _nullify_non_url(
        url, F.regexp_extract(_path_query_fragment(url), r"^([^?#]*)", 1)
    )


# anchored: the query starts at the FIRST '?' and only if it precedes any
# '#' — an unanchored \? would match a '?' inside the fragment and invent
# a query for 'page#frag?x' shapes
_QUERY_RE = r"^[^?#]*\?([^#]*)"


def url_query(url: Column) -> Column:
    """Raw query string without the '?' ('' when absent); NULL non-URLs."""
    return _nullify_non_url(
        url, F.regexp_extract(_path_query_fragment(url), _QUERY_RE, 1)
    )


def registered_domain(host: Column) -> Column:
    """eTLD+1 of a hostname: the last two labels, or the last three when
    the trailing two are a known two-level public suffix (co.uk and
    friends).  Single-label hosts (localhost, intranet names) pass
    through unchanged; NULL propagates (guarded explicitly — concat_ws
    silently turns NULL parts into '', which would otherwise give every
    non-URL row the same '' domain and group them together)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_two_level = F.lit(False)
    for s in TWO_LEVEL_SUFFIXES:
        is_two_level = is_two_level | (last2 == s)
    return F.when(
        host.isNotNull(),
        F.when(n <= 1, host).otherwise(
            F.when((n >= 3) & is_two_level, last3).otherwise(last2)
        ),
    )


def url_registered_domain(url: Column) -> Column:
    return registered_domain(url_host(url))


def _is_tracking(param: Column) -> Column:
    key = F.regexp_extract(param, r"^([^=]*)", 1)
    cond = F.lit(False)
    for p in TRACKING_PARAM_PREFIXES:
        cond = cond | key.startswith(p)
    for k in TRACKING_PARAMS:
        cond = cond | (key == k)
    return cond


def _norm_query_from_qs(qs: Column) -> Column:
    """Tracking-param removal + byte-wise param sort over a raw query
    string ('' when nothing survives)."""
    params = F.filter(
        F.split(qs, "&"), lambda p: (p != "") & ~_is_tracking(p)
    )
    return F.array_join(F.array_sort(params), "&")


def _norm_from_parts(
    scheme: Column, host: Column, port: Column, path: Column, qs: Column
) -> Column:
    """The ONE implementation of the normalization contract, over
    already-extracted (lowercased) parts — shared by the Column API and
    the staged DataFrame operators so the two can never drift."""
    default_port = F.lit(False)
    for s, p in DEFAULT_PORTS.items():
        default_port = default_port | ((scheme == s) & (port == p))
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    q = _norm_query_from_qs(qs)
    q_part = F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q))
    return F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part)


def normalize_url(url: Column) -> Column:
    """Canonical form per the module contract; NULL for non-URLs.

    Composable Column form — each part re-derives its extraction chain,
    which Catalyst does NOT fully common-subexpression-eliminate
    (measured ~25 µs/row).  The DataFrame operators below stage the
    parts once per row instead (~7x less regex work, measured); use
    :func:`with_normalized_url` when normalizing a whole corpus."""
    return _nullify_non_url(
        url,
        _norm_from_parts(
            url_scheme(url), url_host(url), url_port(url),
            url_path(url), url_query(url),
        ),
    )


# staged temp-column prefix; every _stage_parts consumer drops these
_P = "__url_"


def _stage_parts(df: DataFrame, url_col: str) -> DataFrame:
    """Project the parse ONCE into temp columns (each regex evaluated a
    single time per row — adjacent withColumns collapse into one Project
    where aliased results are reused; the pure-Column form re-evaluates
    the chain per component).  Same regexes as the Column API."""
    u = F.col(url_col)
    return (
        df.withColumn(_P + "ok", u.rlike(_SCHEME_RE))
        .withColumn(_P + "rest", F.regexp_extract(u, _REST_RE, 1))
        .withColumn(
            _P + "scheme", F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
        )
        .withColumn(
            _P + "auth",
            F.regexp_extract(F.col(_P + "rest"), r"^([^/?#]*)", 1),
        )
        .withColumn(
            _P + "hp", F.regexp_extract(F.col(_P + "auth"), r"([^@]*)$", 1)
        )
        .withColumn(
            _P + "host",
            F.lower(F.regexp_extract(F.col(_P + "hp"), r"^([^:]*)", 1)),
        )
        .withColumn(
            _P + "port", F.regexp_extract(F.col(_P + "hp"), r":([0-9]+)$", 1)
        )
        .withColumn(
            _P + "pqf",
            F.substring(
                F.col(_P + "rest"),
                F.length(F.col(_P + "auth")) + 1,
                F.length(F.col(_P + "rest")),
            ),
        )
        .withColumn(
            _P + "path", F.regexp_extract(F.col(_P + "pqf"), r"^([^?#]*)", 1)
        )
        .withColumn(
            _P + "qs", F.regexp_extract(F.col(_P + "pqf"), _QUERY_RE, 1)
        )
    )


def _staged_norm() -> Column:
    """Normalized URL from staged part columns (NULL for non-URLs)."""
    return F.when(
        F.col(_P + "ok"),
        _norm_from_parts(
            F.col(_P + "scheme"), F.col(_P + "host"), F.col(_P + "port"),
            F.col(_P + "path"), F.col(_P + "qs"),
        ),
    )


def _staged_domain() -> Column:
    return F.when(
        F.col(_P + "ok"), registered_domain(F.col(_P + "host"))
    )


def _drop_parts(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in df.columns if c.startswith(_P)])


def with_normalized_url(
    df: DataFrame, url_col: str, out_col: str = "norm_url"
) -> DataFrame:
    """Corpus-scale normalization: adds ``out_col`` (NULL for non-URLs)
    via the staged one-pass parse."""
    return _drop_parts(
        _stage_parts(df, url_col).withColumn(out_col, _staged_norm())
    )


def dedup_by_url(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level exact dedup: keep the lowest-id row per normalized URL
    (re-crawls of one page collapse regardless of tracking params, ports,
    fragments, or param order).  Rows whose ``url_col`` is NULL or not a
    URL each survive on a per-row key — never each other's duplicates —
    and rows with a NULL ``id_col`` bypass the window entirely (all
    survive: without an id there is no deterministic per-row key, and a
    NULL-propagated fallback would collapse them into one partition).
    One hash-partitioned window, the dedup_exact shape."""
    from pyspark.sql import Window

    keyed = df.where(F.col(id_col).isNotNull())
    no_id = df.where(F.col(id_col).isNull())
    staged = _stage_parts(keyed, url_col).withColumn(
        "__key",
        F.coalesce(
            _staged_norm(),
            F.concat(F.lit("__nonurl__"), F.col(id_col).cast("string")),
        ),
    )
    w = Window.partitionBy("__key").orderBy(F.col(id_col).asc())
    out = _drop_parts(
        staged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__key")
    )
    return out.unionByName(no_id)


def domain_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Per-registered-domain corpus report: ``(domain, n_urls,
    n_distinct_urls)`` where distinctness is over the normalized form.
    Non-URL rows are excluded.  One partial-aggregating groupBy."""
    staged = _stage_parts(df, url_col)
    return (
        staged.select(
            _staged_domain().alias("domain"), _staged_norm().alias("__n")
        )
        .where(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("__n").alias("n_distinct_urls"),
        )
    )


def cap_per_domain(
    df: DataFrame,
    url_col: str,
    cap: int,
    id_col: str = "doc_id",
    seed: int = 0,
    safety: float = 8.0,
    verify: bool = True,
) -> DataFrame:
    """At most ``cap`` rows per registered domain, selected as the
    smallest-hash prefix (deterministic AND monotone under corpus growth
    — a kept row is only ever displaced by a new smaller-hash row).
    Non-URL rows pass through untouched.

    Unlike :func:`~duckdb_annsearch_spark.pipeline.sample.quota_sample`
    (strata = languages/sources, few enough to plan on the driver),
    domains number in the MILLIONS at crawl scale, so everything here
    stays distributed: per-domain counts are one aggregate JOINED back
    (never collected), the presample is a map-only
    ``hash < safety*cap/count`` prefix filter keyed per domain, and only
    then does the exact rank window run — over O(safety x cap) rows per
    domain, which also defuses hot-domain skew (an SEO farm with 100M
    pages would otherwise sort 100M rows in ONE window task; after the
    presample that task sees ~safety*cap).

    ``verify=True`` (one aggregate job) checks prefix sufficiency
    exactly — every domain must retain min(cap, count) rows — and raises
    if the safety margin were ever breached (binomial tail at ``safety``
    x the mean; astronomically unlikely at the default 8)."""
    from duckdb_annsearch_spark.pipeline.sample import (
        HASH_SPACE,
        sample_hash,
    )
    from pyspark.sql import Window

    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    tagged = _drop_parts(
        _stage_parts(df, url_col).withColumn("__domain", _staged_domain())
    )
    # NULL-id rows pass through with the non-URL rows: they cannot take a
    # deterministic hash rank, and silently dropping them would violate
    # the only-the-cap-removes-rows contract
    cappable = F.col("__domain").isNotNull() & F.col(id_col).isNotNull()
    urls = tagged.where(cappable)
    rest = tagged.where(~F.coalesce(cappable, F.lit(False))).drop("__domain")
    if cap == 0:
        return rest
    # pin the count table too: it is O(domains) rows but its LINEAGE is
    # the full-corpus parse + groupBy, and both the presample join and
    # the verify branch consume it
    counts = (
        urls.groupBy("__domain")
        .agg(F.count("*").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    h = sample_hash(F.col(id_col), seed)
    # threshold in INTEGER space: a double threshold capped at
    # float(HASH_SPACE) rounds hashes within ~128 of 2^60 up to 2^60 and
    # excludes them even for under-cap domains (a ~2^-53/row loud verify
    # failure, not silent loss — but keep the prefix filter exact).  ceil
    # keeps the retention probability >= safety*cap/cnt after rounding.
    thr = F.least(
        F.lit(int(HASH_SPACE)).cast("long"),
        F.ceil(
            F.lit(float(safety * cap)) * F.lit(float(HASH_SPACE))
            / F.col("__cnt")
        ).cast("long"),
    )
    # pin the presample: it feeds the verify aggregate AND the rank
    # window, and each would otherwise re-run the URL parse + count join
    # over the whole corpus.  The pinned frame is presample-sized
    # (O(domains x safety x cap) rows — the small side by construction),
    # and localCheckpoint blocks are reclaimed when the frame is dropped.
    pre = urls.join(counts, "__domain").where(h < thr).localCheckpoint(
        eager=False
    )
    if verify:
        # left join from the FULL count table: a domain whose presample
        # retained zero rows is absent from `pre` and must still flag
        got = pre.groupBy("__domain").agg(F.count("*").alias("__got"))
        short = (
            counts.join(got, "__domain", "left")
            .where(
                F.coalesce(F.col("__got"), F.lit(0))
                < F.least(F.lit(int(cap)).cast("long"), F.col("__cnt"))
            )
            .count()
        )
        if short:
            raise RuntimeError(
                f"cap_per_domain presample fell short for {short} domains; "
                f"raise safety= (got {safety})"
            )
    w = Window.partitionBy("__domain").orderBy(h, F.col(id_col))
    capped = (
        pre.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(cap))
        .drop("__rn", "__cnt", "__domain")
    )
    return capped.unionByName(rest)
