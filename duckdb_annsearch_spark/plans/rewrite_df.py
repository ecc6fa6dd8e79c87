"""Analyzed-plan pattern matching: the transparent top-k rewrite for the
*DataFrame* API.

``plans/rewrite.py`` covers ``engine.sql`` strings (parsed, unresolved
plans, where distance calls are still named functions). A drop-in user of
the DataFrame API writes::

    df.orderBy(array_distance("embedding", q)).limit(10)

and by analysis time the distance call has inlined into its Catalyst
expansion (``aggregate(zip_with(...))`` — functions/distance.py), so name
matching is impossible. This module matches the reference's rewrite shape
(``/root/reference/src/ann_optimizer.cpp:348-530``) on the ANALYZED plan:

    GlobalLimit(k)
      LocalLimit(k)
        Sort([single sort key])
          [identity Project / SubqueryAlias / (Filter -> refuse)]*
            a registered engine table's plan (sameResult)

and verifies the sort key IS one of our distance builders by extracting the
(column attribute, literal query vector) candidates and comparing the key
against freshly-built expressions via ``semanticEquals`` (falling back to
an exprId-normalized canonical-string compare when the user's frame reads
the same data through different attribute ids).

Direction semantics differ from the SQL path on purpose: a DataFrame has
literal Spark semantics, so only orderings an index can serve *faithfully*
are matched — sqrt-L2 / squared-L2 ascending, raw inner product
descending, negated-IP (metric_distance ip) ascending. Cosine never
rewrites (no cosine index — ``ann_optimizer.cpp:237-258``).

Everything here reads plans through py4j; nothing executes.
"""

from __future__ import annotations

import re

from duckdb_annsearch_spark.plans.rewrite import (
    TopKMatch,
    _children,
    _cls,
    _literal_int,
)

# fn key -> (builder id, metric, required sort direction)
_DF_MATCHERS = [
    ("array_distance", "l2", "Ascending"),
    ("metric_distance:l2", "l2", "Ascending"),
    ("array_inner_product", "ip", "Descending"),
    ("metric_distance:ip", "ip", "Ascending"),
]


def _walk_exprs(expr):
    yield expr
    for c in _children(expr):
        yield from _walk_exprs(c)


def _extract_candidates(expr) -> tuple[str | None, list[float] | None]:
    """(attribute name, literal vector) found anywhere under ``expr`` —
    the raw material for probe verification. Exactly one of each or the
    match is ambiguous."""
    col = None
    vec = None
    n_attrs = 0
    for e in _walk_exprs(expr):
        c = _cls(e)
        if c == "AttributeReference":
            n_attrs += 1
            col = str(e.name())
        elif c == "CreateArray" and vec is None:
            vals = []
            for a in _children(e):
                if _cls(a) != "Literal":
                    vals = None
                    break
                try:
                    vals.append(float(str(a.value())))
                except (TypeError, ValueError):
                    vals = None
                    break
            if vals:
                vec = vals
    if n_attrs != 1:
        return None, None
    return col, vec


_EXPRID = re.compile(r"#\d+")


def _attr_identities(expr) -> list[tuple[str, str]]:
    """(name, dataType) of every AttributeReference under ``expr``."""
    out = []
    for e in _walk_exprs(expr):
        if _cls(e) == "AttributeReference":
            try:
                out.append((str(e.name()), str(e.dataType())))
            except Exception:
                out.append((str(e.name()), "?"))
    return out


def _same_expr(a, b) -> bool:
    if a.semanticEquals(b):
        return True
    # Same data read through different attribute ids (user re-read the
    # parquet path instead of using engine.table().df): compare the
    # canonicalized trees with exprIds normalized away.  Catalyst
    # canonicalization ALSO drops attribute names, so the string compare
    # alone carries no attribute identity — it is sound only while each
    # tree holds exactly one AttributeReference and that attribute's
    # name/type match (``_extract_candidates`` enforces the single-attr
    # shape upstream; we re-check it here so a future caller can't
    # silently weaken this into matching across different columns).
    ia, ib = _attr_identities(a), _attr_identities(b)
    if len(ia) != 1 or len(ib) != 1 or ia[0] != ib[0]:
        return False
    sa = _EXPRID.sub("#x", a.canonicalized().toString())
    sb = _EXPRID.sub("#x", b.canonicalized().toString())
    return sa == sb


def _build_probe(fn_key: str, col, vec_expr):
    from duckdb_annsearch_spark.functions import distance as dfns

    if fn_key == "array_distance":
        return dfns.array_distance(col, vec_expr)
    if fn_key == "array_inner_product":
        return dfns.array_inner_product(col, vec_expr)
    if fn_key == "metric_distance:l2":
        return dfns.metric_distance(col, vec_expr, "l2")
    if fn_key == "metric_distance:ip":
        return dfns.metric_distance(col, vec_expr, "ip")
    raise KeyError(fn_key)


def match_topk_df(engine, df) -> TopKMatch | None:
    """Match ``df``'s analyzed plan against the rewritable top-k shape over
    one of ``engine``'s registered tables. Returns a :class:`TopKMatch`
    (``fn_name`` is the builder key; ``filter_sql`` set to a marker string
    when a Filter blocks the rewrite) or None. Never raises."""
    try:
        return _match(engine, df)
    except Exception:
        return None


def _match(engine, df) -> TopKMatch | None:
    plan = df._jdf.queryExecution().analyzed()
    if _cls(plan) != "GlobalLimit":
        return None
    k = _literal_int(plan.limitExpr())
    if k is None or k <= 0:
        return None
    (local,) = _children(plan)
    if _cls(local) != "LocalLimit":
        return None
    (sort,) = _children(local)
    if _cls(sort) != "Sort":
        return None
    order = sort.order()
    if order.size() != 1:
        return None
    so = order.apply(0)
    direction = str(so.direction())
    key = so.child()

    # descend to a registered view: identity projects + at most one
    # trailing Alias (the withColumn shape); Filter marks the match as
    # refused.  Each node is compared with the views BEFORE descending, so
    # a view whose own plan ends in a Project or Filter (a withColumn
    # view, a view after a delete) is recognised as itself
    views = [(n, t.df._jdf.queryExecution().analyzed()) for n, t in engine._tables.items()]
    node = _children(sort)[0]
    alias_name = None
    alias_expr = None
    has_filter = False
    while True:
        table = next((n for n, v in views if node.sameResult(v)), None)
        if table is not None:
            break
        c = _cls(node)
        if c == "SubqueryAlias":
            node = _children(node)[0]
        elif c == "Filter":
            has_filter = True
            node = _children(node)[0]
        elif c == "Project":
            child = _children(node)[0]
            child_out = child.output()
            child_ids = [
                str(child_out.apply(i).exprId().id()) for i in range(child_out.size())
            ]
            plist = node.projectList()
            items = [plist.apply(i) for i in range(plist.size())]
            n = len(items)
            n_attrs = sum(1 for it in items if _cls(it) == "AttributeReference")
            if n_attrs != len(child_ids):
                return None  # subset/reordered projection — not identity
            for i, item in enumerate(items):
                ic = _cls(item)
                if ic == "AttributeReference":
                    # identity pass-through, same position as the child
                    if i >= len(child_ids) or str(item.exprId().id()) != child_ids[i]:
                        return None
                elif ic == "Alias" and i == n - 1 and alias_expr is None:
                    alias_name = str(item.name())
                    alias_expr = (str(item.exprId().id()), _children(item)[0])
                else:
                    return None
            node = child
        else:
            return None

    # resolve the sort key through the alias when it references one
    used_alias = None
    if _cls(key) == "AttributeReference" and alias_expr is not None:
        if str(key.exprId().id()) != alias_expr[0]:
            return None
        key = alias_expr[1]
        used_alias = alias_name
    elif alias_expr is not None:
        # a computed column we would not reproduce — refuse
        return None

    col, vec = _extract_candidates(key)
    if col is None or vec is None:
        return None
    t = engine._tables[table]
    if col not in t.df.columns:
        return None

    from pyspark.sql import functions as F

    from duckdb_annsearch_spark.functions import distance as dfns

    base = t.df
    for fn_key, metric, want_dir in _DF_MATCHERS:
        if direction != want_dir:
            continue
        for vec_expr in (vec, dfns.vector_lit(vec)):
            probe = base.select(
                _build_probe(fn_key, F.col(col), vec_expr).alias("__p")
            )
            pexpr = probe._jdf.queryExecution().analyzed().projectList().apply(0).child()
            if _same_expr(key, pexpr):
                return TopKMatch(
                    table,
                    col,
                    vec,
                    k,
                    fn_key,
                    metric,
                    used_alias,
                    "filter between sort and scan" if has_filter else None,
                )
    return None
