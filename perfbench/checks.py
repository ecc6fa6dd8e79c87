"""Correctness checks, run outside the timed region.

Each check returns a list of problems; an empty list means the output is
correct.  The references are independent of the engine: numpy brute force
for k-NN, DuckDB's ``oracle_sql()`` twins for the dedup operators.
"""

from __future__ import annotations

import numpy as np

# float32 engine distances against float64 numpy: relative tolerance for a
# distance, and for deciding that two neighbours are tied at the k-th place
RTOL = 1e-4
ATOL = 1e-3


def sq_l2(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = x.astype(np.float64) - q.astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def exact_topk(ids: np.ndarray, x: np.ndarray, q: np.ndarray, k: int):
    """True top-k (ids, squared distances), ties broken on (distance, id)."""
    d = sq_l2(x, q)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def _distances_match(got: np.ndarray, want: np.ndarray) -> bool:
    return bool(np.allclose(got, want, rtol=RTOL, atol=ATOL))


def check_exact(got_ids, got_d, ids, x, q, k, squared=True) -> list[str]:
    """An exact top-k (Flat, the SQL rewrite, local serving) must equal
    brute force: the same ids in the same order and the same distances.
    Ids may differ only among neighbours whose true distances tie with the
    k-th within float32 precision."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    got_d = np.asarray(got_d, dtype=np.float64)
    want_ids, want_d = exact_topk(ids, x, q, k)
    if not squared:
        want_d = np.sqrt(want_d)
    if len(got_ids) != len(want_ids):
        return [f"exact top-{k}: {len(got_ids)} rows, want {len(want_ids)}"]
    problems = []
    if not _distances_match(got_d, want_d):
        problems.append("exact top-k distances differ from brute force")
    if len(set(got_ids.tolist())) != len(got_ids):
        problems.append("exact top-k returned an id twice")
    pos = {int(i): j for j, i in enumerate(ids)}
    for g, w, dw in zip(got_ids, want_ids, want_d):
        if g == w:
            continue
        if int(g) not in pos:
            problems.append(f"exact top-k returned unknown id {int(g)}")
            break
        dg = sq_l2(x[pos[int(g)]][None, :], q)[0]
        if not squared:
            dg = np.sqrt(dg)
        if not np.isclose(dg, dw, rtol=RTOL, atol=ATOL):
            problems.append(
                f"exact top-k ids differ from brute force (id {int(g)} in "
                f"place of {int(w)})"
            )
            break
    return problems


def check_ann(got_ids, got_d, ids, x, q, k, squared=True) -> list[str]:
    """Any k-NN result: exactly k rows, distances ascending, each distance
    the true distance of its id, no id twice, every id live."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    got_d = np.asarray(got_d, dtype=np.float64)
    if len(got_ids) != k:
        return [f"{len(got_ids)} rows, want {k}"]
    problems = []
    if np.any(np.diff(got_d) < 0):
        problems.append("distances not ascending")
    if len(set(got_ids.tolist())) != k:
        problems.append("duplicate ids")
    pos = {int(i): j for j, i in enumerate(ids)}
    missing = [int(i) for i in got_ids if int(i) not in pos]
    if missing:
        problems.append(f"ids not in the live table: {missing[:5]}")
        return problems
    true_d = sq_l2(x[[pos[int(i)] for i in got_ids]], q)
    if not squared:
        true_d = np.sqrt(true_d)
    if not _distances_match(got_d, true_d):
        problems.append("a returned distance is not the true distance of its id")
    return problems


def check_contains(got_ids, want_id: int) -> list[str]:
    """After an insert, a search for the inserted vector finds its id."""
    if int(want_id) not in {int(i) for i in got_ids}:
        return [f"inserted id {int(want_id)} not returned for its own vector"]
    return []


def check_excludes(got_ids, deleted: set[int]) -> list[str]:
    """After a delete, no deleted id is ever returned."""
    back = sorted({int(i) for i in got_ids} & deleted)
    return [f"deleted ids returned: {back[:5]}"] if back else []


def recall(got_ids, true_ids) -> float:
    true = {int(i) for i in true_ids}
    return len(true & {int(i) for i in got_ids}) / max(len(true), 1)


def check_hash(got_pdf, oracle_pdf) -> list[str]:
    """A dedup operator's output must equal its DuckDB oracle twin: row
    count, column names and an order-insensitive hash of every value."""
    from selfcheck import df_hash

    gn, gc, gh = df_hash(got_pdf)
    on, oc, oh = df_hash(oracle_pdf)
    if (gn, gc, gh) == (on, oc, oh):
        return []
    return [f"oracle mismatch: rows {gn}/{on}, cols {gc}/{oc}, hash {gh}/{oh}"]


def planted_recall(doc_id, cluster, planted: dict[int, int]) -> float:
    """Share of planted near-duplicates that dedup_fuzzy put in the same
    cluster as the document they were copied from."""
    cl = dict(zip((int(d) for d in doc_id), (int(c) for c in cluster)))
    hits = sum(1 for dup, src in planted.items() if cl.get(dup) == cl.get(src))
    return hits / max(len(planted), 1)
