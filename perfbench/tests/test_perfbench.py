"""Tests of the benchmark's own code: generators, checks and the metric
declarations.  They need no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import checks, gen, metrics  # noqa: E402

K = 10


# ---------------------------------------------------------------- generators
def _file_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_vectors_deterministic_for_a_seed(tmp_path):
    a, ax = gen.vectors(7, 300, 50)
    b, bx = gen.vectors(7, 300, 50)
    c, _ = gen.vectors(8, 300, 50)
    assert np.array_equal(a.x, b.x) and np.array_equal(ax.x, bx.x)
    assert not np.array_equal(a.x, c.x)
    assert list(ax.ids) == list(range(300, 350))
    p1 = gen.write_vectors(str(tmp_path / "a.parquet"), a)
    p2 = gen.write_vectors(str(tmp_path / "b.parquet"), b)
    assert _file_bytes(p1) == _file_bytes(p2)


def test_queries_deterministic_and_near_table_rows():
    t, _ = gen.vectors(3, 400, 0)
    q1, q2 = gen.queries(3, t, 20), gen.queries(3, t, 20)
    assert np.array_equal(q1, q2)
    # each query is a perturbed table row: its nearest row is very close
    nearest = [checks.sq_l2(t.x, q).min() for q in q1]
    assert max(nearest) < 0.1 * np.median(checks.sq_l2(t.x, q1[0]))


def test_corpus_deterministic_with_planted_duplicates(tmp_path):
    a, b = gen.corpus(5, 400), gen.corpus(5, 400)
    assert a.text == b.text and a.planted == b.planted
    assert gen.corpus(6, 400).text != a.text
    assert 0.15 < len(a.planted) / 400 < 0.35
    assert all(src < dup for dup, src in a.planted.items())
    p1 = gen.write_corpus(str(tmp_path / "a.parquet"), a)
    p2 = gen.write_corpus(str(tmp_path / "b.parquet"), b)
    assert _file_bytes(p1) == _file_bytes(p2)


# -------------------------------------------------------------------- checks
@pytest.fixture
def table():
    t, _ = gen.vectors(11, 500, 0)
    q = gen.queries(11, t, 1)[0]
    return t, q


def _engine_answer(t, q):
    ids, d = checks.exact_topk(t.ids, t.x, q, K)
    return list(ids), list(d.astype(np.float32))


def test_exact_check_accepts_brute_force(table):
    t, q = table
    ids, d = _engine_answer(t, q)
    assert checks.check_exact(ids, d, t.ids, t.x, q, K) == []
    assert checks.check_exact(ids, np.sqrt(d), t.ids, t.x, q, K, squared=False) == []
    assert checks.check_ann(ids, d, t.ids, t.x, q, K) == []


def test_exact_check_rejects_swapped_id(table):
    t, q = table
    ids, d = _engine_answer(t, q)
    far = int(t.ids[np.argmax(checks.sq_l2(t.x, q))])
    ids[3] = far
    assert checks.check_exact(ids, d, t.ids, t.x, q, K)
    assert checks.check_ann(ids, d, t.ids, t.x, q, K)  # distance not its id's


def test_exact_check_rejects_reordered_ids(table):
    t, q = table
    ids, d = _engine_answer(t, q)
    ids[1], ids[2] = ids[2], ids[1]
    assert checks.check_exact(ids, d, t.ids, t.x, q, K)


def test_ann_check_rejects_short_or_unsorted(table):
    t, q = table
    ids, d = _engine_answer(t, q)
    assert checks.check_ann(ids[:-1], d[:-1], t.ids, t.x, q, K)
    assert checks.check_ann(ids[::-1], d[::-1], t.ids, t.x, q, K)


def test_write_checks_reject_resurrected_row(table):
    t, q = table
    ids, _ = _engine_answer(t, q)
    assert checks.check_excludes(ids, {999_999}) == []
    assert checks.check_excludes(ids, {int(ids[4])})
    assert checks.check_contains(ids, int(ids[0])) == []
    assert checks.check_contains(ids, 999_999)


def test_hash_check_rejects_changed_cluster_label():
    pdf = pd.DataFrame({"doc_id": [1, 2, 3, 4], "cluster": [1, 1, 3, 3]})
    assert checks.check_hash(pdf.copy(), pdf) == []
    assert checks.check_hash(pdf.iloc[::-1].reset_index(drop=True), pdf) == []
    bad = pdf.copy()
    bad.loc[3, "cluster"] = 4
    assert checks.check_hash(bad, pdf)


def test_planted_recall():
    planted = {2: 1, 4: 3}
    assert checks.planted_recall([1, 2, 3, 4], [1, 1, 3, 3], planted) == 1.0
    assert checks.planted_recall([1, 2, 3, 4], [1, 1, 3, 4], planted) == 0.5


# ------------------------------------------------------------------- metrics
def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _NoSpans:
    spans: list = []

    def span_ms(self, *_):
        return 0.0

    def self_times(self):
        return {}


class _EmptyRun:
    tracer = _NoSpans()
    records: list = []
    builds: list = []
    facts: dict = {}


def test_printed_metrics_are_declared():
    spec = _spec()
    e2e = metrics.end_to_end([], {"setup_s": 1.0, "quality": 1.0, "kinds": []}, 1.0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    layer = metrics.per_layer(_EmptyRun(), {"kinds": [], "items_per_s": 1.0}, 1.0, 1.0)
    layer["index.kernels.pairwise_us"] = metrics.kernel_us()  # set by run.py
    assert set(layer) == {m["name"] for m in spec["per_layer"]}


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in spec["end_to_end"]
    )
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
