"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and writes parquet files into
a directory the caller owns; the same seed always gives byte-identical
inputs.  The engine under test only ever sees these files.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ann: a Gaussian mixture.  CLUSTER_SPREAD is the within-cluster standard
# deviation relative to the (unit-variance) spread of the cluster centres;
# at 0.5 the clusters overlap enough that IVF (nprobe < nlist) and the small
# streaming graph miss some true neighbours, so recall@10 reads below 1.0
# and a quality loss can show.
DIM = 128
CLUSTERS = 32
CLUSTER_SPREAD = 0.5
QUERY_NOISE = 0.05

# text_dedup: a Zipf vocabulary with planted near-duplicates
VOCAB = 4000
ZIPF_S = 1.1
DOC_WORDS = (20, 80)
DUP_SHARE = 0.25
MAX_EDITS = 2


@dataclass
class VectorSet:
    ids: np.ndarray  # int64
    x: np.ndarray  # float32 (n, DIM)


def _mixture(rng: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(centres), n)
    noise = rng.normal(scale=CLUSTER_SPREAD, size=(n, centres.shape[1]))
    return (centres[lab] + noise).astype(np.float32)


def vectors(seed: int, n: int, extra: int) -> tuple[VectorSet, VectorSet]:
    """``n`` table rows (ids 0..n-1) plus ``extra`` rows from the same
    mixture for later inserts (ids n..n+extra-1)."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(CLUSTERS, DIM)).astype(np.float32)
    x = _mixture(rng, centres, n + extra)
    ids = np.arange(n + extra, dtype=np.int64)
    return VectorSet(ids[:n], x[:n]), VectorSet(ids[n:], x[n:])


def queries(seed: int, table: VectorSet, count: int) -> np.ndarray:
    """Perturbed table rows: each query sits near a real row, the shape of
    the reference bench (queries drawn from the table)."""
    rng = np.random.default_rng([seed, 2])
    rows = rng.choice(len(table.ids), size=count, replace=False)
    noise = rng.normal(scale=QUERY_NOISE, size=(count, table.x.shape[1]))
    return (table.x[rows] + noise).astype(np.float32)


def write_vectors(path: str, vs: VectorSet) -> str:
    flat = pa.array(vs.x.reshape(-1))
    emb = pa.FixedSizeListArray.from_arrays(flat, vs.x.shape[1]).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(pa.table({"vec_id": pa.array(vs.ids), "embedding": emb}), path)
    return path


@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list[str]
    planted: dict[int, int]  # near-duplicate doc -> the doc it was copied from


def corpus(seed: int, n: int) -> Corpus:
    """``n`` documents of Zipf-distributed words; about DUP_SHARE of them
    are copies of an earlier document with 0..MAX_EDITS word substitutions
    (0 edits makes a byte-identical duplicate)."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"w{i}" for i in range(VOCAB)])
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def draw(size: int) -> np.ndarray:
        return words[np.minimum(np.searchsorted(cdf, rng.random(size)), VOCAB - 1)]

    texts: list[str] = []
    planted: dict[int, int] = {}
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            for _ in range(int(rng.integers(0, MAX_EDITS + 1))):
                toks[int(rng.integers(0, len(toks)))] = draw(1)[0]
            planted[i] = src
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(draw(int(rng.integers(*DOC_WORDS)))))
    return Corpus(np.arange(n, dtype=np.int64), texts, planted)


def write_corpus(path: str, c: Corpus) -> str:
    pq.write_table(
        pa.table({"doc_id": pa.array(c.doc_id), "text": pa.array(c.text)}), path
    )
    return path
