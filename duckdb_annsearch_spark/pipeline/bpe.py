"""BPE tokenizer training + encoding over a document corpus.

The Sennrich et al. (arXiv:1508.07909) byte-pair-encoding trainer in its
scalable production shape (subword-nmt / HuggingFace tokenizers train the
same way): ONE distributed pass reduces the corpus to a word-frequency
table (vocabulary-sized, not corpus-sized — a 100 TB corpus has millions
of distinct words, not trillions), then the merge loop iterates
driver-side over that table.  Re-tokenizing the corpus per merge — the
naive reading of the algorithm — would be ``num_merges`` full corpus
passes; iterating on word frequencies is mathematically identical because
BPE never merges across word boundaries.

Serving (``bpe_encode`` / ``bpe_token_count_learned``) broadcasts the
merge ranks and applies the standard lowest-rank-first merge loop in an
Arrow-batched ``mapInPandas`` with a per-worker word cache (text token
distributions are Zipfian — the cache hit rate is the corpus's
type/token ratio).

No DuckDB oracle for the trainer: the merge loop is inherently iterative
(the driver contract documents rows-only checks for iterative
algorithms); correctness is pinned by pytest against an independently
written naive reference implementation and a hand-computed example.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GPT-2-style pretokenizer shape shared with text.bpe_token_count: words
# (with a leading-space convention folded away by lowercase+split),
# numbers, punctuation runs
WORD_SPLIT_RE = r"[^\p{L}\p{N}]+"
END_OF_WORD = "</w>"
DEFAULT_MAX_WORDS = 1_000_000


def word_frequencies(
    df: DataFrame, text_col: str = "text", max_words: int = DEFAULT_MAX_WORDS
) -> DataFrame:
    """(word, freq) — the ONE distributed pass of BPE training: lowercase,
    split on non-alphanumerics, explode, partial-aggregating groupBy.
    ``max_words`` caps the table at the top-frequency words (ties broken
    by word for determinism): Zipf's law puts the dropped tail's pair
    mass in the noise, and the cap bounds driver memory no matter the
    corpus size."""
    counts = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return counts.orderBy(F.col("freq").desc(), F.col("word").asc()).limit(
        int(max_words)
    )


def _merge_word(syms: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _train_from_freqs(
    words: list[str], freqs: list[int], num_merges: int, min_freq: int
) -> list[tuple]:
    """Incremental BPE merge loop (subword-nmt's structure, see
    ``get_pair_statistics``/``update_pair_statistics`` in the public
    subword-nmt trainer): pair counts are maintained, never recomputed.

    Three structures make each merge O(words-containing-the-pair), not
    O(corpus):
      * ``pair_counts``: current frequency of every adjacent pair;
      * ``posting``: pair -> set of word indices containing it (so a
        merge touches only affected words);
      * a lazy max-heap of ``(-count, pair)`` entries, pushed on every
        count change and validated against ``pair_counts`` on pop —
        the deterministic argmax (max count, ties to the
        lexicographically smallest pair) without an O(#pairs) scan.

    The heap invariant: after every mutation the CURRENT (count, pair)
    of each live pair has been pushed at some point, so the smallest
    valid entry is the exact argmax the naive recount would pick —
    merge sequences are bit-identical to the textbook algorithm."""
    word_syms: list[tuple] = [tuple(w) + (END_OF_WORD,) for w in words]
    pair_counts: dict = {}
    posting: dict = {}
    for i, (syms, f) in enumerate(zip(word_syms, freqs)):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            posting.setdefault(p, set()).add(i)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    min_freq = int(min_freq)
    merges: list[tuple] = []
    while len(merges) < int(num_merges):
        best_pair = None
        while heap:
            neg_c, p = heapq.heappop(heap)
            if pair_counts.get(p) == -neg_c:  # live entry, exact argmax
                best_pair, best_count = p, -neg_c
                break
        if best_pair is None or best_count < min_freq:
            break
        merges.append(best_pair)
        # the merged pair disappears as a pair; its postings are the
        # only words whose pair statistics change
        affected = posting.pop(best_pair, set())
        pair_counts.pop(best_pair, None)
        touched: set = set()
        for i in affected:
            syms, f = word_syms[i], freqs[i]
            for p in zip(syms, syms[1:]):
                c = pair_counts.get(p)
                if c is not None:
                    c -= f
                    if c <= 0:
                        pair_counts.pop(p, None)
                    else:
                        pair_counts[p] = c
                        touched.add(p)
                s = posting.get(p)
                if s is not None:
                    s.discard(i)
                    if not s:
                        posting.pop(p, None)
            new = _merge_word(syms, best_pair)
            word_syms[i] = new
            for p in zip(new, new[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + f
                posting.setdefault(p, set()).add(i)
                touched.add(p)
        for p in touched:
            c = pair_counts.get(p)
            if c is not None:  # may have died later in this same merge
                heapq.heappush(heap, (-c, p))
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    min_freq: int = 2,
    max_words: int = DEFAULT_MAX_WORDS,
) -> pd.DataFrame:
    """Learn ``num_merges`` BPE merge rules; returns a pandas DataFrame
    ``(rank int, left str, right str)`` ordered by rank (the artifact is
    merge-count-sized — tiny — so pandas is the honest return type; write
    it wherever the tokenizer config lives).

    Words initialize as character sequences with a terminal ``</w>``
    (Sennrich §3.2) so merges learn word-final units distinctly.  Each
    iteration merges the highest-frequency adjacent pair, ties broken
    lexicographically for cross-run determinism, stopping early when the
    best pair's frequency drops below ``min_freq``.  The merge loop is
    incremental (``_train_from_freqs``) — production merge counts
    (32k–64k) over the 1M-word cap run in minutes, not hours."""
    wf = word_frequencies(df, text_col, max_words).collect()
    merges = _train_from_freqs(
        [r["word"] for r in wf],
        [int(r["freq"]) for r in wf],
        num_merges,
        min_freq,
    )
    return pd.DataFrame(
        {
            "rank": range(len(merges)),
            "left": [m[0] for m in merges],
            "right": [m[1] for m in merges],
        }
    )


def _encode_word(word: str, ranks: dict, cache: dict) -> list[str]:
    """Standard BPE encode of one word: repeatedly merge the adjacent pair
    with the LOWEST learned rank until none applies."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    if len(cache) < 200_000:  # bound worker memory; Zipf makes this ample
        cache[word] = syms
    return syms


def bpe_encode(
    df: DataFrame,
    merges: pd.DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, tokens array<string>, n_tokens int): the learned
    tokenizer applied corpus-wide.  Merge ranks ride the task closure
    (merge-table-sized); per-worker word cache exploits the Zipfian
    type/token ratio so most words encode via one dict hit."""
    import re

    ranks = {
        (str(l), str(r)): int(k)
        for k, l, r in zip(merges["rank"], merges["left"], merges["right"])
    }
    # [\W_]+ mirrors the trainer's Java-regex [^\p{L}\p{N}]+ word split
    # (underscore is a separator in both; \w alone would keep it)
    splitter = re.compile(r"[\W_]+", re.UNICODE)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            toks_col, n_col = [], []
            for text in pdf[text_col]:
                toks: list[str] = []
                for w in splitter.split((text or "").lower()):
                    if w:
                        toks.extend(_encode_word(w, ranks, cache))
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "tokens": toks_col, "n_tokens": n_col}
            )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, tokens array<string>, n_tokens int"
    )
