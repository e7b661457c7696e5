"""Distributed BPE tokenizer training + application.

Byte-pair-encoding training (Sennrich et al. 2016, public method) in
the shape every production tokenizer trainer uses at corpus scale:

1. DISTRIBUTED: one shuffle computes the word-frequency table (the
   only pass over the corpus — at 100 TB this is the whole cost);
   the table is capped to the top ``max_word_types`` types by a
   bounded TakeOrdered (count desc, word asc — deterministic), since
   merge learning only needs frequencies, not documents.
2. DRIVER: the classic merge loop runs over the bounded frequency
   dict (count pair frequencies weighted by word count, merge the
   most frequent pair, repeat). Ties break to the lexicographically
   smallest pair — fully deterministic, engine- and partition-order-
   independent.
3. DISTRIBUTED: application is an Arrow row kernel
   (``kernel.map_arrow``) that tokenizes each DISTINCT word once per
   task (memoised) — no per-row Python at the Spark level, no JVM
   round-trips.

BPE merge learning is inherently iterative (each merge depends on the
previous), so these queries carry no DuckDB oracle twin; correctness
is pinned by pytest against an independent reference implementation.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.kernel import map_arrow

END = "</w>"


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_word_types: int = 1 << 20,
) -> list[tuple[str, int]]:
    """Corpus word-frequency table, capped to the ``max_word_types``
    most frequent types (count desc, word asc — a bounded
    TakeOrderedAndProject, not a global sort)."""
    wc = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_word_types)
    )
    return [(r["w"], r["c"]) for r in wc.collect()]


def train_bpe(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    max_word_types: int = 1 << 20,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus (one distributed
    word-count pass + a driver-side merge loop over the bounded
    frequency table). Returns merges in rank order."""
    return merges_from_counts(
        word_counts(docs, text_col, max_word_types), n_merges
    )


def merges_from_counts(
    counts: Iterable[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """The classic BPE merge loop over a word-frequency dict. Words are
    char sequences terminated by ``</w>``; each round merges the pair
    with the highest weighted frequency (ties → lexicographically
    smallest pair). Stops early when no pair repeats."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in counts:
        key = tuple(list(w) + [END])
        vocab[key] = vocab.get(key, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        mx = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == mx)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def encode_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Tokenize one word with the learned merges: repeatedly apply the
    LOWEST-rank applicable merge to all its occurrences (the standard
    greedy BPE segmenter)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token count: (id, n_words, n_bpe_tokens).

    Arrow-batched kernel; each distinct word is segmented once per
    partition (memo), so the per-row cost is a dict lookup. The merge
    table is closure-captured (bounded: ``n_merges`` entries), not a
    join."""
    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict[str, int] = {}

    def count(text: str | None) -> tuple[int, int]:
        words = [w for w in (text or "").split(" ") if w]
        total = 0
        for w in words:
            n = memo.get(w)
            if n is None:
                n = memo[w] = len(encode_word(w, ranks))
            total += n
        return len(words), total

    def body(texts):
        counts = [count(t) for t in texts]
        return {
            "n_words": [nw for nw, _ in counts],
            "n_bpe_tokens": [nb for _, nb in counts],
        }

    # the caller's id type passes through (doc ids are strings in
    # documents_raw frames, longs in the benchmark tables)
    out = [
        id_col,
        T.StructField("n_words", T.LongType()),
        T.StructField("n_bpe_tokens", T.LongType()),
    ]
    return map_arrow(docs, [text_col], out, body)
