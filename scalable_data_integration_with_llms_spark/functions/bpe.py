"""Real byte-pair-encoding tokenizer (A14/U4 real path).

The reference counts prompt tokens with a HuggingFace tokenizer
(``Stable Schema Matching/prompt/PromptICLTemplate.py:24-25``); this container
has no ``transformers``, so the engine ships the BPE *algorithm* itself — the
public merge procedure of Sennrich et al. 2016 / the GPT-2 tokenizer — with a
corpus-trained merge table committed as a fixture (``bpe_merges.py``,
regenerated by ``tools/train_bpe.py``).

Scale design (100 TB corpus):
- **Training** is two-phase: a distributed word-frequency aggregation (ONE
  shuffle on the word — the only pass over the corpus), then local merge
  learning over the word→freq table, whose size is the *vocabulary*, not the
  corpus (bounded further by ``min_freq``).  This is how production tokenizer
  training works: the corpus-sized work is embarrassingly parallel counting.
- **Encoding** is an Arrow-batched pandas UDF with a per-batch word cache —
  natural-language word frequency is Zipfian, so cache hit rates are ~99% and
  per-row work is a dict lookup, not a merge loop.

Tokenization unit: whitespace words, each encoded independently from its
character sequence (no cross-word merges).  Token count of a document is the
sum of per-word counts — which is what makes the DuckDB oracle expressible:
a materialized word→count table generated by this same encoder.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_INF = float("inf")

Pair = tuple[str, str]


def merge_all(syms: tuple[str, ...], pair: Pair) -> tuple[str, ...]:
    """One left-to-right pass replacing every non-overlapping occurrence of
    ``pair`` with its concatenation (GPT-2 merge step semantics: 'aaa' with
    pair (a,a) -> ('aa','a'))."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def encode_word(word: str, ranks: dict[Pair, int]) -> tuple[str, ...]:
    """BPE-encode one word: repeatedly merge the lowest-rank adjacent pair
    until no learned pair remains (the public GPT-2 ``bpe()`` procedure)."""
    syms = tuple(word)
    while len(syms) >= 2:
        best = min(zip(syms, syms[1:]), key=lambda p: ranks.get(p, _INF))
        if best not in ranks:
            break
        syms = merge_all(syms, best)
    return syms


def encode_text(text: str, ranks: dict[Pair, int], cache: dict[str, int] | None = None) -> int:
    """Token count of a whitespace-separated document."""
    if not text:
        return 0
    cache = cache if cache is not None else {}
    total = 0
    for w in text.split(" "):
        n = cache.get(w)
        if n is None:
            n = len(encode_word(w, ranks))
            cache[w] = n
        total += n
    return total


def train_bpe(word_freqs: dict[str, int], n_merges: int, min_freq: int = 2) -> list[Pair]:
    """Learn ``n_merges`` merge rules from a word→frequency table.

    Deterministic: ties on pair frequency break to the lexicographically
    smallest pair, so the same corpus always yields the same merge list.
    Stops early when the best pair's frequency drops below ``min_freq``.
    """
    seqs: dict[tuple[str, ...], int] = Counter()
    for w, f in word_freqs.items():
        if w:
            seqs[tuple(w)] += f
    merges: list[Pair] = []
    for _ in range(n_merges):
        counts: Counter[Pair] = Counter()
        for seq, f in seqs.items():
            for p in zip(seq, seq[1:]):
                counts[p] += f
        if not counts:
            break
        best, best_n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_n < min_freq:
            break
        merges.append(best)
        merged: dict[tuple[str, ...], int] = Counter()
        for seq, f in seqs.items():
            merged[merge_all(seq, best)] += f
        seqs = merged
    return merges


def ranks_of(merges: list[Pair]) -> dict[Pair, int]:
    return {tuple(p): i for i, p in enumerate(merges)}


# -- distributed surface -------------------------------------------------------


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_freq: int = 1, max_vocab: int | None = None
) -> DataFrame:
    """Distributed word-frequency table: the single corpus-sized pass of
    tokenizer training.  One shuffle on the word; everything downstream is
    vocabulary-sized.

    ``max_vocab`` caps the table at the top-V words by (freq desc, word asc)
    — a deterministic total order, executed as TakeOrderedAndProject (per-
    partition top-V heaps merged on the driver), NOT a global sort.  This is
    the driver-memory contract of the two-phase trainer: the collect is
    bounded by V regardless of corpus size.
    """
    out = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    if max_vocab is not None:
        out = out.orderBy(F.desc("freq"), F.asc("word")).limit(max_vocab)
    return out


# Driver-memory bound for the trainer's collect: at ~30 bytes/word the
# 2^16-word table is ~2 MB on the driver.  Tail words below the cap cannot
# win a merge anyway once the corpus is large enough that rank-V frequency
# exceeds min_freq — and on the committed sf0.01 training corpus the whole
# vocabulary is far below the cap, so the fixture merges are unchanged
# (asserted by tests/test_bpe.py).
DEFAULT_MAX_VOCAB = 65_536


def train_bpe_distributed(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 30,
    min_freq: int = 2,
    max_vocab: int = DEFAULT_MAX_VOCAB,
) -> list[Pair]:
    """Two-phase trainer: Spark counts words, the driver learns merges over
    the frequency table — bounded at ``max_vocab`` rows (top-V by frequency)
    so the driver footprint is O(V), not O(distinct words in the corpus)."""
    rows = word_frequencies(df, text_col, max_vocab=max_vocab).collect()
    assert len(rows) <= max_vocab, "vocabulary cap not applied before collect"
    freqs = {r["word"]: r["freq"] for r in rows}
    return train_bpe(freqs, n_merges, min_freq=min_freq)


def bpe_token_count_udf(merges: list[Pair]):
    """Arrow-batched token counter over whitespace words with a per-batch
    word cache (Zipfian hit rate makes the merge loop cold-path only)."""
    ranks = ranks_of(merges)

    @pandas_udf("bigint")
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        return texts.map(lambda s: encode_text(s, ranks, cache) if s is not None else None)

    return _count


