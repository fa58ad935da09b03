"""REAL byte-pair encoding (Sennrich et al. 2016; the GPT-2-family
tokenizer algorithm) — train + distributed apply.

``train_bpe_merges`` learns a merge table driver-side on a BOUNDED,
deterministically-drawn corpus sample (the same bounded-driver-work
pattern as the IVF k-means coarse quantizer: training data small by
construction, application fully distributed). ``apply_bpe`` broadcasts
the merge ranks in the UDF closure and encodes every document with the
standard greedy lowest-rank-first merge loop, Arrow-batched with a
per-batch word cache (natural-language word frequency follows Zipf, so
the cache turns per-word cost into per-DISTINCT-word cost).

Scope (declared): character-level symbols within pre-tokenizer words
(letter runs | digit runs | single other, over whitespace-normalized
text) and no end-of-word marker — the textbook formulation. Byte-level
alphabet and special-token handling are tokenizer-config choices a real
deploy layers on top; the training loop and encode loop are the real
algorithms either way.

Determinism: pair selection breaks ties by (count DESC, pair ASC) and
the sample is drawn by xxhash64 order, so the merge table — and hence
every token count — is a pure function of the corpus.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: pre-tokenizer: letter runs | digit runs | single non-space-non-alnum
PRETOKEN_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")

MAX_TRAIN_DOCS = 512  # bounded driver-side training sample


def _pretokenize(text: str) -> list[str]:
    return PRETOKEN_RE.findall(text)


def train_bpe_merges_py(
    texts: list[str], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE training: word-frequency table from the pre-tokenizer,
    then n_merges iterations of merge-the-most-frequent-adjacent-pair
    (ties: lexicographically smallest pair — deterministic)."""
    vocab: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        for w in _pretokenize(t):
            vocab[tuple(w)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: Counter[tuple[str, ...]] = Counter()
        for syms, freq in vocab.items():
            out, i = [], 0
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
            new_vocab[tuple(out)] += freq
        vocab = new_vocab
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one pre-token: repeatedly merge the
    lowest-rank adjacent pair present — the exact GPT-2 encode loop."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = MAX_TRAIN_DOCS,
) -> list[tuple[str, str]]:
    """Draw a deterministic bounded sample (xxhash64(id) order — seedless,
    partitioning-independent) and train driver-side. The collect is
    bounded: max_docs rows regardless of corpus size."""
    sample = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .orderBy(F.xxhash64(F.col("id")).asc(), F.col("id").asc())
        .limit(max_docs)
        .collect()
    )
    return train_bpe_merges_py([r.t for r in sample if r.t], n_merges)


BPE_SCHEMA = "doc_id long, n_pretokens int, n_bpe_tokens int, n_chars int"


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed encode: merge ranks ship in the closure (a merge table
    is KBs — broadcast-by-closure is the right size class), texts are
    encoded Arrow-batch-wise with a per-batch distinct-word cache. Output
    is the token accounting a data pipeline budgets with; emitting the
    token arrays themselves is the same stage with a different schema."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def _encode(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            n_pre, n_bpe, n_chars = [], [], []
            for t in pdf[text_col]:
                t = t or ""
                words = _pretokenize(t)
                total = 0
                for w in words:
                    c = cache.get(w)
                    if c is None:
                        c = len(encode_word(w, ranks))
                        cache[w] = c
                    total += c
                n_pre.append(len(words))
                n_bpe.append(total)
                n_chars.append(len(t))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_pretokens": pd.array(n_pre, dtype="int32"),
                    "n_bpe_tokens": pd.array(n_bpe, dtype="int32"),
                    "n_chars": pd.array(n_chars, dtype="int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(_encode, BPE_SCHEMA)
