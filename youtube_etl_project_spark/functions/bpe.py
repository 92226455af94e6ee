"""Byte-level BPE tokenizer — real merges, trained deterministically,
applied Arrow-vectorized.

The packing/budgeting path (``pack_sequences``) bins on token counts; a
whitespace count under-states real tokenizer output by 1.3-2x, so budgets
in "tokens" would not mean tokens. This module implements the actual
byte-pair-encoding algorithm (Sennrich et al. 2016; byte-level variant as
popularized by GPT-2's public tokenizer): UTF-8 bytes as the base
alphabet (no OOV by construction), a GPT-2-style pre-tokenizer regex, and
greedy lowest-rank merge application.

No pretrained vocab ships in this container, so merges are TRAINED here —
deterministically (fixed sample, count-then-lexicographic tie-break), on a
driver-side sample of the corpus. That mirrors how domain tokenizers are
actually built; the trained merge table is a model artifact (like IVF
centroids in ``operators/similarity.py``): only the merge list ever
reaches the driver/broadcast, never the corpus.

Scale shape: training reads a bounded sample (``limit`` + collect —
model fitting, not data movement); application is a broadcast merge table
inside an Arrow-batched pandas UDF with a per-batch word cache (Zipf:
a few thousand distinct words cover most of a batch), whitelisted in
``tests/test_plan_audit.py`` as a justified Python stage.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import cache, lru_cache

import pandas as pd
from pyspark.sql import functions as F

# GPT-2-style pre-tokenization, expressed in stdlib `re` (no \p classes):
# contractions | space?letters | space?digits | space?punct-run | spaces
_PRETOKEN = re.compile(
    r"'(?:s|d|m|t|ll|ve|re)"
    r"| ?[A-Za-zÀ-ɏЀ-ӿ]+"
    r"| ?[0-9]+"
    r"| ?[^\sA-Za-z0-9À-ɏЀ-ӿ]+"
    r"|\s+(?!\S)|\s+"
)


def pretokenize(text: str) -> list[str]:
    return _PRETOKEN.findall(text)


def train_bpe(
    texts: list[str], n_merges: int = 200
) -> list[tuple[bytes, bytes]]:
    """Classic BPE training over a text sample → ranked merge list.

    Deterministic: word counts from the given sample order-independently,
    best pair = highest count with lexicographically-smallest tie-break.
    """
    words: Counter = Counter()
    for t in texts:
        for w in pretokenize(t):
            words[tuple(bytes([b]) for b in w.encode("utf-8"))] += 1

    merges: list[tuple[bytes, bytes]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        mx = max(pairs.values())
        if mx < 2:  # nothing repeats — further merges are noise
            break
        best = min(p for p, c in pairs.items() if c == mx)
        merges.append(best)
        merged = best[0] + best[1]
        out: Counter = Counter()
        for sym, c in words.items():
            new, i = [], 0
            while i < len(sym):
                if (
                    i < len(sym) - 1
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    new.append(merged)
                    i += 2
                else:
                    new.append(sym[i])
                    i += 1
            out[tuple(new)] += c
        words = out
    return merges


def _encode_word(wb: bytes, rank: dict) -> int:
    """Token count for one pre-token under greedy lowest-rank merging."""
    sym = [bytes([b]) for b in wb]
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = rank.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_i < 0:
            break
        a, b = sym[best_i], sym[best_i + 1]
        merged = a + b
        new, i = [], 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                new.append(merged)
                i += 2
            else:
                new.append(sym[i])
                i += 1
        sym = new
    return len(sym)


def token_count_udf(merges: list[tuple[bytes, bytes]]):
    """Arrow-vectorized BPE token counter: ``udf(text) -> long``.

    The merge table is captured in the closure (broadcast with the task),
    and an LRU word cache exploits Zipf — each distinct pre-token is
    encoded once per worker, not once per occurrence.
    """
    rank = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf("long")
    def count_tokens(texts: pd.Series) -> pd.Series:
        @lru_cache(maxsize=65536)
        def word_tokens(w: str) -> int:
            return _encode_word(w.encode("utf-8"), rank)

        return texts.map(
            lambda t: sum(word_tokens(w) for w in pretokenize(t))
            if t is not None
            else None
        )

    return count_tokens


def save_merges(merges: list[tuple[bytes, bytes]], path: str) -> None:
    """Persist a trained merge list as the versioned model artifact: one
    ``hex(a) hex(b)`` pair per line — byte-exact, diff-able, committable."""
    with open(path, "w") as f:
        for a, b in merges:
            f.write(f"{a.hex()} {b.hex()}\n")


def load_merges(path: str) -> list[tuple[bytes, bytes]]:
    with open(path) as f:
        return [
            (bytes.fromhex(a), bytes.fromhex(b))
            for a, b in (ln.split() for ln in f if ln.strip())
        ]


# The released tokenizer artifact: merges trained once (deterministically,
# 128-doc sf0.01 sample, 200 merges — tools/build_bpe_artifact.py) and
# committed, exactly how production tokenizers version their vocab. With
# the merges frozen, a document's token count depends ONLY on its text,
# which is what makes the golden-count oracle of text_token_count_bpe
# sf-independent.
MERGES_V1 = __file__.rsplit("/", 1)[0] + "/bpe_merges_v1.txt"


@cache
def released_merges(path: str = MERGES_V1) -> list[tuple[bytes, bytes]]:
    return load_merges(path)
