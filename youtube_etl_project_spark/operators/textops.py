"""Text analysis for training-data pipelines (SURVEY §2b X4): language-ID
heuristic, quality scoring, token counting, document fingerprinting.

All pure Column expressions — per-row map work that runs inside codegen and
scales embarrassingly (no shuffle). The BPE-ish token estimate is the only
regex-heavy op; still JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from youtube_etl_project_spark.config import LANG_STOPWORDS
from youtube_etl_project_spark.functions.text import tokens


def stopword_hits(toks: Column, stopwords: list[str]) -> Column:
    """Number of tokens that are stopwords (token-exact, not substring)."""
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit scores (the n-gram-free language-ID
    heuristic: count of language-characteristic function words)."""
    return {
        lang: stopword_hits(toks, words)
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_guess(toks: Column) -> Column:
    """Argmax language with a fixed preference order on ties
    (``LANG_STOPWORDS`` order) — deterministic, SQL-expressible (nested
    CASE)."""
    scores = lang_scores(toks)
    langs = list(LANG_STOPWORDS)
    expr = F.lit(langs[-1])
    # build from the back: lang_i wins if its score >= every later lang's
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = scores[langs[i]] >= scores[langs[j]]
            cond = c if cond is None else cond & c
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return expr


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_estimate(text: Column | str) -> Column:
    """Sub-word token-count estimate without a tokenizer model: word pieces
    of ~4 chars (ceil(len/4) per word) — the standard chars/4 heuristic,
    computed per word so short function words still count as 1."""
    t = tokens(text)
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / English-stopword-ratio features (the classic
    cheap quality filters for web-scale corpora)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_stop = stopword_hits(toks, LANG_STOPWORDS["en"])
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "avg_token_len": F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
    }


def fingerprint_sha(text: Column | str) -> Column:
    """Exact-content fingerprint (sha2-256 hex) — dedup key for byte-exact
    documents."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c, 256)


def rolling_hash(text: Column | str) -> Column:
    """Polynomial rolling hash over tokens (Rabin-Karp style):
    h = (h*31 + v(tok)) % (2^31 - 1) with v(tok) = first 32 md5 bits
    (``conv(substr(md5(tok),1,8),16,10)``). Content-order-sensitive,
    cheap, streamable — and, since round 4, reproducible in ANSI SQL:
    DuckDB computes the identical fold via
    ``('0x' || substr(md5(tok),1,8))::BIGINT`` + ``list_reduce``, so the
    fingerprint query is oracle-checked instead of rows-only (xxhash64,
    the previous token hash, has no cross-engine twin). Intermediate
    ``acc*31 + v`` stays < 2^37 — exact in int64 on both engines."""
    t = tokens(text)
    mod = 2**31 - 1
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, w: (
            acc * 31
            + F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % mod
        )
        % mod,
    )
