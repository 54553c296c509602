"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All JVM-side column expressions where possible (regexp/size/aggregate —
whole-stage codegen, no Python), so each one is also SQL-expressible
for the DuckDB oracle. Only the n-gram language scorer drops to a
vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ela_lib_spark.functions.text import tokenize_col

# Deterministic stopword profiles for the n-gram/stopword language
# heuristic (public common-word lists, truncated).
LANG_STOPWORDS = {
    "en": {"the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "was", "on", "with", "as", "at"},
    "de": {"der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich", "des", "dem", "zu", "von"},
    "fr": {"le", "la", "les", "et", "des", "est", "un", "une", "du", "que", "pour", "dans", "qui", "pas"},
    "es": {"el", "la", "los", "las", "y", "es", "un", "una", "del", "que", "por", "con", "para", "no"},
}


def token_count(text_col) -> Column:
    """Token count with the engine tokenizer — JVM-side."""
    return F.size(tokenize_col(text_col)).cast("long")


def whitespace_token_count(text_col) -> Column:
    return F.size(F.filter(F.split(text_col, r"\s+"), lambda t: t != F.lit(""))).cast("long")


def bpe_ish_token_count(text_col) -> Column:
    """A BPE-ish proxy: count of sub-word units under the GPT-2-style
    pre-tokenization regex family — contiguous letter runs, digit runs,
    and single non-space punctuation marks."""
    units = F.regexp_extract_all(
        text_col, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), F.lit(1)
    )
    return F.size(units).cast("long")


def punct_ratio(text_col) -> Column:
    n = F.length(text_col)
    p = n - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def alpha_ratio(text_col) -> Column:
    n = F.length(text_col)
    a = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
    return F.when(n > 0, a.cast("double") / n).otherwise(F.lit(0.0))


def mean_token_len(text_col) -> Column:
    toks = tokenize_col(text_col)
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def stopword_ratio(text_col, lang: str = "en") -> Column:
    sw = F.array(*[F.lit(w) for w in sorted(LANG_STOPWORDS[lang])])
    toks = tokenize_col(text_col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text_col) -> Column:
    """Composite heuristic quality score in [0, 1]: length band +
    low punctuation + alpha density + stopword presence."""
    n_tok = token_count(text_col).cast("double")
    len_ok = F.when((n_tok >= 20) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    score = (
        0.4 * len_ok
        + 0.2 * (1.0 - F.least(punct_ratio(text_col) * 4.0, F.lit(1.0)))
        + 0.2 * alpha_ratio(text_col)
        + 0.2 * F.least(stopword_ratio(text_col) * 5.0, F.lit(1.0))
    )
    return F.round(score, 6)


def doc_fingerprint(text_col) -> Column:
    """64-bit content fingerprint over the *analyzed* token stream —
    robust to case/punctuation changes (vs operators.diff.content_hash
    which fingerprints the raw row)."""
    return F.xxhash64(F.concat_ws("\x1f", tokenize_col(text_col)))


def doc_fingerprint_md5(text_col) -> Column:
    """128-bit analyzed-stream fingerprint as hex (md5 over the
    0x1F-joined token stream). Same robustness semantics as
    `doc_fingerprint`; md5 exists in both Spark and DuckDB, so this
    variant is oracle-checkable end-to-end (xxhash64 is not a DuckDB
    builtin — that variant is pinned by a pure-Python twin test)."""
    return F.md5(F.concat_ws("\x1f", tokenize_col(text_col)))


@F.pandas_udf(T.StringType())
def detect_lang(text: pd.Series) -> pd.Series:
    """Stopword-profile language ID; see detect_lang_series."""
    return detect_lang_series(text)


def detect_lang_series(text: pd.Series) -> pd.Series:
    """Stopword-profile language ID (deterministic heuristic).

    Returns the language whose stopword hit-count over the first 200
    tokens is highest; 'und' (undetermined) when nothing hits.
    Vectorized: one np.isin per language over the batch's concatenated
    token stream, per-doc counts via reduceat — no per-token Python."""
    langs = sorted(LANG_STOPWORDS)
    sw_arrays = {lg: np.array(sorted(LANG_STOPWORDS[lg])) for lg in langs}
    tok_lists = [
        (t.lower().split()[:200] if t is not None else None) for t in text
    ]
    lens = np.fromiter(
        (0 if tl is None else len(tl) for tl in tok_lists), np.int64, len(tok_lists)
    )
    out = np.full(len(tok_lists), "und", dtype=object)
    out[[tl is None for tl in tok_lists]] = None
    nz = np.flatnonzero(lens)
    if len(nz):
        all_toks = np.concatenate([np.asarray(tok_lists[i], object) for i in nz])
        seg = np.zeros(len(nz), np.int64)
        np.cumsum(lens[nz][:-1], out=seg[1:])
        counts = np.stack(
            [
                np.add.reduceat(np.isin(all_toks, sw_arrays[lg]).astype(np.int64), seg)
                for lg in langs
            ],
            axis=1,
        )  # (docs, langs)
        best = counts.argmax(axis=1)
        hit = counts.max(axis=1) > 0
        lang_arr = np.array(langs, object)
        out[nz[hit]] = lang_arr[best[hit]]
    return pd.Series(out)


# ------------------------------------------------ winnowing fingerprint

_WINNOW_MOD64 = np.uint64(0xFFFFFFFFFFFFFFFF)  # arithmetic mod 2^64 (wrap)


def _rolling_hashes_u64(h: np.ndarray, window: int,
                        base: int = 1000003) -> np.ndarray:
    """Karp–Rabin rolling hashes over a token-hash stream (numpy,
    mod-2^64 wraparound arithmetic — no Python bigints)."""
    if len(h) < window:
        return np.zeros(0, np.uint64)
    powers = np.empty(window, np.uint64)
    powers[-1] = 1
    with np.errstate(over="ignore"):  # wraparound mod 2^64 is the point
        for i in range(window - 2, -1, -1):
            powers[i] = powers[i + 1] * np.uint64(base)
        vals = np.lib.stride_tricks.sliding_window_view(
            h.astype(np.uint64), window
        )
        return (vals * powers[None, :]).sum(axis=1, dtype=np.uint64)


def _winnow_one(h: np.ndarray, k: int, w: int) -> np.ndarray:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): min rolling
    hash per sliding window of w consecutive k-gram hashes; dedup."""
    rh = _rolling_hashes_u64(h, k)
    if len(rh) == 0:
        return np.zeros(0, np.int64)
    if len(rh) <= w:
        return np.unique(rh).astype(np.int64)
    wins = np.lib.stride_tricks.sliding_window_view(rh, w)
    return np.unique(wins.min(axis=1)).astype(np.int64)


def make_winnow_udf(k: int = 5, w: int = 4):
    """pandas UDF: array<long> token hashes (JVM xxhash64) →
    array<long> winnowing fingerprints. Two docs sharing a ≥(k+w-1)-token
    passage are guaranteed to share ≥1 fingerprint."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow(hashes: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _winnow_one(
                    np.asarray(h, np.int64) if h is not None else np.zeros(0, np.int64),
                    k, w,
                ).tolist()
                for h in hashes
            ]
        )

    return winnow


def winnow_fingerprints(df, key: str = "doc_id", text_col: str = "text",
                        k: int = 5, w: int = 4):
    """(key, fingerprints array<long>) per doc — the local-dedup /
    passage-overlap primitive. Token hashing runs JVM-side."""
    from ela_lib_spark.functions.hashing import token_hash_col

    udf = make_winnow_udf(k, w)
    return df.select(
        key, udf(token_hash_col(tokenize_col(F.col(text_col)))).alias("fingerprints")
    )
