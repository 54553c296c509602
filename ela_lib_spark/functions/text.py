"""Text extraction + analysis chain (frozen pure functions, versioned).

These are the engine's analyzer — the analog of the ES/Lucene analysis
chain the reference relies on implicitly (it ships docs to ES and lets
Lucene tokenize). Index time and query time MUST use the same
functions; rank-identity depends on it.

`extract_text` is the per-row invariant function from BASELINE.json:
byte-identical extracted text per url. Treat as frozen — bump
EXTRACTOR_VERSION on any change and reindex.

All UDFs are Arrow-vectorized pandas UDFs (no per-row Python UDFs).
"""

from __future__ import annotations

import html as html_mod
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACTOR_VERSION = 1

# Tokenizer contract (shared with the DuckDB oracle SQL):
#   lower(text) → maximal runs of [a-z0-9] → drop empties.
TOKEN_RE = "[a-z0-9]+"
_TOKEN_RX = re.compile(TOKEN_RE)

_DROP_BLOCKS = re.compile(
    r"<head\b.*?</head\s*>|<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_TAGS = re.compile(r"<[^>]*>")
_WS = re.compile(r"\s+")


def _extract_one(raw: bytes | None) -> str | None:
    if raw is None:
        return None
    s = raw.decode("utf-8", errors="replace")
    s = _DROP_BLOCKS.sub(" ", s)
    s = _TAGS.sub(" ", s)
    s = html_mod.unescape(s)
    return _WS.sub(" ", s).strip()


def extract_text_series(h: pd.Series) -> pd.Series:
    return h.map(_extract_one)


@F.pandas_udf(T.StringType())
def extract_text(h: pd.Series) -> pd.Series:
    """html binary → visible text. Frozen; byte-identity tested per row."""
    return extract_text_series(h)


def tokenize_list(text: str | None) -> list[str]:
    if text is None:
        return []
    return _TOKEN_RX.findall(text.lower())


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize(s: pd.Series) -> pd.Series:
    """lowercase + [a-z0-9]+ runs. Same fn at index & query time."""
    return s.map(tokenize_list)


# The separator class: the complement of TOKEN_RE's character class.
_SPLIT_RE = "[^a-z0-9]+"


def tokenize_col(col):
    """JVM-side tokenizer equivalent (no Python at all) — preferred in
    hot paths; provably identical to `tokenize` for this token class.

    split on non-[a-z0-9] then drop empties.
    """
    parts = F.split(F.lower(col), _SPLIT_RE)
    return F.filter(parts, lambda t: t != F.lit(""))


def tokenize_sql(col_sql: str) -> str:
    """`tokenize_col` as SQL text over the SQL expression `col_sql`:
    the same expression tree, planned without a py4j round trip per
    Column call."""
    return f"filter(split(lower({col_sql}), '{_SPLIT_RE}'), t -> t != '')"
