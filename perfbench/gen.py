"""Seeded benchmark inputs: web pages, the query stream, upsert batches
and the near-duplicate corpus, all drawn from one seed.

Text comes from the engine's own synthetic vocabulary (Zipf, s≈1.07)
and html from its `_doc_html` wrapper, so the per-row invariant
`extract_text(html) == text` holds; `pages_table` asserts it on every
generated table. Each input kind draws from its own stream of the seed
(`np.random.default_rng([seed, stream, ...])`), so changing one kind's
size does not shift another's content.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ela_lib_spark.functions.text import extract_text_series
from ela_lib_spark.sources.synth import _P, _SPICE, VOCAB_SIZE, _doc_html, vocabulary

PAGES, QUERIES, BATCHES, DUPS = 1, 2, 3, 4  # seed streams

SHAPES = ("single", "or2", "or3", "and2", "and3", "msm", "head_rare")
HEAD_RANKS = 10  # head terms: the 10 most frequent
RARE_FROM = 2000  # rare terms: ranks 2000..9999

_VOCAB = np.array(vocabulary())
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def texts(rng: np.random.Generator, n: int, min_len: int = 10) -> list[str]:
    """`n` documents of Zipf-sampled terms, lognormal lengths clipped to
    [min_len, 2000] (the engine's synth distribution), with the same
    rare html-escapable tokens."""
    lens = np.clip(np.exp(rng.normal(4.6, 0.9, size=n)), min_len, 2000).astype(np.int64)
    idx = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=_P)
    spice = rng.random(idx.size) < 0.001
    out, off = [], 0
    for n_tok in lens.tolist():
        toks = _VOCAB[idx[off:off + n_tok]].tolist()
        for k in np.flatnonzero(spice[off:off + n_tok]).tolist():
            toks[k] = _SPICE[int(idx[off + k]) % len(_SPICE)]
        out.append(" ".join(toks))
        off += n_tok
    return out


def pages_table(urls: list[str], docs: list[str], first_row: int,
                epoch: int = 0) -> pa.Table:
    """web_pages rows for (url, text) pairs. Raises ValueError when the
    html does not extract back to the text byte-for-byte."""
    html = [_doc_html(t, first_row + i) for i, t in enumerate(docs)]
    extracted = extract_text_series(pd.Series(html)).tolist()
    bad = [u for u, t, x in zip(urls, docs, extracted) if t != x]
    if bad:
        raise ValueError(f"extract_text(html) != text for {len(bad)} rows, e.g. {bad[0]}")
    ts = [_EPOCH + dt.timedelta(days=epoch, seconds=first_row + i) for i in range(len(urls))]
    return pa.table(
        [urls, ts, html, docs, ["en"] * len(urls)], schema=PAGES_SCHEMA
    )


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


def url(seed: int, i: int) -> str:
    return f"https://site{i % 97}.example/{seed}/{i}"


def corpus(seed: int, n_docs: int) -> tuple[list[str], list[str]]:
    """(urls, texts) of the base corpus."""
    rng = np.random.default_rng([seed, PAGES])
    return [url(seed, i) for i in range(n_docs)], texts(rng, n_docs)


def query(seed: int, i: int) -> dict:
    """The i-th query of the stream: shapes cycle in SHAPES order, terms
    are Zipf-sampled (head+rare pairs one head with one rare term)."""
    rng = np.random.default_rng([seed, QUERIES, i])
    shape = SHAPES[i % len(SHAPES)]
    if shape == "head_rare":
        ids = [int(rng.integers(0, HEAD_RANKS)), int(rng.integers(RARE_FROM, VOCAB_SIZE))]
        mode = "AND" if rng.random() < 0.5 else "OR"
        return {"shape": shape, "terms": [str(_VOCAB[t]) for t in ids], "mode": mode,
                "min_match": None}
    n = {"single": 1, "or2": 2, "or3": 3, "and2": 2, "and3": 3, "msm": 3}[shape]
    ids = rng.choice(VOCAB_SIZE, size=n, replace=False, p=_P)
    mode = "AND" if shape.startswith("and") else "OR"
    return {"shape": shape, "terms": [str(_VOCAB[t]) for t in ids], "mode": mode,
            "min_match": 2 if shape == "msm" else None}


def upsert_batches(seed: int, base_urls: list[str], n_epochs: int,
                   batch_size: int, recrawl_frac: float):
    """Yield (urls, texts) per epoch: `recrawl_frac` of each batch are
    distinct existing urls with new text (upserts that tombstone the old
    version), the rest new urls. Urls are unique within a batch."""
    rng = np.random.default_rng([seed, BATCHES])
    known = list(base_urls)
    for _ in range(n_epochs):
        n_re = int(round(batch_size * recrawl_frac))
        pick = rng.choice(len(known), size=n_re, replace=False)
        urls = [known[int(j)] for j in pick]
        fresh = [url(seed, len(known) + j) for j in range(batch_size - n_re)]
        known.extend(fresh)
        yield urls + fresh, texts(rng, batch_size)


def dup_corpus(seed: int, n_docs: int, dup_frac: float):
    """Corpus with injected duplicate groups for dedup.

    Returns (texts, groups): `groups` lists (original, copy) row pairs.
    `dup_frac` of the rows are copies: half exact, half near (one token
    replaced). Documents have ≥ 120 tokens, so one replacement changes
    at most 3 of ≥ 118 shingles and a near copy keeps Jaccard ≥ 0.95."""
    rng = np.random.default_rng([seed, DUPS])
    n_copies = int(round(n_docs * dup_frac))
    docs = texts(rng, n_docs - n_copies, min_len=120)
    sources = rng.choice(len(docs), size=n_copies, replace=False)
    groups = []
    for j, src in enumerate(sources.tolist()):
        toks = docs[src].split(" ")
        if j % 2:
            pos = int(rng.integers(1, len(toks) - 1))
            toks[pos] = f"edit{j}"
        docs.append(" ".join(toks))
        groups.append((src, len(docs) - 1))
    return docs, groups
