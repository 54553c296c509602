"""BM25 scoring math — the single source of truth for float semantics.

Used verbatim by BOTH the distributed WAND executor and the
brute-force oracle, so rank-identity (identical float64 scores) holds
by construction: same expression tree, same operation order, terms
always accumulated in lexicographic order.

Formula (Lucene's BM25Similarity, constants pinned by the north rule):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl/avgdl))
with k1 = 1.2, b = 0.75.
"""

from __future__ import annotations

import numpy as np

from ela_lib_spark import BM25_B, BM25_K1


def idf(df: float | np.ndarray, n_docs: int) -> np.float64:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_contrib(
    tf: np.ndarray, dl: np.ndarray, idf_val: float, avg_dl: float
) -> np.ndarray:
    """Per-(term, doc) score contribution. float64, fixed op order."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (
        idf_val
        * (BM25_K1 + 1.0)
        * tf
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avg_dl))
    )
