"""Property test for the WAND shard kernel (query/wand._shard_topk_fn)
— pure pandas/numpy, no Spark.

Random token corpora over a four-word vocabulary (so that score ties
are common) are merged into posting blocks by the build's merge kernel
with a small block size (so that a term spans many blocks), over one
or two shards. For both block codecs, OR, AND and m-of-n queries with
a random k and a random tombstone set, the merged shard top-ks must
equal the brute-force oracle exactly: the same doc ids in the same
order and the same float64 scores. With tombstones the oracle is
brute's full ranking with the tombstoned ids removed, cut to k.
"""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ela_lib_spark.functions.xxh import spark_xxhash64
from ela_lib_spark.index.build import _merge_batch_vectorized
from ela_lib_spark.index.codecs import encode_chunks
from ela_lib_spark.oracle.brute import brute_topk
from ela_lib_spark.query.wand import _shard_topk_fn

VOCAB = ["a", "b", "c", "d"]
DOC_BITS = 40


@st.composite
def kernel_input(draw):
    """({doc_id: tokens}, query terms, mode, min_match, k, tombstones,
    block size)."""
    n_shards = draw(st.integers(1, 2))
    docs = {}
    for shard in range(n_shards):
        for d in sorted(draw(st.sets(st.integers(0, 60), min_size=1, max_size=25))):
            docs[(shard << DOC_BITS) + d] = draw(
                st.lists(st.sampled_from(VOCAB), min_size=1, max_size=6))
    terms = draw(st.lists(st.sampled_from(VOCAB + ["zz"]), min_size=1,
                          max_size=4, unique=True))
    mode = draw(st.sampled_from(["OR", "AND"]))
    min_match = draw(st.none() | st.integers(1, len(terms))) if mode == "OR" else None
    k = draw(st.integers(1, 6))
    dead = sorted(draw(st.sets(st.sampled_from(sorted(docs)), max_size=len(docs) // 3)))
    block_size = draw(st.sampled_from([1, 2, 3, 128]))
    return docs, terms, mode, min_match, k, np.array(dead, np.int64), block_size


def _blocks(docs, avg_dl, codec, block_size):
    """Posting blocks of the corpus, one chunk per (term, shard)."""
    rows = sorted((spark_xxhash64(t), d >> DOC_BITS, d, toks.count(t), len(toks))
                  for d, toks in docs.items() for t in set(toks))
    term, shard, ids, tfs, dls = (np.array(c, np.int64) for c in zip(*rows))
    new = np.r_[True, (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])]
    counts = np.diff(np.r_[np.flatnonzero(new), len(term)])
    d, t, l, first = encode_chunks(ids, tfs, dls, counts)
    chunks = pd.DataFrame({"term_id": term[new], "shard": shard[new], "doc_ids": d,
                           "tfs": t, "dls": l, "n_docs": counts, "first_doc_id": first})
    return _merge_batch_vectorized(chunks, avg_dl, codec, block_size)


# A tie at the block-max bound: the k-th score equals the ub of a
# segment whose doc wins the tie on doc_id, so only a strict skip
# (ub < θ) keeps it.
TIE_AT_BOUND = ({0: ["a"],
                 (1 << DOC_BITS) + 0: ["a", "a", "a", "b", "c", "c"],
                 (1 << DOC_BITS) + 1: ["a", "a", "a", "b", "c", "c"],
                 (1 << DOC_BITS) + 2: ["a"],
                 (1 << DOC_BITS) + 3: ["b"],
                 (1 << DOC_BITS) + 4: ["a", "a", "a", "b", "c", "c"]},
                ["a", "b"], "AND", None, 1, np.array([], np.int64), 2)

# A tie one ulp above the bound: docs S+5 and S+7 score the same, but the
# block [S+4, S+5] gets a ub one ulp under that score. S+7's block has
# the higher ub and is scored first, so without the kernel's float margin
# the k-th score θ prunes S+5, which wins the tie on doc_id.
S = 1 << DOC_BITS
TIE_ULP_UNDER_BOUND = ({0: ["a"], 1: ["a"], 2: ["a"], S: ["a"], S + 1: ["a"] * 5,
                        S + 2: ["a"] * 6, S + 3: ["a"] * 6, S + 4: ["a"] * 5 + ["b"],
                        S + 5: ["a", "b"], S + 6: ["b"], S + 7: ["a", "b"],
                        S + 8: ["a"] * 3, S + 9: ["a"] * 6, S + 10: ["a"] * 3 + ["b"] * 2},
                       ["b"], "AND", None, 2, np.array([0, S + 6], np.int64), 2)


@settings(max_examples=150, deadline=None)
@given(kernel_input())
@example(TIE_AT_BOUND)
@example(TIE_ULP_UNDER_BOUND)
def test_shard_kernel_rank_identical_to_brute(case):
    docs, terms, mode, min_match, k, dead, block_size = case
    n_docs = len(docs)
    avg_dl = sum(len(v) for v in docs.values()) / n_docs
    ranked = brute_topk(docs, terms, mode, n_docs, n_docs=n_docs, avg_dl=avg_dl,
                        min_match=min_match)
    want = [(d, s) for d, s in ranked if d not in set(dead.tolist())][:k]
    for codec in ("varint", "pfor"):
        blk = _blocks(docs, avg_dl, codec, block_size)
        df = blk.groupby("term_id")["n_docs"].sum().to_dict()
        q = blk[blk["term_id"].isin([spark_xxhash64(t) for t in terms])]
        fn = _shard_topk_fn(terms, mode, k, n_docs, avg_dl, codec, df,
                            deleted=dead if len(dead) else None, min_match=min_match)
        tops = [fn(g.reset_index(drop=True)) for _, g in q.groupby("shard")]
        got = sorted(((int(d), float(s)) for top in tops
                      for d, s in zip(top["doc_id"], top["score"])),
                     key=lambda r: (-r[1], r[0]))[:k]
        assert got == want, codec
