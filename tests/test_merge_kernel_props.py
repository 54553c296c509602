"""Property test for the salted-merge kernel
(index/build._merge_stream_fn) — pure pandas/numpy, no Spark.

Random chunk stores whose chunks of one (term, shard) group cover
INTERLEAVED doc ranges (as read splits over hash-scattered buckets
produce), a random tombstone set, and a random split of the sorted
chunk rows into input batches. For both block codecs the merged
blocks must decode to exactly the input postings minus the
tombstones, tiled into `block_size` blocks in doc order, with the
block's max BM25 impact. Neither input nor output carries a df.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ela_lib_spark import BM25_B, BM25_K1
from ela_lib_spark.index.build import _merge_stream_fn
from ela_lib_spark.index.codecs import decode_block, varint_encode

DOC_BITS = 40
AVG_DL = 37.5


@st.composite
def merge_input(draw):
    """(sorted chunk rows, {(term, shard): [(doc, tf, dl)]}, tombstones,
    batch cut points, block size)."""
    truth = {}
    rows = []
    for shard in range(draw(st.integers(1, 3))):
        for term in range(draw(st.integers(1, 3))):
            if not draw(st.booleans()):
                continue
            docs = sorted(draw(st.sets(st.integers(0, 300), min_size=1,
                                       max_size=20)))
            posts = [((shard << DOC_BITS) + d, draw(st.integers(1, 9)),
                      draw(st.integers(1, 400))) for d in docs]
            truth[(term, shard)] = posts
            # each posting goes to one of k chunks: every chunk is
            # doc-ascending, their ranges interleave
            k = draw(st.integers(1, 3))
            owner = [draw(st.integers(0, k - 1)) for _ in posts]
            for c in range(k):
                mine = [p for p, o in zip(posts, owner) if o == c]
                if not mine:
                    continue
                ids = np.array([p[0] for p in mine], np.int64)
                rows.append({
                    "term_id": term, "part_id": shard, "shard": shard,
                    "doc_ids": varint_encode(np.diff(ids, prepend=ids[0])),
                    "tfs": varint_encode(np.array([p[1] for p in mine])),
                    "dls": varint_encode(np.array([p[2] for p in mine])),
                    "n_docs": len(mine), "first_doc_id": int(ids[0]),
                })
    if not rows:
        rows.append({"term_id": 0, "part_id": 0, "shard": 0,
                     "doc_ids": varint_encode(np.zeros(1, np.int64)),
                     "tfs": varint_encode(np.ones(1, np.int64)),
                     "dls": varint_encode(np.ones(1, np.int64)),
                     "n_docs": 1, "first_doc_id": 0})
        truth[(0, 0)] = [(0, 1, 1)]
    pdf = pd.DataFrame(rows).sort_values(["term_id", "shard", "first_doc_id"],
                          ignore_index=True)
    all_docs = sorted({p[0] for v in truth.values() for p in v})
    dead = np.array(sorted(draw(st.sets(st.sampled_from(all_docs),
                                        max_size=len(all_docs)))), np.int64)
    cuts = sorted(draw(st.sets(st.integers(1, max(1, len(pdf) - 1)),
                               max_size=3)))
    block_size = draw(st.sampled_from([1, 2, 3, 5, 128]))
    return pdf, truth, dead, cuts, block_size


def _expected(pdf, truth, dead, block_size):
    dead_set = set(dead.tolist())
    out = {}
    for (term, shard), posts in truth.items():
        live = sorted(p for p in posts if p[0] not in dead_set)
        for blk, s in enumerate(range(0, len(live), block_size)):
            ids, tfs, dls = (np.array(x, np.int64)
                             for x in zip(*live[s:s + block_size]))
            impact = tfs / (tfs + BM25_K1 * (1 - BM25_B + BM25_B * dls / AVG_DL))
            out[(term, shard, blk)] = (ids.tolist(), tfs.tolist(),
                                       dls.tolist(), float(impact.max()))
    return out


@settings(max_examples=80, deadline=None)
@given(merge_input())
def test_merge_kernel_purges_tombstones_and_tiles_blocks(case):
    pdf, truth, dead, cuts, block_size = case
    bounds = [0] + cuts + [len(pdf)]
    batches = [pdf[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    want = _expected(pdf, truth, dead, block_size)
    for codec in ("varint", "pfor"):
        fn = _merge_stream_fn(AVG_DL, codec, block_size, deleted=dead)
        got = {}
        for f in fn(iter(batches)):
            for r in f.itertuples(index=False):
                ids, tfs, dls = decode_block(r.doc_ids_delta, r.tfs, r.dls,
                                             int(r.n_docs),
                                             int(r.first_doc_id), codec)
                assert (r.first_doc_id, r.last_doc_id) == (ids[0], ids[-1])
                key = (int(r.term_id), int(r.shard), int(r.block_id))
                assert key not in got
                got[key] = (ids.tolist(), tfs.tolist(), dls.tolist(),
                            float(r.block_max_impact))
                assert "df" not in f.columns
        assert got == want, codec
