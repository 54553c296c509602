"""Time the WAND shard kernel (query/wand._shard_topk_fn) against decoding every
block of the query's terms; numpy only, no Spark. Per size, a seeded Zipf corpus
(3,000 terms, ~60 tokens a doc, 4 shards) is merged into blocks by
index/build._merge_batch_vectorized; a seeded OR / AND / 2-of-3 stream (k = 10)
runs on every shard. One JSON line per size: ms summed over queries (best of 3).
    python tools/wand_kernel.py [--docs 1500,20000] [--codec varint] [--queries 40]
"""

import argparse
import json
import os
import sys
import timeit

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ela_lib_spark.functions.xxh import spark_xxhash64  # noqa: E402
from ela_lib_spark.index.build import _merge_batch_vectorized  # noqa: E402
from ela_lib_spark.index.codecs import decode_block, encode_chunks  # noqa: E402
from ela_lib_spark.query.wand import _shard_topk_fn  # noqa: E402
from ela_lib_spark.schemas import BLOCK_SIZE  # noqa: E402

VOCAB, SHARDS = 3000, 4
NAMES = [f"term{r:04d}" for r in range(VOCAB)]
IDS = np.array([spark_xxhash64(t) for t in NAMES], np.int64)
P = 1.0 / np.arange(1, VOCAB + 1)
P /= P.sum()


def blocks(n_docs: int, codec: str, rng) -> tuple[pd.DataFrame, float]:
    dl = rng.poisson(60, n_docs) + 1
    tok = rng.choice(VOCAB, dl.sum(), p=P)
    key, tf = np.unique(tok * n_docs + np.repeat(np.arange(n_docs), dl), return_counts=True)
    term, doc = key // n_docs, key % n_docs
    shard, ids = doc % SHARDS, (doc % SHARDS << 40) + doc // SHARDS
    o = np.lexsort((ids, shard, term))
    term, shard, ids, tf, dls = term[o], shard[o], ids[o], tf[o], dl[doc[o]]
    new = np.r_[True, (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])]
    counts = np.diff(np.r_[np.flatnonzero(new), len(term)])
    d, t, l, f = encode_chunks(ids, tf, dls, counts)
    chunks = pd.DataFrame({"term_id": IDS[term[new]], "shard": shard[new], "doc_ids": d,
                           "tfs": t, "dls": l, "n_docs": counts, "first_doc_id": f})
    return _merge_batch_vectorized(chunks, dl.mean(), codec, BLOCK_SIZE), float(dl.mean())


def best_ms(fn) -> float:
    return 1000 * min(timeit.repeat(fn, number=1, repeat=3))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="1500,20000")
    ap.add_argument("--codec", default="varint")
    ap.add_argument("--queries", type=int, default=40)
    a = ap.parse_args()
    for n_docs in map(int, a.docs.split(",")):
        rng = np.random.default_rng(n_docs)
        blk, avg_dl = blocks(n_docs, a.codec, rng)
        df = blk.groupby("term_id")["n_docs"].sum().to_dict()
        out = {"docs": n_docs, "codec": a.codec, "queries": a.queries, "blocks": 0,
               "kernel_ms": 0.0, "decode_all_ms": 0.0}
        for q in range(a.queries):
            mode, nq, mm = (("OR", 1 + q % 3, None), ("AND", 2, None), ("OR", 3, 2))[q % 3]
            terms = [NAMES[r] for r in rng.choice(VOCAB, nq, replace=False, p=P)]
            rows = blk[blk["term_id"].isin([spark_xxhash64(t) for t in terms])]
            shards = [g for _, g in rows.groupby("shard")]
            fn = _shard_topk_fn(terms, mode, 10, n_docs, avg_dl, a.codec, df, min_match=mm)
            out["kernel_ms"] += best_ms(lambda: [fn(g) for g in shards])
            out["decode_all_ms"] += best_ms(lambda: [decode_block(*r, a.codec) for r in rows[[
                "doc_ids_delta", "tfs", "dls", "n_docs", "first_doc_id"]].itertuples(index=False)])
            out["blocks"] += len(rows)
        out["kernel_per_decode"] = out["kernel_ms"] / out["decode_all_ms"]
        print(json.dumps({k: round(v, 2) if isinstance(v, float) else v for k, v in out.items()}))


if __name__ == "__main__":
    main()
