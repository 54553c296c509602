"""End-to-end index with the PForDelta codec (the merge kernel's
per-block encode) — rank-identity must hold for both codecs."""

import os

from ela_lib_spark.index.build import build_index, load_index
from ela_lib_spark.oracle.brute import brute_topk
from ela_lib_spark.query.wand import wand_topk
from ela_lib_spark.sources.synth import reference_queries


def test_pfor_index_rank_identity(spark, tmp_root, pages_path, corpus_tokens):
    out = os.path.join(tmp_root, "idx_pfor")
    pages = spark.read.parquet(pages_path)
    m = build_index(spark, pages, out, n_buckets=8, n_shards=4,
                    use_html=True, codec="pfor")
    assert m["codec"] == "pfor"
    idx = load_index(spark, out)
    for q in reference_queries()[:3] + [reference_queries()[8]]:
        want = brute_topk(corpus_tokens, q["terms"], q["mode"], k=10,
                          n_docs=m["n_docs"], avg_dl=m["avg_dl"])
        got = [(r.doc_id, r.score)
               for r in wand_topk(idx, q["terms"], q["mode"], k=10).collect()]
        assert got == want, q["name"]
