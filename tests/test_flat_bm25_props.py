"""Property test for the flat BM25 path (query/bm25.py).

Random small token corpora and random OR / AND / m-of-n queries:
`bm25_topk_flat` over `prepare_flat`'s corpus must rank exactly as the
brute-force oracle (oracle/brute.brute_topk) — identical doc ids, and
scores to 1e-9 (the JVM evaluates the same formula, but may round a
log or a sum differently in the last ulp). The corpus constants are
checked against the token lists themselves.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from ela_lib_spark.oracle.brute import brute_topk
from ela_lib_spark.query.bm25 import bm25_topk_flat, prepare_flat

VOCAB = [f"t{i}" for i in range(8)]
TERM = st.sampled_from(VOCAB)


@st.composite
def corpus_and_query(draw):
    """({doc_id: tokens}, terms, mode, min_match, k)."""
    docs = draw(st.lists(st.lists(TERM, max_size=12), min_size=1, max_size=30))
    ids = draw(st.lists(st.integers(0, 1 << 40), min_size=len(docs),
                        max_size=len(docs), unique=True))
    terms = draw(st.lists(TERM, min_size=1, max_size=4, unique=True))
    mode, min_match = draw(st.sampled_from([("OR", None), ("AND", None), ("OR", 2)]))
    return dict(zip(ids, docs)), terms, mode, min_match, draw(st.integers(1, 12))


@settings(max_examples=25, deadline=None)
@given(corpus_and_query())
def test_flat_topk_matches_brute(spark, case):
    doc_tokens, terms, mode, min_match, k = case
    flat = prepare_flat(spark.createDataFrame(
        list(doc_tokens.items()), "doc_id long, tokens array<string>"))
    try:
        n_docs, avg_dl = flat["n_docs"], flat["avg_dl"]
        assert n_docs == len(doc_tokens)
        assert abs(avg_dl - sum(map(len, doc_tokens.values())) / n_docs) < 1e-9
        got = [(r.doc_id, r.score) for r in bm25_topk_flat(
            flat["postings"], None, n_docs, avg_dl, terms, mode, k,
            min_match=min_match).collect()]
    finally:
        flat["postings"].unpersist()
    want = brute_topk(doc_tokens, terms, mode, k, n_docs=n_docs, avg_dl=avg_dl,
                      min_match=min_match)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(g - w) < 1e-9 for (_, g), (_, w) in zip(got, want))
