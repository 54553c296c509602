"""End-to-end index build + rank-identity of the WAND executor vs the
brute-force oracle (FIXTURES.md §2) — exact float64 score equality."""

import pytest
from pyspark.sql import functions as F

from ela_lib_spark.functions.xxh import spark_xxhash64
from ela_lib_spark.index.build import METRICS_TERM_ID, chunks_path, done_buckets
from ela_lib_spark.index.codecs import decode_block
from ela_lib_spark.oracle.brute import brute_topk
from ela_lib_spark.errors import FlatCorpusError
from ela_lib_spark.query.bm25 import bm25_topk_flat, flat_postings, prepare_flat
from ela_lib_spark.query.wand import wand_topk
from ela_lib_spark.sources.synth import reference_queries
from tests.conftest import N_TEST_DOCS


def test_manifest_counts(index):
    m = index["manifest"]
    assert m["n_docs"] == N_TEST_DOCS
    assert index["doc_stats"].count() == N_TEST_DOCS
    assert m["avg_dl"] > 0


def test_doc_ids_unique_and_sorted_within_shard(index):
    ds = index["doc_stats"]
    assert ds.select("doc_id").distinct().count() == ds.count()


def test_term_lookup_df_matches_truth(index, corpus_tokens):
    """A term's df is the sum of its blocks' n_docs, read by the one
    per-query term lookup: pinned (the driver-side envelope rows) and
    unpinned (a collect over the term-filtered postings). Both equal the
    number of docs containing the term."""
    from ela_lib_spark.query.wand import prepare_serving, term_lookup

    served = prepare_serving(dict(index))
    try:
        assert "envelopes" not in index and "envelopes_driver" in served
        for term in ["term0000", "term0050", "term3000"]:
            truth = sum(1 for toks in corpus_tokens.values() if term in toks)
            tid = spark_xxhash64(term)
            for idx in (index, served):
                q = idx["postings"].filter(F.col("term_id") == tid)
                assert sum(r[4] for r in term_lookup(idx, q, [tid])) == truth
    finally:
        served["postings"].unpersist()
        served["envelopes"].unpersist()


def test_postings_decode_matches_truth(index, corpus_tokens):
    term = "term0123"
    truth = {
        d: toks.count(term) for d, toks in corpus_tokens.items() if term in toks
    }
    rows = (
        index["postings"]
        .filter(F.col("term_id") == spark_xxhash64(term))
        .orderBy("shard", "block_id")
        .collect()
    )
    got = {}
    for r in rows:
        ids, tfs, dls = decode_block(
            r.doc_ids_delta, r.tfs, r.dls, r.n_docs, r.first_doc_id,
            index["manifest"]["codec"],
        )
        for d, tf, dl in zip(ids, tfs, dls):
            assert d not in got
            got[int(d)] = int(tf)
            assert dl == len(corpus_tokens[int(d)])
    assert got == truth


def test_ledger_covers_all_buckets(spark, index):
    """The chunk store's per-bucket metrics rows (the resume set and the
    source of the corpus stats) count every doc, and only there."""
    from tests.conftest import N_BUCKETS

    rows = (
        spark.read.parquet(chunks_path(index["dir"]))
        .filter((F.col("is_m") == 1) & (F.col("term_id") == METRICS_TERM_ID))
        .groupBy("part_id").agg(F.sum("n_docs").alias("n_docs"))
        .collect()
    )
    assert sum(r.n_docs for r in rows) == N_TEST_DOCS
    assert len(rows) <= N_BUCKETS
    assert done_buckets(spark, index["dir"]) == {r.part_id for r in rows}
    assert index["postings"].filter(F.col("term_id") == METRICS_TERM_ID).count() == 0


@pytest.mark.parametrize("q", reference_queries(), ids=lambda q: q["name"])
def test_wand_rank_identical_to_brute(spark, index, corpus_tokens, q):
    m = index["manifest"]
    want = brute_topk(
        corpus_tokens, q["terms"], q["mode"], k=10,
        n_docs=m["n_docs"], avg_dl=m["avg_dl"],
    )
    got = [
        (r.doc_id, r.score)
        for r in wand_topk(index, q["terms"], q["mode"], k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], q["name"]
    # exact float64 equality — shared scoring kernel + fixed term order
    assert all(gs == ws for (_, gs), (_, ws) in zip(got, want)), q["name"]


def test_flat_path_matches_brute_ranks(spark, index, corpus_tokens):
    """Closed-form built-in path: ranks must match (scores to 1e-9 —
    JVM sum order may differ in the last ulp)."""
    m = index["manifest"]
    tokens_df = spark.createDataFrame(
        [(d, t) for d, t in corpus_tokens.items()], "doc_id long, tokens array<string>"
    )
    flat = prepare_flat(tokens_df)
    try:
        assert flat["n_docs"] == m["n_docs"]
        assert abs(flat["avg_dl"] - m["avg_dl"]) < 1e-9
        for q in reference_queries()[:2]:
            want = brute_topk(corpus_tokens, q["terms"], q["mode"], k=10,
                              n_docs=m["n_docs"], avg_dl=m["avg_dl"])
            got = bm25_topk_flat(
                flat["postings"], None, m["n_docs"], m["avg_dl"],
                q["terms"], q["mode"], k=10,
            ).collect()
            assert [r.doc_id for r in got] == [d for d, _ in want], q["name"]
            assert all(
                abs(r.score - ws) < 1e-9 for r, (_, ws) in zip(got, want)
            ), q["name"]
        # one input shape: unprepared postings and a doc_stats join are refused
        with pytest.raises(FlatCorpusError, match="prepare_flat"):
            bm25_topk_flat(flat_postings(tokens_df), None, 1, 1.0, ["term0001"])
        with pytest.raises(FlatCorpusError, match="doc_stats"):
            bm25_topk_flat(flat["postings"], index["doc_stats"], 1, 1.0, ["term0001"])
    finally:
        flat["postings"].unpersist()


def test_serving_envelope_prefilter_rank_identical(spark, index, corpus_tokens):
    """The serving-mode literal AND prefilter (cached envelope table →
    driver-collected per-shard bounds pushed as literal predicates)
    must return exactly what the in-plan prefilter path returns —
    including the no-qualifying-shard empty case."""
    from ela_lib_spark.oracle.brute import brute_topk
    from ela_lib_spark.query.wand import prepare_serving, wand_topk

    served = prepare_serving(dict(index))
    m = index["manifest"]
    for q in [x for x in reference_queries() if x["mode"] == "AND"]:
        want = brute_topk(corpus_tokens, q["terms"], "AND", 10,
                          n_docs=m["n_docs"], avg_dl=m["avg_dl"])
        got = [(r.doc_id, r.score)
               for r in wand_topk(served, q["terms"], "AND", 10).collect()]
        assert got == want, q["name"]
    # absent term: envelope path short-circuits to an empty frame
    assert wand_topk(served, ["zzz_not_a_term", "term0000"], "AND", 10).count() == 0


def test_wand_min_match_rank_identical(spark, index, corpus_tokens):
    """m-of-n semantics (r3): min_match=m generalizes OR (m=1) and AND
    (m=n); rank-identical to the brute oracle at every m."""
    from ela_lib_spark.oracle.brute import brute_topk as _brute

    m = index["manifest"]
    terms = ["term0000", "term0002", "term0045"]
    for mm in (1, 2, 3):
        want = _brute(corpus_tokens, terms, "OR", 10, n_docs=m["n_docs"],
                      avg_dl=m["avg_dl"], min_match=mm)
        got = [(r.doc_id, r.score) for r in
               wand_topk(index, terms, "OR", 10, min_match=mm).collect()]
        assert got == want, mm
    # min_match == n coincides with AND
    got3 = [(r.doc_id, r.score) for r in
            wand_topk(index, terms, "OR", 10, min_match=3).collect()]
    got_and = [(r.doc_id, r.score) for r in
               wand_topk(index, terms, "AND", 10).collect()]
    assert got3 == got_and
    # unsatisfiable threshold → empty
    assert wand_topk(index, terms, "OR", 10, min_match=4).count() == 0


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_scattered_bucket_merge_rank_identical(spark, tmp_root, codec):
    """Regression (r5): the docs table is HASH-partitioned by bucket,
    so with n_buckets ≫ partitions each read split's chunk covers a
    scattered bucket subset whose doc-id range interleaves other
    splits' — the merge must sort postings within each (term, shard)
    group rather than trust chunk-concatenation order. Pre-fix this
    emitted misordered blocks and inverted [first, last] envelopes:
    measured at 20k docs / 256 buckets, 4/4 probe queries (AND and OR)
    returned WRONG top-k. This test builds at a bucket:partition ratio
    that forces the interleave and asserts (a) a clean deep fsck and
    (b) exact rank-identity vs the brute oracle. Parametrized over
    both codecs: the varint path sorts in the batch-vectorized kernel,
    PFor in the per-group kernel — separate code paths, same
    requirement."""
    import os

    from ela_lib_spark.index.build import build_index, ids_with_tokens, load_index
    from ela_lib_spark.index.validate import validate_index
    from ela_lib_spark.sources.synth import synth_pages_df

    idx_dir = os.path.join(tmp_root, f"scatter_idx_{codec}")
    pages = synth_pages_df(spark, 900).cache()
    m = build_index(spark, pages, idx_dir, n_buckets=64, n_shards=2,
                    use_html=True, codec=codec)
    res = validate_index(spark, idx_dir, deep=True)
    assert res["ok"], res["checks"]
    idx = load_index(spark, idx_dir)
    doc_tokens = {
        r.doc_id: list(r.tokens)
        for r in ids_with_tokens(pages, 64, use_html=True).collect()
    }
    for terms, mode in ((["term0000", "term0002"], "AND"),
                        (["term0001"], "OR"),
                        (["term0004", "term0007", "term0010"], "AND"),
                        (["term0003", "term0050"], "OR")):
        got = [(r.doc_id, round(r.score, 9))
               for r in wand_topk(idx, terms, mode, 10).collect()]
        want = [(d, round(s, 9))
                for d, s in brute_topk(doc_tokens, terms, mode, 10,
                                       n_docs=m["n_docs"],
                                       avg_dl=m["avg_dl"])]
        assert got == want, (terms, mode)


def test_scattered_bucket_lifecycle_deep_fsck(spark, tmp_root):
    """The interleaved-chunk ordering requirement must hold through
    every maintenance path that re-merges postings (minor tier build,
    major compaction, GC rewrite), not just the initial build. Each
    step must leave a deep-fsck-clean index and exact rank-identity
    vs the brute oracle over the live corpus."""
    import os

    from ela_lib_spark.index.build import build_index, load_index
    from ela_lib_spark.index.validate import validate_index
    from ela_lib_spark.sources.synth import synth_pages_df
    from ela_lib_spark.streaming.incremental import apply_delta_batch, compact_index

    idx_dir = os.path.join(tmp_root, "scatter_life_idx")
    pages = synth_pages_df(spark, 1000).cache()
    build_index(spark, pages.limit(860), idx_dir, n_buckets=64, n_shards=2,
                use_html=True)
    extra = pages.subtract(pages.limit(860))
    apply_delta_batch(extra, 0, idx_dir, n_buckets=64, mode="upsert")
    apply_delta_batch(pages.limit(30).select("url"), 1, idx_dir,
                      n_buckets=64, mode="delete")

    from ela_lib_spark.functions.text import extract_text, tokenize_col

    def check(step, compare_flat):
        res = validate_index(spark, idx_dir, deep=True)
        assert res["ok"], (step, {k: v for k, v in res["checks"].items()
                                  if not v["ok"]})
        if not compare_flat:
            # while tombstoned postings remain un-purged (pre-compact;
            # minor, whose tier merge purges only the DELTA epochs it
            # covers), per-term df still counts deleted docs — the
            # documented Lucene-style stats approximation (idf skew
            # until a purging merge), so the live-corpus flat recompute
            # legitimately disagrees on scores; fsck-only here
            return
        idx = load_index(spark, idx_dir)
        m = idx["manifest"]
        # independent scorer over the LIVE corpus: tokens rebuilt from
        # the raw pages, doc ids taken from the index's own live doc
        # surface (covers delta docs' epoch-offset ids; excludes
        # tombstoned urls)
        live = idx["doc_stats"].select("doc_id", "url")
        toks = (
            pages.select(
                "url",
                tokenize_col(extract_text(F.col("html"))).alias("tokens"))
            .join(live, "url").select("doc_id", "tokens")
        )
        flat = prepare_flat(toks)["postings"]
        for terms, mode in ((["term0000", "term0002"], "AND"),
                            (["term0001"], "OR"),
                            (["term0004", "term0010"], "AND")):
            got = [(r.doc_id, round(r.score, 9))
                   for r in wand_topk(idx, terms, mode, 10).collect()]
            want = [(r.doc_id, round(r.score, 9))
                    for r in bm25_topk_flat(
                        flat, None, m["n_docs"], m["avg_dl"], terms, mode, 10
                    ).collect()]
            assert got == want, (step, terms, mode, got[:3], want[:3])
        flat.unpersist()

    check("pre-compact", compare_flat=False)
    res = compact_index(spark, idx_dir, mode="minor")
    assert res["mode"] == "minor"
    check("minor", compare_flat=False)
    res = compact_index(spark, idx_dir, mode="major")
    assert res["mode"] == "major"
    check("major", compare_flat=True)
    res = compact_index(spark, idx_dir, mode="gc")
    assert res["mode"] == "gc"
    check("gc", compare_flat=True)
