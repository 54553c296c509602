"""Plan audits: pushdown, broadcast, codegen — the 100-TB checklist.

These assert the *shape* of the physical plan, not results: a scan that
doesn't push its filter or a dim join that doesn't broadcast would pass
correctness and still be wrong at scale.
"""

import collections
import os

import pytest
from pyspark.sql import functions as F

from ela_lib_spark.plans.dsl import dsl_filter
from ela_lib_spark.plans.explain import explain_str


def test_postings_term_filter_pushdown(spark, index_dir, tmp_root):
    import os
    import shutil

    # fresh path: the session fixture caches the canonical postings df,
    # and Spark substitutes InMemoryRelation for any matching plan —
    # which would hide the parquet PushedFilters this test asserts
    src = os.path.join(index_dir, "postings")
    dst = os.path.join(tmp_root, "postings_pushdown_copy")
    if not os.path.exists(dst):
        shutil.copytree(src, dst)
    from ela_lib_spark.functions.xxh import term_ids

    postings = spark.read.parquet(dst)
    q = postings.filter(F.col("term_id").isin(term_ids(["term0001", "term0002"])))
    plan = explain_str(q)
    assert "PushedFilters: [" in plan and "In(term_id" in plan, plan[:2000]


def test_dsl_filter_pushdown_to_parquet(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    f = dsl_filter(pages, {"bool": {"must": [{"term": {"lang": "de"}},
                                             {"range": {"warc_ts": {"gte": "2024-01-01"}}}]}})
    plan = explain_str(f.select("url"))
    assert "EqualTo(lang,de)" in plan
    # column pruning: html/text must not be read for a url-only projection
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" not in read_schema and "text" not in read_schema


def test_flat_bm25_runs_one_job_per_query(spark, corpus_tokens):
    """prepare_flat hash-partitions the cached postings by doc_id, which
    already satisfies each query's groupBy(doc_id): an OR, AND or m-of-n
    query runs one job with no exchange (a corpus partitioned by term
    pays a shuffle stage, two jobs, per query)."""
    from conftest import jobs_in

    from ela_lib_spark.query.bm25 import bm25_topk_flat, prepare_flat

    flat = prepare_flat(spark.createDataFrame(
        list(corpus_tokens.items()), "doc_id long, tokens array<string>"))
    try:
        for terms, mode, min_match in ((["term0001", "term0002"], "OR", None),
                                       (["term0001", "term0002"], "AND", None),
                                       (["term0000", "term0001", "term0002"], "OR", 2)):
            top = bm25_topk_flat(flat["postings"], None, flat["n_docs"], flat["avg_dl"],
                                 terms, mode, 10, min_match=min_match)
            with jobs_in(spark) as jobs:
                assert len(top.collect()) == 10
            assert len(jobs) == 1, (mode, min_match, jobs)
    finally:
        flat["postings"].unpersist()


def test_agg_is_partial_and_columnar(spark, pages_path):
    """Map-side combine (partial_count) + vectorized parquet scan
    (Batched: true) + pruned ReadSchema — AQE hides WholeStageCodegen
    labels in the non-final formatted plan, so assert the properties
    that matter instead."""
    pages = spark.read.parquet(pages_path)
    agg = pages.groupBy("lang").agg(F.count("*").alias("n"))
    plan = explain_str(agg)
    assert "partial_count" in plan
    assert "Batched: true" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" not in read_schema and "text" not in read_schema


def test_exact_dedup_no_full_row_shuffle(spark, pages_path):
    """The winners side of dedup_exact must shuffle only (hash, key)."""
    from ela_lib_spark.operators.dedup import dedup_exact

    pages = spark.read.parquet(pages_path)
    out = dedup_exact(pages, key="url", text_col="text")
    plan = explain_str(out)
    # left_semi broadcast or shuffled join — either is fine; the agg side
    # must show partial aggregation (map-side combine)
    assert "partial_min" in plan or "HashAggregate" in plan


def test_metrics_sidecar_partition_pruning(spark, index_dir):
    """The stats/resume scan must touch only the is_m=1 sidecar
    partition — at 10^12 docs the posting partition is ~500 TB and the
    sidecar is megabytes."""
    import os

    from ela_lib_spark.index.build import METRICS_TERM_ID, chunks_path

    chunks = spark.read.parquet(chunks_path(index_dir))
    q = chunks.filter(
        (F.col("is_m") == 1) & (F.col("term_id") == METRICS_TERM_ID)
    ).select("part_id")
    plan = explain_str(q)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "is_m" in pf[0], plan[:2000]
    # and the data files actually live under separate partition dirs
    assert os.path.isdir(os.path.join(chunks_path(index_dir), "is_m=1"))


def test_and_window_prunes_head_blocks(spark, index):
    """head∧rare AND: the literal window an unpinned AND query builds
    from its term lookup must drop a meaningful share of the head
    term's blocks before the shard kernel reads them (IO saving on top
    of block-max decode skipping), and never drop a block that could
    hold an AND-result doc (rank-identity is asserted separately by
    test_index_and_wand over AND queries)."""
    from ela_lib_spark.functions.xxh import spark_xxhash64
    from ela_lib_spark.query.wand import and_window, term_lookup

    assert "envelopes" not in index  # the unpinned lookup
    ids = [spark_xxhash64(t) for t in ("term0003", "term5011")]
    q = index["postings"].filter(F.col("term_id").isin(ids))
    before = q.count()
    after = q.filter(and_window(term_lookup(index, q, ids), 2)).count()
    assert after < before, (before, after)


def test_pinned_wand_runs_one_job(spark, tmp_root, index, corpus_tokens, monkeypatch):
    """A pinned index reads every query's df and AND window from the
    driver-side envelope rows, so OR, AND and m-of-n queries each run
    exactly ONE Spark job — on a fresh index and on a minor-compacted
    (tiered) one. Above DRIVER_ENV_MAX_ROWS (patched to 0 for a third
    pin) the lookup filters and collects the cached envelope table
    instead: at most one more job, and the same ranks as the oracle."""
    from ela_lib_spark.index.build import build_index, load_index
    from ela_lib_spark.oracle.brute import brute_topk
    from ela_lib_spark.query import wand
    from ela_lib_spark.query.wand import prepare_serving, wand_topk
    from ela_lib_spark.sources.synth import synth_pages_df
    from ela_lib_spark.streaming.incremental import apply_delta_batch, compact_index

    from conftest import jobs_in

    idx_dir = os.path.join(tmp_root, "one_job_tiered_idx")
    pages = synth_pages_df(spark, 300)
    h = F.pmod(F.xxhash64("url"), F.lit(4))
    build_index(spark, pages.filter(h != 0), idx_dir, n_buckets=4, n_shards=2)
    apply_delta_batch(pages.filter(h == 0), 0, idx_dir, n_buckets=4)
    assert compact_index(spark, idx_dir, mode="minor")["compacted_epochs"] == 1
    served = [prepare_serving(dict(index)),
              prepare_serving(load_index(spark, idx_dir))]
    assert served[1]["manifest"]["tiers"]
    monkeypatch.setattr(wand, "DRIVER_ENV_MAX_ROWS", 0)
    env_table = prepare_serving(dict(index))
    assert "envelopes_driver" not in env_table
    queries = ((["term0000", "term0002"], "OR", None),
               (["term0002", "term0045"], "AND", None),
               (["term0005", "term0417", "term0003"], "OR", 2))
    m = index["manifest"]
    try:
        for idx in served:
            for terms, mode, mm in queries:
                with jobs_in(spark) as jobs:
                    rows = wand_topk(idx, terms, mode, 10, min_match=mm).collect()
                assert rows and len(jobs) == 1, (terms, mode, mm, jobs)
        for terms, mode, mm in queries:
            with jobs_in(spark) as jobs:
                rows = wand_topk(env_table, terms, mode, 10, min_match=mm).collect()
            assert len(jobs) <= 2, (terms, mode, mm, jobs)
            assert [(r.doc_id, r.score) for r in rows] == brute_topk(
                corpus_tokens, terms, mode, 10, n_docs=m["n_docs"],
                avg_dl=m["avg_dl"], min_match=mm), (terms, mode, mm)
    finally:
        for idx in served + [env_table]:
            idx["postings"].unpersist()
            idx["envelopes"].unpersist()


SEARCH_QUERIES = ((["term0000", "term0002"], "OR", None),
                  (["term0002", "term0045"], "AND", None),
                  (["term0005", "term0417", "term0003"], "OR", 2))
# a 3-clause bool over a parquet scan: must, should (analyzed match), must_not
BOOL_DSL = {"bool": {"must": [{"term": {"lang": "de"}}],
                     "should": [{"match": {"text": "term0001 term0002"}}],
                     "must_not": [{"range": {"warc_ts": {"lt": "2024-01-01"}}}]}}


@pytest.fixture(scope="module")
def served(spark, index, corpus_tokens, pages_path):
    """A pinned WAND index, a prepared flat corpus and the pages: the
    three search servers' inputs."""
    from ela_lib_spark.query.bm25 import prepare_flat
    from ela_lib_spark.query.wand import prepare_serving

    idx = prepare_serving(dict(index))
    flat = prepare_flat(spark.createDataFrame(
        list(corpus_tokens.items()), "doc_id long, tokens array<string>"))
    yield {"wand": idx, "flat": flat, "pages": spark.read.parquet(pages_path)}
    for df in (idx["postings"], idx["envelopes"], flat["postings"]):
        df.unpersist()


def _search_plans(served, terms, mode, mm):
    from ela_lib_spark.query.bm25 import bm25_topk_flat
    from ela_lib_spark.query.wand import wand_topk

    flat = served["flat"]
    return {
        "wand": lambda: wand_topk(served["wand"], terms, mode, 10, min_match=mm),
        "flat": lambda: bm25_topk_flat(flat["postings"], None, flat["n_docs"],
                                       flat["avg_dl"], terms, mode, 10, min_match=mm),
        "match": lambda: dsl_filter(served["pages"], {"bool": {
            "must" if mode == "AND" else "should":
                [{"match": {"text": t}} for t in terms]}}),
    }


def test_search_plans_in_few_py4j_calls(served):
    """Search plans are SQL text: a Column built call by call costs the
    driver several py4j round trips per call under Spark 4. A warm
    query plans WAND in ≤ 75 commands (~50 are applyInPandas itself),
    flat BM25 in ≤ 12 and a 3-clause DSL bool in ≤ 3 (py4j_calls leaves
    out proxy releases)."""
    from conftest import py4j_calls

    caps = {"wand": 75, "flat": 12}
    for terms, mode, mm in SEARCH_QUERIES:
        for name, plan in _search_plans(served, terms, mode, mm).items():
            if name not in caps:
                continue
            plan().collect()  # cold: worker start-up, first UDF registration
            with py4j_calls() as sent:
                df = plan()
            assert len(sent) <= caps[name], (name, terms, mode,
                                             collections.Counter(sent).most_common(6))
            assert df.collect()
    dsl_filter(served["pages"], BOOL_DSL).collect()
    with py4j_calls() as sent:
        dsl_filter(served["pages"], BOOL_DSL)
    assert len(sent) <= 3, sent


def test_serving_caches_survive_queries(spark, served):
    """spark.sql drops the temp view of each frame a statement names,
    and dropping a view of a cached frame uncaches it: after a mix of
    WAND, flat and match queries every serving cache must still be in
    the cache manager."""
    for terms, mode, mm in SEARCH_QUERIES:
        for plan in _search_plans(served, terms, mode, mm).values():
            plan().collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    pinned = {"wand postings": served["wand"]["postings"],
              "wand envelopes": served["wand"]["envelopes"],
              "flat postings": served["flat"]["postings"]}
    assert {n: cm.lookupCachedData(df._jdf).isDefined() for n, df in pinned.items()} \
        == dict.fromkeys(pinned, True)


def test_typed_errors(spark, tmp_root):
    """O9: actionable failures raise typed EngineError subclasses."""
    import os

    import pytest as _pytest

    from ela_lib_spark.errors import EngineError, IndexNotFoundError
    from ela_lib_spark.index.build import load_index
    from ela_lib_spark.plans.dsl import DslError, dsl_filter

    with _pytest.raises(IndexNotFoundError):
        load_index(spark, os.path.join(tmp_root, "nope"))
    d = spark.range(3).selectExpr("cast(id as string) as url")
    with _pytest.raises(DslError):
        dsl_filter(d, {"bogus": {}}, key_col="url")
    assert issubclass(DslError, EngineError)
    assert issubclass(IndexNotFoundError, EngineError)


def test_head_term_salting_bounds_merge_groups(spark, index):
    """The skew guarantee, asserted on data: a head term present in
    ~every doc must be SPLIT across all shards (doc-range salt), and no
    (term, shard) merge group may hold more postings than its bucket
    range can contain — the property that makes a 50%-df term at 10^12
    docs mergeable in bounded memory."""
    from ela_lib_spark.functions.xxh import spark_xxhash64

    from tests.conftest import N_SHARDS

    n_docs = index["manifest"]["n_docs"]
    head = spark_xxhash64("term0000")
    g = (
        index["postings"].filter(F.col("term_id") == head)
        .groupBy("shard").agg(F.sum("n_docs").alias("n"))
        .collect()
    )
    assert len(g) == N_SHARDS, "head term not split across all shards"
    df_total = sum(r.n for r in g)
    assert df_total > 0.5 * n_docs, "term0000 should be a head term"
    bound = 2 * n_docs / N_SHARDS  # bucket ranges are hash-balanced
    assert all(r.n <= bound for r in g), (g, bound)


def test_ann_corpus_partition_pruning(spark, tmp_root):
    """VERDICT r2 #3: ANN queries over a materialized corpus must hit
    the `_bucket`/`_list` PARTITION column (directory pruning), not
    recompute assignments over the full corpus — and return exactly
    what the inline-assignment path returns."""
    import os

    import numpy as np

    from ela_lib_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_srp,
        write_ann_corpus,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rng.standard_normal(16).tolist()

    srp_path = os.path.join(tmp_root, "ann_srp_corpus")
    write_ann_corpus(emb, srp_path, dim=16, kind="srp", n_planes=6)
    assert any(e.startswith("_bucket=") for e in os.listdir(srp_path))
    indexed = ann_topk_srp((spark, srp_path), q, k=5, probe_hamming=1)
    plan = explain_str(indexed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "_bucket" in pf[0], plan[:2000]
    inline = ann_topk_srp(emb, q, k=5, n_planes=6, probe_hamming=1)
    assert [tuple(r) for r in indexed.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    ivf_path = os.path.join(tmp_root, "ann_ivf_corpus")
    write_ann_corpus(emb, ivf_path, dim=16, kind="ivf", n_lists=8)
    assert any(e.startswith("_list=") for e in os.listdir(ivf_path))
    indexed = ann_topk_ivf((spark, ivf_path), q, k=5, n_probe=3)
    plan = explain_str(indexed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "_list" in pf[0], plan[:2000]
    inline = ann_topk_ivf(emb, q, k=5, n_lists=8, n_probe=3)
    assert [tuple(r) for r in indexed.collect()] == [
        tuple(r) for r in inline.collect()
    ]


def test_knn_join_uses_stored_buckets(spark, tmp_root):
    """knn_join_srp over a materialized corpus must read the stored
    `_bucket` column (no corpus-side assignment recompute) and match
    the inline path exactly."""
    import os

    import numpy as np

    from ela_lib_spark.operators.similarity import knn_join_srp, write_ann_corpus

    rng = np.random.default_rng(4)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(16).tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(i, rng.standard_normal(16).tolist()) for i in range(5)],
        "q_id long, embedding array<double>",
    )
    path = os.path.join(tmp_root, "knn_srp_corpus")
    write_ann_corpus(emb, path, dim=16, kind="srp", n_planes=6)

    indexed = knn_join_srp(qs, (spark, path), dim=16, k=3, n_planes=6)
    inline = knn_join_srp(qs, emb, dim=16, k=3, n_planes=6)
    key = lambda r: (r.q_id, r.rank)  # noqa: E731
    assert sorted(map(tuple, indexed.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, inline.collect()), key=lambda t: (t[0], t[3]))
    # corpus-side scan must not re-derive buckets: the plan reads the
    # partition column, so no pandas-UDF/aggregate appears on that side
    plan = explain_str(indexed)
    assert "_bucket" in plan


def test_upsert_probe_bucket_pushdown(spark, tmp_root):
    """VERDICT r3 #2: the upsert/delete existing-doc probe must reach
    the doc dictionary as a PUSHED bucket predicate — row-group min/max
    stats on the (bucket, url)-sorted files then bound the probe's data
    IO to the batch's buckets. (Directory partitioning was measured at
    ~6× build-throughput cost and rejected — see build_index.)"""
    import os

    from ela_lib_spark.index.build import build_index
    from ela_lib_spark.sources.synth import synth_pages_df
    from ela_lib_spark.streaming.incremental import _existing_doc_dict

    idx_dir = os.path.join(tmp_root, "probe_prune_idx")
    pages = synth_pages_df(spark, 300)
    build_index(spark, pages, idx_dir, n_buckets=8, n_shards=4)
    docs_dir = os.path.join(idx_dir, "docs")

    probe = _existing_doc_dict(spark, idx_dir, probe_buckets=[1, 5])
    plan = explain_str(probe)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "In(bucket" in pushed[0], plan[:2000]
    # column pruning: the probe projects (url, doc_id) — term_ids (the
    # wide column) must not be read
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "term_ids" not in rs[0], rs

    # pushed read returns exactly the two buckets' rows
    full = spark.read.parquet(docs_dir)
    want = full.filter(F.col("bucket").isin([1, 5])).count()
    assert 0 < probe.count() == want < full.count()

    # row-group prunability precondition: every parquet file is
    # bucket-ascending (files carry narrow per-row-group bucket ranges)
    import pyarrow.parquet as pq

    for fn in os.listdir(docs_dir):
        if fn.endswith(".parquet"):
            col = pq.read_table(
                os.path.join(docs_dir, fn), columns=["bucket"]
            )["bucket"].to_numpy()
            assert (col[1:] >= col[:-1]).all(), fn


def test_simhash_guard_never_shuffles_signatures(spark, pages_path):
    """Collision-pruning invariant for the simhash pair generator,
    updated for the r6 key-only shape: the signature payload must
    never be multiplied through the 10-way pair-key explode — no
    Exchange and no Window may carry the `simhash` column. (The r5
    version asserted no Window at all; r6's guard IS a count window,
    but over the key-only (key, kid, kval) frame — windowing ~24 B
    rows measured faster than the aggregate+join guard, while the
    payload attaches to the distinct pair set afterwards.)"""
    from ela_lib_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    pages = spark.read.parquet(pages_path)
    sigs = simhash_signatures(pages, key="url")
    pairs = simhash_near_dup_pairs(sigs, key="url", max_hamming=3)
    pairs.count()  # let AQE finalize
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re

    for ln in plan.splitlines():
        if re.search(r"\bExchange hashpartitioning|\bWindow\b", ln):
            assert "simhash" not in ln, ln


def test_lsh_dedup_edges_key_only_band_shuffle(spark, pages_path):
    """r6 shape pin for the LSH path: every
    banded Exchange and the guard Window operate on the key-only
    frame — the `sig` array must never ride a (band, bh)-keyed
    shuffle. Signatures may appear only in the pair-attach joins
    (broadcast here, shuffled-by-pair-key above the size gate)."""
    from ela_lib_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    pages = spark.read.parquet(pages_path)
    sigs = minhash_signatures(pages, key="url", num_hashes=32, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, key="url", num_bands=8, rows_per_band=4)
    pairs.count()  # let AQE finalize
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    import re

    for ln in plan.splitlines():
        if re.search(r"\bWindow\b", ln) or (
            re.search(r"\bExchange hashpartitioning", ln) and "bh#" in ln
        ):
            assert "sig" not in ln, ln


def test_materialized_rowcount_exact_and_fallback(spark, pages_path):
    """r6: the dedup broadcast gate reads its row count from the
    materialized cache's statistics (zero jobs). Pin both halves of
    the contract: exact count on a materialized cached frame, and the
    count() fallback on a plain (uncached) frame."""
    from pyspark import StorageLevel

    from ela_lib_spark.operators.dedup import _materialized_rowcount

    pages = spark.read.parquet(pages_path).select("url")
    n = pages.count()
    cached = pages.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()  # materialize
    try:
        assert _materialized_rowcount(cached) == n
    finally:
        cached.unpersist()
    # plain frame: statistics carry no rowCount -> falls back to count()
    assert _materialized_rowcount(pages) == n


def test_union_find_losers_join_broadcasts(spark, pages_path):
    """r6: the driver union-find result is broadcast-hinted — without
    it, createDataFrame plans as a LogicalRDD with unknown size stats
    and the losers anti-join shuffles the full corpus key column.
    Executed-plan pin: the final anti-join must be a broadcast join."""
    from ela_lib_spark.operators.dedup import dedup_minhash_lsh

    pages = spark.read.parquet(pages_path)
    kept = dedup_minhash_lsh(pages, key="url", text_col="text",
                             threshold=0.5)
    kept.count()  # let AQE finalize
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan.split("LeftAnti")[0].splitlines()[-1]
