"""Incremental index maintenance via Structured Streaming foreachBatch."""

import os

import pytest
from pyspark.sql import functions as F

from ela_lib_spark.index.build import METRICS_TERM_ID
from ela_lib_spark.sources.synth import synth_pages_df
from ela_lib_spark.streaming.incremental import (
    apply_delta_batch,
    incremental_index_maintenance,
    read_delta_postings,
)


def test_incremental_maintenance(spark, tmp_root):
    incoming = os.path.join(tmp_root, "incoming")
    idx_dir = os.path.join(tmp_root, "stream_idx")
    ckpt = os.path.join(tmp_root, "ckpt")
    os.makedirs(incoming, exist_ok=True)

    pages = synth_pages_df(spark, 400).cache()
    pages.limit(200).write.mode("overwrite").parquet(os.path.join(incoming, "b1"))

    q = incremental_index_maintenance(spark, incoming + "/*", idx_dir, ckpt, n_buckets=4)
    q.processAllAvailable()

    # second file arrives → second micro-batch
    pages.orderBy(F.desc("url")).limit(150).write.mode("overwrite").parquet(
        os.path.join(incoming, "b2")
    )
    q.processAllAvailable()
    q.stop()

    delta = read_delta_postings(spark, idx_dir)
    assert delta is not None
    real = delta.filter(F.col("term_id") != METRICS_TERM_ID)
    assert real.count() > 0
    # per-epoch metrics rows carry doc counts → all arrivals indexed
    n_docs = (
        delta.filter(F.col("term_id") == METRICS_TERM_ID)
        .agg(F.sum("n_docs"))
        .first()[0]
    )
    assert n_docs == 350
    # delta buckets never collide with bulk bucket ids
    assert delta.agg(F.min("part_id")).first()[0] >= (1 << 20)


def test_streaming_upsert_end_to_end(spark, tmp_root):
    """Full readStream → foreachBatch(upsert) lifecycle against a live
    base index: a later micro-batch re-crawls urls (changed text),
    tombstones land, compaction makes the new versions searchable and
    retires the old ones."""
    from ela_lib_spark.index.build import build_index, load_index
    from ela_lib_spark.query.wand import wand_topk
    from ela_lib_spark.streaming.incremental import compact_index

    incoming = os.path.join(tmp_root, "up_incoming")
    idx_dir = os.path.join(tmp_root, "up_stream_idx")
    ckpt = os.path.join(tmp_root, "up_ckpt")
    os.makedirs(incoming, exist_ok=True)

    pages = synth_pages_df(spark, 300).cache()
    base = pages.limit(250).cache()
    build_index(spark, base, idx_dir, n_buckets=4, n_shards=2)

    recrawl = base.limit(40).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzstreamup"))
    )
    fresh = pages.subtract(base).limit(30)
    recrawl.unionByName(fresh).write.mode("overwrite").parquet(
        os.path.join(incoming, "b1")
    )
    q = incremental_index_maintenance(
        spark, incoming + "/*", idx_dir, ckpt, n_buckets=4, mode="upsert"
    )
    q.processAllAvailable()
    q.stop()

    idx = load_index(spark, idx_dir)
    assert len(idx["deleted_ids"]) == 40  # re-crawled urls tombstoned

    compact_index(spark, idx_dir, n_shards=2, mode="minor")
    idx = load_index(spark, idx_dir)
    assert idx["manifest"]["n_docs"] == 280  # 250 - 40 + 40 + 30
    upd = wand_topk(idx, ["zzstreamup"], "OR", 100)
    assert upd.count() == 40
    dead = set(int(x) for x in idx["deleted_ids"])
    got = {r.doc_id for r in
           wand_topk(idx, ["term0000"], "OR", 300).collect()}
    assert not (got & dead)


def test_out_of_range_epoch_id_raises_before_any_write(spark, tmp_root):
    """A doc id is `bucket << DOC_BITS` and epoch N's buckets start at
    DELTA_BUCKET_BASE + N * n_buckets, so with 8 buckets 917,503 is the
    last epoch whose buckets fit the doc-id range. The next id, and a
    negative one, raise a typed error before anything is written —
    no delete log, no chunks, no commit marker."""
    from ela_lib_spark.errors import DeltaEpochError
    from ela_lib_spark.index.build import build_index

    idx_dir = os.path.join(tmp_root, "epoch_range_idx")
    pages = synth_pages_df(spark, 40).cache()
    build_index(spark, pages, idx_dir, n_buckets=4, n_shards=2)
    before = sorted(os.listdir(idx_dir))
    for epoch in (917_504, -1):
        with pytest.raises(DeltaEpochError, match=str(epoch)):
            apply_delta_batch(pages.limit(5), epoch, idx_dir, n_buckets=8,
                              mode="upsert")
    # no delta_* dir, so no epoch=N subdir and no delta_commits marker
    assert sorted(os.listdir(idx_dir)) == before
