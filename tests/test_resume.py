"""Resumable build (north rule: checkpoint + per-partition lineage).

Simulate a crash: docs + half the buckets' chunks committed, nothing
after (no corpus stats, postings or manifest). Resume must derive
done-buckets from the committed chunk data itself (the metrics rows)
and produce an index identical to a single-shot build (no bucket
double-appended).
"""

import os

from pyspark.sql import functions as F

from ela_lib_spark.index.build import (
    METRICS_TERM_ID,
    build_index,
    chunks_from_docs,
    docs_with_term_ids,
    done_buckets,
    load_index,
)


def _postings_fingerprint(postings):
    return (
        postings.select(
            F.bit_xor(F.xxhash64("term_id", "shard", "block_id", "first_doc_id",
                                 "last_doc_id", "doc_ids_delta", "tfs", "dls",
                                 "n_docs")).alias("h"),
            F.count("*").alias("n"),
        )
        .first()
    )


def test_resume_after_partial_build_without_ledger(spark, tmp_root):
    from ela_lib_spark.sources.synth import write_web_pages

    small = os.path.join(tmp_root, "pages_small")
    write_web_pages(spark, 500, small, num_partitions=2)
    pages = spark.read.parquet(small)
    full_dir = os.path.join(tmp_root, "idx_full")
    part_dir = os.path.join(tmp_root, "idx_partial")

    build_index(spark, pages, full_dir, n_buckets=8, n_shards=4, use_html=True)

    # simulate a crashed run: docs written, chunks only for buckets 0-3,
    # and the crash happened before the corpus stats scan
    docs_with_term_ids(pages, 8, use_html=True).write.mode("overwrite").parquet(
        os.path.join(part_dir, "docs")
    )
    docs = spark.read.parquet(os.path.join(part_dir, "docs"))
    half = chunks_from_docs(docs, skip_buckets={4, 5, 6, 7})
    half.write.mode("overwrite").partitionBy("is_m").parquet(os.path.join(part_dir, "chunks"))
    assert not os.path.exists(os.path.join(part_dir, "manifest.json"))

    # done-buckets derived from the committed chunk metrics rows alone
    assert done_buckets(spark, part_dir) == {0, 1, 2, 3}

    # resume: must only process buckets 4-7, then produce an identical index
    m = build_index(spark, pages, part_dir, n_buckets=8, n_shards=4,
                    use_html=True, resume=True)
    resumed = load_index(spark, part_dir)
    fullidx = load_index(spark, full_dir)

    assert done_buckets(spark, part_dir) == set(range(8))
    fp_r = _postings_fingerprint(resumed["postings"])
    fp_f = _postings_fingerprint(fullidx["postings"])
    assert (fp_r.h, fp_r.n) == (fp_f.h, fp_f.n)
    assert m["n_docs"] == fullidx["manifest"]["n_docs"]
    # no bucket double-processed: per-bucket metrics-row doc counts
    # match doc_stats
    per_bucket = {
        r.part_id: r.n_docs for r in
        spark.read.parquet(os.path.join(part_dir, "chunks"))
        .filter((F.col("is_m") == 1) & (F.col("term_id") == METRICS_TERM_ID))
        .groupBy("part_id").agg(F.sum("n_docs").alias("n_docs")).collect()
    }
    truth = {r.bucket: r.cnt for r in
             resumed["doc_stats"].groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    assert per_bucket == truth


def test_resume_refuses_legacy_flat_chunks_layout(spark, tmp_root):
    """ADVICE r2: resuming onto a pre-sidecar (flat, no is_m= dirs)
    chunks directory would create a mixed layout Spark's partition
    discovery rejects — the build must refuse with a typed error."""
    import shutil

    import pytest

    from ela_lib_spark.errors import IndexCorruptError
    from ela_lib_spark.sources.synth import write_web_pages

    p = os.path.join(tmp_root, "pages_legacy")
    write_web_pages(spark, 120, p, num_partitions=2)
    pages = spark.read.parquet(p)
    idx = os.path.join(tmp_root, "idx_legacy")
    build_index(spark, pages, idx, n_buckets=4, n_shards=2, use_html=True)

    # flatten chunks/ to the legacy layout: hoist files out of is_m=*
    ch = os.path.join(idx, "chunks")
    for sub in list(os.listdir(ch)):
        full = os.path.join(ch, sub)
        if sub.startswith("is_m=") and os.path.isdir(full):
            for fn in os.listdir(full):
                shutil.move(os.path.join(full, fn), os.path.join(ch, fn))
            os.rmdir(full)

    with pytest.raises(IndexCorruptError, match="legacy flat layout"):
        build_index(spark, pages, idx, n_buckets=4, n_shards=2,
                    use_html=True, resume=True)


def test_resume_after_gc_publishes_its_own_dirs(spark, tmp_root):
    """A resumed build reads and writes its own `docs` and `chunks`
    dirs, never the `docs-g*`/`chunks-g*` a GC's manifest points at:
    after GC freed `docs` and `chunks`, resuming rebuilds both and
    publishes them, and the result validates and compacts."""
    from ela_lib_spark.index.build import read_manifest
    from ela_lib_spark.index.validate import validate_index
    from ela_lib_spark.sources.synth import synth_pages_df
    from ela_lib_spark.streaming.incremental import (
        apply_delta_batch,
        compact_index,
        gc_index,
    )

    idx = os.path.join(tmp_root, "idx_resume_gc")
    pages = synth_pages_df(spark, 200).cache()
    build_index(spark, pages, idx, n_buckets=4, n_shards=2)
    apply_delta_batch(pages.limit(20).select("url"), 0, idx, n_buckets=4,
                      mode="delete")
    gc_index(spark, idx, n_shards=2)
    assert read_manifest(idx)["chunks_dir"] == "chunks-g1"
    assert not os.path.exists(os.path.join(idx, "chunks"))

    m = build_index(spark, pages, idx, n_buckets=4, n_shards=2, resume=True)
    assert (m["docs_dir"], m["chunks_dir"], m["n_docs"]) == (
        "docs", "chunks", 200)
    assert done_buckets(spark, idx) == set(range(4))
    res = validate_index(spark, idx)
    assert res["ok"], res
    assert compact_index(spark, idx, n_shards=2, mode="major")[
        "n_docs"] == 200
    pages.unpersist()


def test_snapshot_ids_unique_and_protected(spark, tmp_root):
    """ADVICE r2: snapshot ids must be collision-free (wall-clock +
    random suffix, not boot-relative monotonic), and the snapshot
    archive refuses overwrites."""
    import pytest

    from ela_lib_spark.index.build import new_snapshot_id, write_manifest

    ids = {new_snapshot_id("build") for _ in range(100)}
    assert len(ids) == 100

    d = os.path.join(tmp_root, "snap_guard")
    os.makedirs(d, exist_ok=True)
    write_manifest(d, {"snapshot_id": "s-1", "n_docs": 1})
    with pytest.raises(ValueError, match="already archived"):
        write_manifest(d, {"snapshot_id": "s-1", "n_docs": 2})
