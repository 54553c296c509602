"""Resumable build (north rule: checkpoint + per-partition lineage).

Simulate a crash: docs + half the buckets' chunks committed — and, per
the round-1 advisory, *no ledger written at all* (the crash window
between the chunks commit and the ledger write). Resume must derive
done-buckets from the committed chunk data itself and produce an index
identical to a single-shot build (no bucket double-appended).
"""

import os

from pyspark.sql import functions as F

from ela_lib_spark.index.build import (
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
    # and the crash happened BEFORE the ledger write (advisory case)
    docs_with_term_ids(pages, 8, use_html=True).write.mode("overwrite").parquet(
        os.path.join(part_dir, "docs")
    )
    docs = spark.read.parquet(os.path.join(part_dir, "docs"))
    half = chunks_from_docs(docs, skip_buckets={4, 5, 6, 7})
    half.write.mode("overwrite").partitionBy("is_m").parquet(os.path.join(part_dir, "chunks"))
    assert not os.path.exists(os.path.join(part_dir, "ledger"))

    # done-buckets derived from the committed chunk metrics rows alone
    assert done_buckets(spark, part_dir) == {0, 1, 2, 3}

    # resume: must only process buckets 4-7, then produce an identical index
    m = build_index(spark, pages, part_dir, n_buckets=8, n_shards=4,
                    use_html=True, resume=True)
    resumed = load_index(spark, part_dir)
    fullidx = load_index(spark, full_dir)

    assert {r.part_id for r in resumed["ledger"].collect()} == set(range(8))
    fp_r = _postings_fingerprint(resumed["postings"])
    fp_f = _postings_fingerprint(fullidx["postings"])
    assert (fp_r.h, fp_r.n) == (fp_f.h, fp_f.n)
    assert m["n_docs"] == fullidx["manifest"]["n_docs"]
    # no bucket double-processed: per-bucket doc counts match doc_stats
    per_bucket = {r.part_id: r.n_docs for r in resumed["ledger"].collect()}
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
