"""Absolute tombstone bounds (VERDICT r3 #1): past
TOMBSTONE_DRIVER_CAP the delete set must never be materialized
driver-side — queries co-group it with postings by shard, GC co-groups
it with chunks by (part, salt) — and auto compaction must reclaim at
an ABSOLUTE cap, not only a live-fraction trigger. Forced-tiny caps
exercise every distributed path against the driver-array path on the
same index: results must be identical."""

import os
import shutil

from pyspark.sql import functions as F

from ela_lib_spark.index import build
from ela_lib_spark.index.build import build_index, load_index
from ela_lib_spark.query.wand import prepare_serving, wand_topk
from ela_lib_spark.sources.synth import synth_pages_df
from ela_lib_spark.streaming.incremental import (
    apply_delta_batch,
    compact_index,
    gc_index,
)

QUERIES = (
    (["term0000"], "OR", None),
    (["term0002", "term0045"], "AND", None),
    (["term0005", "term0417", "term0003"], "OR", 2),  # m-of-n
    (["zztombver"], "OR", None),
)


def _results(idx, k=50):
    return {
        (terms[0], mode, mm): [
            (r.doc_id, round(r.score, 10))
            for r in wand_topk(idx, terms, mode, k, min_match=mm).collect()
        ]
        for terms, mode, mm in QUERIES
    }


def _mk_index_with_tombstones(spark, tmp_root, name):
    idx_dir = os.path.join(tmp_root, name)
    pages = synth_pages_df(spark, 300).cache()
    base = pages.limit(260).cache()
    build_index(spark, base, idx_dir, n_buckets=4, n_shards=2, use_html=True)
    changed = base.limit(50).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zztombver"))
    )
    apply_delta_batch(changed, 0, idx_dir, n_buckets=4, mode="upsert")
    compact_index(spark, idx_dir, n_shards=2,
                  mode="minor")  # keep tombstones (no GC)
    return idx_dir


def test_query_path_identical_past_driver_cap(spark, tmp_root, monkeypatch):
    idx_dir = _mk_index_with_tombstones(spark, tmp_root, "tscale_idx")

    idx_arr = load_index(spark, idx_dir)
    assert idx_arr["deleted_df"] is None and len(idx_arr["deleted_ids"]) == 50

    monkeypatch.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
    idx_df = load_index(spark, idx_dir)
    assert idx_df["deleted_ids"] is None and idx_df["deleted_df"] is not None

    want = _results(idx_arr)
    assert _results(idx_df) == want
    # every query's results exclude all tombstoned ids and the upserted
    # versions are present
    dead = set(int(x) for x in idx_arr["deleted_ids"])
    for rows in want.values():
        assert not ({d for d, _ in rows} & dead)
    assert len(want[("zztombver", "OR", None)]) == 50

    # serving mode (pinned envelopes, literal AND prefilter) over the
    # distributed-tombstone index
    served = prepare_serving(dict(idx_df))
    assert _results(served) == want


def test_unpinned_queries_past_driver_cap_persist_nothing(spark, tmp_root,
                                                         monkeypatch):
    """Only prepare_serving pins the shard-keyed tombstones; an unpinned
    query keys them in its own plan, so loading and querying an index
    past the cap again and again leaves no persisted frame behind."""
    idx_dir = _mk_index_with_tombstones(spark, tmp_root, "tscale_leak_idx")
    monkeypatch.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
    jsc = spark.sparkContext._jsc
    # compare id sets, not sizes: the cleaner may drop an RDD an
    # earlier test left persisted while this loop runs
    before = set(jsc.getPersistentRDDs())
    for _ in range(10):
        idx = load_index(spark, idx_dir)
        assert idx["deleted_df"] is not None
        assert wand_topk(idx, ["zztombver"], "OR", 10).count() == 10
    assert set(jsc.getPersistentRDDs()) <= before


def test_gc_cogroup_rewrite_identical_past_driver_cap(spark, tmp_root,
                                                     monkeypatch):
    idx_dir = _mk_index_with_tombstones(spark, tmp_root, "tscale_gc_idx")
    copy_dir = idx_dir + "_cogroup"
    shutil.copytree(idx_dir, copy_dir)

    res_a = gc_index(spark, idx_dir, n_shards=2)  # driver-array path
    monkeypatch.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
    monkeypatch.setattr(build, "GC_COGROUP_SALTS", 3)
    res_b = gc_index(spark, copy_dir, n_shards=2)
    assert res_a["purged"] == res_b["purged"] == 50
    assert res_a["n_docs"] == res_b["n_docs"] == 260

    ia, ib = load_index(spark, idx_dir), load_index(spark, copy_dir)
    ra, rb = _results(ia), _results(ib)
    assert ra == rb
    assert len(ra[("zztombver", "OR", None)]) == 50
    # post-GC corpus stats agree between the paths
    ma, mb = ia["manifest"], ib["manifest"]
    assert (ma["n_docs"], ma["avg_dl"]) == (mb["n_docs"], mb["avg_dl"])


def test_auto_compact_escalates_at_absolute_cap(spark, tmp_root, monkeypatch):
    """50 tombstones on 260 live docs is under the 25% fraction trigger
    — but over a forced absolute cap, auto mode must GC anyway."""
    idx_dir = _mk_index_with_tombstones(spark, tmp_root, "tscale_cap_idx")
    # sanity: below both caps → stays minor (no new epochs → no-op)
    res = compact_index(spark, idx_dir, n_shards=2)
    assert res["mode"] == "minor"
    monkeypatch.setattr(build, "TOMBSTONE_GC_CAP", 10)
    res = compact_index(spark, idx_dir, n_shards=2)
    assert res["mode"] == "gc" and res["purged"] == 50
    idx = load_index(spark, idx_dir)
    assert idx["manifest"]["n_docs"] == 260
    assert len(idx["deleted_ids"]) == 0


def test_reshard_requires_major_and_keeps_mapping(spark, tmp_root,
                                                  monkeypatch):
    """Review r4: a minor compaction at a different n_shards than the
    index would fork the doc_id→shard mapping — rejected; a major
    re-shard re-merges everything, records the new n_shards, and the
    distributed tombstone filter stays exact (it maps through the
    build-time chunk group)."""
    import pytest

    from ela_lib_spark.index.build import read_manifest

    idx_dir = _mk_index_with_tombstones(spark, tmp_root, "reshard_idx")
    with pytest.raises(ValueError, match="re-sharding requires"):
        compact_index(spark, idx_dir, n_shards=3, mode="minor")

    # a driver cap of 5 ALSO skips the merge-time purge, so the
    # re-sharded postings still contain the 50 tombstoned docs — the
    # query-side filters must hide them under the NEW shard mapping
    with monkeypatch.context() as mp:
        mp.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
        res = compact_index(spark, idx_dir, n_shards=3, mode="major")
    assert res["mode"] == "major"
    assert read_manifest(idx_dir)["n_shards"] == 3

    idx_arr = load_index(spark, idx_dir)  # array filter path
    monkeypatch.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
    idx_df = load_index(spark, idx_dir)  # cogroup
    assert len(idx_arr["deleted_ids"]) == 50
    assert idx_df["deleted_df"] is not None
    ra = _results(idx_arr)
    assert _results(idx_df) == ra
    dead = set(int(x) for x in idx_arr["deleted_ids"])
    for rows in ra.values():
        assert not ({d for d, _ in rows} & dead)
    assert len(ra[("zztombver", "OR", None)]) == 50


def test_reshard_misaligned_groups_mapping_exact(spark, tmp_root,
                                                 monkeypatch):
    """The case the naive doc_id//shard_group formula gets WRONG:
    build chunk group cg=2 (n_buckets=6, n_shards=3), re-shard major
    to shard group g=3 — bucket 3 lives in chunk part 2 → shard 0,
    while 3//3 would claim shard 1. With the merge purge skipped, the
    cogroup tombstone filter must still hide every tombstoned doc."""
    idx_dir = os.path.join(tmp_root, "misalign_idx")
    pages = synth_pages_df(spark, 300).cache()
    base = pages.limit(260).cache()
    build_index(spark, base, idx_dir, n_buckets=6, n_shards=3,
                use_html=True)
    changed = base.limit(50).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zztombver"))
    )
    apply_delta_batch(changed, 0, idx_dir, n_buckets=6, mode="upsert")
    with monkeypatch.context() as mp:
        mp.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
        # reshard g=3, purge skipped
        compact_index(spark, idx_dir, n_shards=2, mode="major")

    idx_arr = load_index(spark, idx_dir)
    monkeypatch.setattr(build, "TOMBSTONE_DRIVER_CAP", 5)
    idx_df = load_index(spark, idx_dir)
    assert len(idx_arr["deleted_ids"]) == 50
    assert idx_df["deleted_df"] is not None
    ra = _results(idx_arr)
    assert _results(idx_df) == ra
    dead = set(int(x) for x in idx_arr["deleted_ids"])
    for rows in ra.values():
        assert not ({d for d, _ in rows} & dead)
    assert len(ra[("zztombver", "OR", None)]) == 50
