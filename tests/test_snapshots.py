"""Snapshot retention (VERDICT r4 #3): with `retention_keep_snapshots`
set, GC / major compaction preserve the data dirs retained archived
snapshots reference — so `load_index(snapshot_id=...)` keeps serving
rank-identical results across maintenance — and `expire_snapshots`
later drops old snapshots and frees exactly the dirs only they
referenced. Default (no retention) behavior is unchanged: superseded
dirs are freed at commit, and time travel past a GC honestly errors.

Reference analog: the import manifest's pinned-files model
(service/task/migrator.go:1566-1580) + alias lifecycle
(pkg/es/es5settings.go); mechanism modeled on Iceberg
expire_snapshots."""

import os

import pytest

from ela_lib_spark.errors import IndexNotFoundError
from ela_lib_spark.index.build import build_index, load_index, read_manifest
from ela_lib_spark.query.wand import wand_topk
from ela_lib_spark.sources.synth import synth_pages_df
from ela_lib_spark.streaming.incremental import (
    apply_delta_batch,
    compact_index,
    expire_snapshots,
    gc_index,
    set_snapshot_retention,
)

QUERY = (["term0000", "term0002"], "OR")


def _topk(spark, idx_dir, snapshot_id=None, k=10):
    idx = load_index(spark, idx_dir, snapshot_id=snapshot_id)
    return [
        (r.doc_id, round(r.score, 6))
        for r in wand_topk(idx, QUERY[0], QUERY[1], k).collect()
    ]


def test_retention_survives_gc_then_expire_frees(spark, tmp_root):
    idx_dir = os.path.join(tmp_root, "ret_gc_idx")
    pages = synth_pages_df(spark, 140).cache()
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    set_snapshot_retention(idx_dir, keep_last=3)
    s1 = read_manifest(idx_dir)["snapshot_id"]
    before = _topk(spark, idx_dir)

    # mutate: upsert 20 new docs, then delete 10 of the originals
    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    doomed = pages.limit(10).select("url")
    apply_delta_batch(doomed, 1, idx_dir, n_buckets=4, mode="delete")
    res = gc_index(spark, idx_dir, n_shards=2)
    assert res["mode"] == "gc" and res["purged"] == 10

    # live index reflects the mutations
    live = load_index(spark, idx_dir)
    assert live["manifest"]["n_docs"] == 130

    # time travel to the pre-GC snapshot: still loads, rank-identical
    assert _topk(spark, idx_dir, snapshot_id=s1) == before
    # ...and its doc surface is the pre-mutation corpus
    old = load_index(spark, idx_dir, snapshot_id=s1)
    assert old["doc_stats"].count() == 120

    # expire down to the live snapshot: s1 is gone, its dirs freed
    out = expire_snapshots(idx_dir, keep_last=1)
    assert s1 in out["expired"]
    with pytest.raises(IndexNotFoundError):
        load_index(spark, idx_dir, snapshot_id=s1)
    # the pre-GC artifact dirs are actually freed
    entries = set(os.listdir(idx_dir))
    assert "postings" not in entries and "docs" not in entries
    arch = os.path.join(idx_dir, "snapshots", "archive")
    assert not os.path.isdir(arch) or not any(
        os.listdir(os.path.join(arch, g)) for g in os.listdir(arch)
    )
    # live index unharmed
    assert _topk(spark, idx_dir) == _topk(spark, idx_dir)
    assert load_index(spark, idx_dir)["manifest"]["n_docs"] == 130


def test_retention_survives_major_compaction(spark, tmp_root):
    idx_dir = os.path.join(tmp_root, "ret_major_idx")
    pages = synth_pages_df(spark, 140).cache()
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    set_snapshot_retention(idx_dir, keep_last=2)
    s1 = read_manifest(idx_dir)["snapshot_id"]
    before = _topk(spark, idx_dir)
    old_postings = read_manifest(idx_dir)["postings_dir"]

    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    res = compact_index(spark, idx_dir, mode="major")
    assert res["mode"] == "major"

    # superseded postings dir is preserved for the retained snapshot
    assert os.path.exists(os.path.join(idx_dir, old_postings))
    assert _topk(spark, idx_dir, snapshot_id=s1) == before

    out = expire_snapshots(idx_dir, keep_last=1)
    assert s1 in out["expired"]
    assert not os.path.exists(os.path.join(idx_dir, old_postings))
    with pytest.raises(IndexNotFoundError):
        load_index(spark, idx_dir, snapshot_id=s1)


def test_no_retention_default_behavior_unchanged(spark, tmp_root):
    """Without the retention setting, GC frees superseded dirs at
    commit (the r4 behavior) and time travel past it honestly fails
    at read time."""
    idx_dir = os.path.join(tmp_root, "noret_idx")
    pages = synth_pages_df(spark, 130).cache()
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    s1 = read_manifest(idx_dir)["snapshot_id"]
    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    gc_index(spark, idx_dir, n_shards=2)
    entries = set(os.listdir(idx_dir))
    assert "postings" not in entries  # superseded dirs freed eagerly
    assert "delta_deletes" not in entries
    assert not os.path.isdir(os.path.join(idx_dir, "snapshots", "archive"))
    # the snapshot log still lists s1, but its data dirs are gone
    assert s1 in read_manifest(idx_dir)["history"]


def test_expire_cli_verbs(tmp_root, spark):
    from ela_lib_spark.cli import main as cli_main

    idx_dir = os.path.join(tmp_root, "cli_snap_idx")
    pages = synth_pages_df(spark, 60).cache()
    build_index(spark, pages, idx_dir, n_buckets=4, n_shards=2)
    assert cli_main(["snapshots", "retention", idx_dir, "--keep", "2"]) == 0
    assert read_manifest(idx_dir)["retention_keep_snapshots"] == 2
    assert cli_main(["snapshots", "expire", idx_dir, "--keep", "1"]) == 0
    # only the live snapshot remains in history
    m = read_manifest(idx_dir)
    assert m["history"] == [m["snapshot_id"]]


def _upsert_delete_minor(spark, idx_dir, pages):
    """120-doc build with retention keep-4, an upsert epoch of 20 new
    docs, a delete epoch of 10 originals, then a minor compaction whose
    snapshot pins both delete epochs and the upsert's doc epoch."""
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    set_snapshot_retention(idx_dir, keep_last=4)
    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    apply_delta_batch(pages.limit(10).select("url"), 1, idx_dir,
                      n_buckets=4, mode="delete")
    assert compact_index(spark, idx_dir, mode="minor")["mode"] == "minor"
    assert read_manifest(idx_dir)["delete_epochs"] == [0, 1]


def test_crash_after_gc_flip_leaves_correct_index(spark, tmp_root,
                                                  monkeypatch):
    """GC's manifest flip is its only commit: a crash in the cleanup
    after it leaves the consumed epoch dirs on disk, but live readers
    skip them (manifest gc_epochs), so the live index validates and
    serves like a clean GC, the retained pre-GC snapshot still serves
    rank-identically, the next minor merges nothing again, and its
    cleanup frees the leftovers no retained snapshot pins."""
    import ela_lib_spark.streaming.incremental as inc
    from ela_lib_spark.index.validate import validate_index

    pages = synth_pages_df(spark, 140).cache()
    clean_dir = os.path.join(tmp_root, "gc_clean_idx")
    _upsert_delete_minor(spark, clean_dir, pages)
    gc_index(spark, clean_dir, n_shards=2)

    idx_dir = os.path.join(tmp_root, "gc_crash_idx")
    _upsert_delete_minor(spark, idx_dir, pages)
    s2 = read_manifest(idx_dir)["snapshot_id"]
    before = _topk(spark, idx_dir, snapshot_id=s2)

    def crash(*a, **k):
        raise RuntimeError("injected")

    monkeypatch.setattr(inc, "_reclaim", crash)
    with pytest.raises(RuntimeError, match="injected"):
        gc_index(spark, idx_dir, n_shards=2)
    monkeypatch.undo()

    v = validate_index(spark, idx_dir)
    assert v["ok"], v
    assert _topk(spark, idx_dir) == _topk(spark, clean_dir)
    assert _topk(spark, idx_dir, snapshot_id=s2) == before
    m = read_manifest(idx_dir)
    assert m["snapshot_id"].startswith("gc-") and m["gc_epochs"] == [0, 1]
    assert os.path.isdir(os.path.join(idx_dir, "delta_chunks", "epoch=0"))

    res = compact_index(spark, idx_dir, mode="minor")
    assert res["compacted_epochs"] == 0
    assert read_manifest(idx_dir)["n_docs"] == 130
    assert load_index(spark, idx_dir)["doc_stats"].count() == 130
    # chunk epochs are merge input only: freed; s2 pins the rest
    assert not os.path.exists(os.path.join(idx_dir, "delta_chunks"))
    assert sorted(os.listdir(os.path.join(idx_dir, "delta_deletes"))) == [
        "epoch=0", "epoch=1"]
    assert _topk(spark, idx_dir, snapshot_id=s2) == before

    expire_snapshots(idx_dir, keep_last=1)
    entries = set(os.listdir(idx_dir))
    assert not entries & {"delta_chunks", "delta_deletes", "delta_doc_stats"}
    assert _topk(spark, idx_dir) == _topk(spark, clean_dir)


def test_missing_pinned_delete_epoch_is_loud(spark, tmp_root):
    """A snapshot that pins a delete epoch whose dir is gone must refuse
    to load: reading it as "no tombstones" would silently resurrect
    deleted docs."""
    import shutil

    from ela_lib_spark.errors import IndexCorruptError

    idx_dir = os.path.join(tmp_root, "missing_del_idx")
    _upsert_delete_minor(spark, idx_dir, synth_pages_df(spark, 140).cache())
    s2 = read_manifest(idx_dir)["snapshot_id"]
    shutil.rmtree(os.path.join(idx_dir, "delta_deletes", "epoch=1"))
    with pytest.raises(IndexCorruptError, match="delete log is missing"):
        load_index(spark, idx_dir, snapshot_id=s2)


def test_auto_expire_enforces_window_at_gc(spark, tmp_root):
    """With retention configured, GC itself enforces the keep-last-N
    window at commit: snapshots beyond it are expired and their dirs
    freed without a separate expire call — disk stays bounded by
    policy, not by operator discipline."""
    idx_dir = os.path.join(tmp_root, "auto_expire_idx")
    pages = synth_pages_df(spark, 140).cache()
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    set_snapshot_retention(idx_dir, keep_last=1)
    s1 = read_manifest(idx_dir)["snapshot_id"]
    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    res = gc_index(spark, idx_dir, n_shards=2)
    assert s1 in res.get("expired_snapshots", [])
    with pytest.raises(IndexNotFoundError):
        load_index(spark, idx_dir, snapshot_id=s1)
    entries = set(os.listdir(idx_dir))
    assert "postings" not in entries and "docs" not in entries
    assert load_index(spark, idx_dir)["manifest"]["n_docs"] == 140


def test_retention_set_requires_lock_free_index(spark, tmp_root):
    """set_snapshot_retention is a manifest read->rewrite; racing a
    GC's commit could clobber the retention field or resurrect pre-GC
    dir pointers, so it must run under the maintenance lock."""
    from ela_lib_spark.errors import MaintenanceLockError
    from ela_lib_spark.streaming.incremental import _maintenance_lock

    idx_dir = os.path.join(tmp_root, "ret_lock_idx")
    pages = synth_pages_df(spark, 30).cache()
    build_index(spark, pages, idx_dir, n_buckets=2, n_shards=2)
    with _maintenance_lock(idx_dir):
        with pytest.raises(MaintenanceLockError, match="already running"):
            set_snapshot_retention(idx_dir, keep_last=2)
    # lock released: the mutation goes through
    out = set_snapshot_retention(idx_dir, keep_last=2)
    assert out["retention_keep_snapshots"] == 2
    assert read_manifest(idx_dir)["retention_keep_snapshots"] == 2


def test_corrupt_snapshot_json_does_not_wedge_maintenance(
        spark, tmp_root, recwarn):
    """One truncated archived snapshot manifest (operator damage —
    write_manifest archives via tmp+replace) must not permanently fail
    every retention-enabled GC/compaction: it is moved aside to
    .corrupt with a warning and treated as expired (it could not be
    time-traveled to anyway)."""
    idx_dir = os.path.join(tmp_root, "corrupt_snap_idx")
    pages = synth_pages_df(spark, 140).cache()
    build_index(spark, pages.limit(120), idx_dir, n_buckets=4, n_shards=2)
    set_snapshot_retention(idx_dir, keep_last=3)
    s1 = read_manifest(idx_dir)["snapshot_id"]
    spath = os.path.join(idx_dir, "snapshots", f"{s1}.json")
    with open(spath, "w") as f:
        f.write('{"snapshot_id": "trunc')  # crash-torn write

    apply_delta_batch(pages.subtract(pages.limit(120)), 0, idx_dir,
                      n_buckets=4, mode="upsert")
    res = gc_index(spark, idx_dir, n_shards=2)  # must not raise
    assert res["mode"] in ("gc", "minor", "major", "noop")
    assert any("unreadable" in str(w.message) for w in recwarn.list)
    assert os.path.exists(spath + ".corrupt")
    assert not os.path.exists(spath)
    # the live index is intact
    assert load_index(spark, idx_dir)["manifest"]["n_docs"] == 140


def test_expire_without_any_window_refuses(spark, tmp_root):
    """`snapshots expire` with no --keep on an index with no configured
    retention must refuse loudly — defaulting to keep-1 would silently
    delete every archived snapshot."""
    from ela_lib_spark.errors import EngineError

    idx_dir = os.path.join(tmp_root, "expire_guard_idx")
    pages = synth_pages_df(spark, 30).cache()
    build_index(spark, pages, idx_dir, n_buckets=2, n_shards=2)
    with pytest.raises(EngineError, match="no keep_last"):
        expire_snapshots(idx_dir)
    # explicit window still works
    out = expire_snapshots(idx_dir, keep_last=5)
    assert out["expired"] == []
