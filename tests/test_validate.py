"""validate_index — the operational fsck. A healthy index passes every
check (shallow + deep) through the whole maintenance lifecycle; each
seeded corruption class is caught by its named check."""

import json
import os
import shutil

from pyspark.sql import functions as F

from ela_lib_spark.index.build import build_index, read_manifest, write_manifest
from ela_lib_spark.index.validate import validate_index
from ela_lib_spark.sources.synth import synth_pages_df
from ela_lib_spark.streaming.incremental import (
    apply_delta_batch,
    compact_index,
    gc_index,
)


def test_validate_healthy_through_lifecycle(spark, tmp_root):
    idx_dir = os.path.join(tmp_root, "val_idx")
    pages = synth_pages_df(spark, 300).cache()
    base = pages.limit(250).cache()
    build_index(spark, base, idx_dir, n_buckets=4, n_shards=2, use_html=True)

    res = validate_index(spark, idx_dir, deep=True)
    assert res["ok"], res

    # pending (uncompacted) upsert epoch: still valid, count check
    # reports the pending state instead of failing
    changed = base.limit(30).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzval"))
    )
    apply_delta_batch(changed, 0, idx_dir, n_buckets=4, mode="upsert")
    res = validate_index(spark, idx_dir)
    assert res["ok"], res
    assert "uncompacted" in res["checks"]["doc_stats_count"]["detail"]

    compact_index(spark, idx_dir, n_shards=2, mode="minor")
    res = validate_index(spark, idx_dir, deep=True)
    assert res["ok"], res
    assert "uncompacted" not in res["checks"]["doc_stats_count"]["detail"]

    gc_index(spark, idx_dir, n_shards=2)
    res = validate_index(spark, idx_dir, deep=True)
    assert res["ok"], res


def test_validate_catches_corruptions(spark, tmp_root):
    idx_dir = os.path.join(tmp_root, "val_bad_idx")
    build_index(spark, synth_pages_df(spark, 150), idx_dir,
                n_buckets=4, n_shards=2)

    # a0) missing required manifest key: reported, not crashed
    m = read_manifest(idx_dir)
    good_postings = m["postings_dir"]
    del m["postings_dir"]
    m["snapshot_id"] = "val-test-snap-0"
    write_manifest(idx_dir, m)
    res = validate_index(spark, idx_dir)
    assert not res["ok"] and not res["checks"]["manifest"]["ok"]
    assert "postings_dir" in res["checks"]["manifest"]["detail"]

    m["postings_dir"] = good_postings
    m["snapshot_id"] = "val-test-snap-1"
    write_manifest(idx_dir, m)

    # a) manifest/doc-dictionary contradiction, in either corpus stat —
    # also on an index holding an uncompacted upsert epoch, where
    # doc_stats_count skips and only the corpus_stats check looks
    pend_dir = os.path.join(tmp_root, "val_bad_pending_idx")
    pages = synth_pages_df(spark, 150)
    build_index(spark, pages, pend_dir, n_buckets=4, n_shards=2)
    changed = pages.limit(20).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzval")))
    apply_delta_batch(changed, 0, pend_dir, n_buckets=4, mode="upsert")
    res = validate_index(spark, pend_dir)
    assert res["ok"], res
    assert "uncompacted" in res["checks"]["doc_stats_count"]["detail"]
    for d in (idx_dir, pend_dir):
        m = read_manifest(d)
        for key, bad in (("n_docs", m["n_docs"] + 1),
                         ("avg_dl", m["avg_dl"] + 1.0)):
            good, m[key] = m[key], bad
            m["snapshot_id"] = f"val-test-snap-2-{key}"
            write_manifest(d, m)
            res = validate_index(spark, d)
            assert not res["ok"]
            assert not res["checks"]["corpus_stats"]["ok"], (d, key)
            m[key] = good
        m["snapshot_id"] = "val-test-snap-3"
        write_manifest(d, m)
        res = validate_index(spark, d)
        assert res["ok"], res

    # b) dangling tombstone (a committed delete log referencing an
    # unknown doc)
    from ela_lib_spark.index.build import DELTA_COMMITS, epoch_marker

    os.makedirs(os.path.join(idx_dir, "delta_deletes"), exist_ok=True)
    spark.createDataFrame([(1 << 62,)], "doc_id long").write.mode(
        "overwrite").parquet(os.path.join(idx_dir, "delta_deletes", "epoch=9"))
    os.makedirs(os.path.join(idx_dir, DELTA_COMMITS), exist_ok=True)
    open(epoch_marker(idx_dir, 9), "w").close()
    res = validate_index(spark, idx_dir)
    assert not res["checks"]["tombstones_resolve"]["ok"]
    shutil.rmtree(os.path.join(idx_dir, "delta_deletes"))
    shutil.rmtree(os.path.join(idx_dir, DELTA_COMMITS))

    # c) missing data dir
    shutil.move(os.path.join(idx_dir, "postings"),
                os.path.join(idx_dir, "postings_hidden"))
    res = validate_index(spark, idx_dir)
    assert not res["ok"] and not res["checks"]["data_dirs"]["ok"]
    shutil.move(os.path.join(idx_dir, "postings_hidden"),
                os.path.join(idx_dir, "postings"))

    # d) deep check catches a corrupted posting block payload
    pdir = os.path.join(idx_dir, "postings")
    import pyarrow.parquet as pq

    fn = next(f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet"))
    t = pq.read_table(os.path.join(pdir, fn))
    import pyarrow as pa

    col = t.column("n_docs").to_pylist()
    col[0] = col[0] + 3  # metadata no longer matches the encoded stream
    t = t.set_column(t.schema.get_field_index("n_docs"), "n_docs",
                     pa.array(col, pa.int32()))
    pq.write_table(t, os.path.join(pdir, fn))
    crc = os.path.join(pdir, f".{fn}.crc")  # stale Hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    res = validate_index(spark, idx_dir, deep=True)
    assert not res["ok"]
    assert not res["checks"]["deep_block_decode"]["ok"]


def test_validate_cli(spark, tmp_root):
    import io
    from contextlib import redirect_stdout

    from ela_lib_spark.cli import main

    idx_dir = os.path.join(tmp_root, "val_cli_idx")
    build_index(spark, synth_pages_df(spark, 100), idx_dir,
                n_buckets=4, n_shards=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["validate", idx_dir, "--deep"], spark=spark)
    assert rc == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["ok"] and out["checks"]["deep_block_decode"]["ok"]


def test_validate_reports_unreadable_dataset(spark, tmp_root):
    """A truncated/garbage parquet dataset is a FINDING, not a crash
    (review r4): the fsck returns ok=False with datasets_readable."""
    import glob

    idx_dir = os.path.join(tmp_root, "val_unreadable_idx")
    build_index(spark, synth_pages_df(spark, 80), idx_dir,
                n_buckets=4, n_shards=2)
    for f in glob.glob(os.path.join(idx_dir, "docs", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    res = validate_index(spark, idx_dir)
    assert not res["ok"]
    assert not res["checks"]["datasets_readable"]["ok"]
