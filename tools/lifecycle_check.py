"""Run one seeded maintenance lifecycle and print what the index holds
after every step, for comparing two source trees (e.g. before and
after a refactor of compaction or GC).

Steps: build → upsert → upsert → minor → major → gc over synth pages
(base = urls with xxhash64 % 4 != 0; the upserts re-ingest a slice of
the base with one extra word and add the rest), once per retention
window in `--keep` (default: off, then keep-3). After each step one
JSON line holds `digest` (tools/index_digest.py), `listing` (dirs two
levels deep, snapshot ids replaced), `wand` (top-10 of three fixed
queries and the doc_stats count, live and per retained snapshot in
history order) and `verdicts` (validate_index's per-check ok flags).
Run it with the tree under test as the working directory:
    python tools/lifecycle_check.py [--docs 300] [--keep 0,3] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from index_digest import SNAPSHOT_ID, dataset_dirs, index_digest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ela_lib_spark.index.build import build_index, load_index, read_manifest  # noqa: E402
from ela_lib_spark.index.validate import validate_index  # noqa: E402
from ela_lib_spark.query.wand import wand_topk  # noqa: E402
from ela_lib_spark.session import get_spark  # noqa: E402
from ela_lib_spark.sources.synth import synth_pages_df  # noqa: E402
from ela_lib_spark.streaming.incremental import (  # noqa: E402
    apply_delta_batch, compact_index, gc_index, set_snapshot_retention)

QUERIES = ((["term0000"], "OR"), (["term0002", "term0045"], "AND"),
           (["zzupdated", "term0005"], "OR"))


def listing(index_dir: str) -> list[str]:
    """Dirs and files at depth 1, dirs at depth 2 outside datasets."""
    datasets = {os.path.relpath(p, index_dir) for p in dataset_dirs(index_dir)}
    out = []
    for e in os.listdir(index_dir):
        out.append(e)
        p = os.path.join(index_dir, e)
        if os.path.isdir(p) and e not in datasets:
            out += [f"{e}/{c}" for c in os.listdir(p)
                    if os.path.isdir(os.path.join(p, c))]
    return sorted(SNAPSHOT_ID.sub("<snap>", n) for n in out)


def serving(spark, index_dir: str, snapshot_id: str | None = None) -> dict:
    idx = load_index(spark, index_dir, snapshot_id=snapshot_id)
    topk = [[(r.doc_id, round(r.score, 9))
             for r in wand_topk(idx, terms, mode, 10).collect()]
            for terms, mode in QUERIES]
    return {"doc_stats": idx["doc_stats"].count(), "topk": topk}


def report(spark, index_dir: str, keep: int, step: str) -> dict:
    m = read_manifest(index_dir)
    wand = {"live": serving(spark, index_dir)}
    retained = [s for s in m["history"][-keep:] if s != m["snapshot_id"]]
    for i, sid in enumerate(retained if keep else []):
        wand[f"{i}:{sid.split('-')[0]}"] = serving(spark, index_dir, sid)
    v = validate_index(spark, index_dir)
    return {"keep": keep, "step": step, "digest": index_digest(index_dir),
            "listing": listing(index_dir), "wand": wand,
            "verdicts": {k: c["ok"] for k, c in v["checks"].items()}}


def lifecycle(spark, work: str, n_docs: int, keep: int):
    index_dir = os.path.join(work, f"idx_keep{keep}")
    pages = synth_pages_df(spark, n_docs).cache()
    h = F.pmod(F.xxhash64("url"), F.lit(4))
    base, extra = pages.filter(h != 0), pages.filter(h == 0)
    part = F.pmod(F.xxhash64("url", F.lit(1)), F.lit(2))
    changed = base.filter(F.pmod(F.xxhash64("url", F.lit(2)), F.lit(8)) == 0) \
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzupdated")))

    def upsert(epoch):
        batch = changed.filter(part == epoch).unionByName(
            extra.filter(part == epoch))
        apply_delta_batch(batch, epoch, index_dir, n_buckets=4, mode="upsert")

    steps = (
        ("build", lambda: build_index(spark, base, index_dir, n_buckets=4,
                                      n_shards=2)),
        ("upsert0", lambda: upsert(0)),
        ("upsert1", lambda: upsert(1)),
        ("minor", lambda: compact_index(spark, index_dir, mode="minor")),
        ("major", lambda: compact_index(spark, index_dir, mode="major")),
        ("gc", lambda: gc_index(spark, index_dir)),
    )
    for name, run in steps:
        run()
        if name == "build" and keep:
            set_snapshot_retention(index_dir, keep_last=keep)
        yield report(spark, index_dir, keep, name)
    pages.unpersist()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--keep", default="0,3",
                    help="comma-separated retention windows; 0 = off")
    ap.add_argument("--work", help="work dir (default: a temp dir)")
    args = ap.parse_args()
    spark = get_spark("lifecycle_check", master="local[2]",
                      shuffle_partitions=4, driver_memory="2g")
    work = args.work or tempfile.mkdtemp(prefix="lifecycle_check_")
    try:
        for keep in (int(k) for k in args.keep.split(",")):
            for rec in lifecycle(spark, work, args.docs, keep):
                print(json.dumps(rec, sort_keys=True), flush=True)
    finally:
        spark.stop()
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
