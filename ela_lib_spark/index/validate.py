"""Index integrity validation — the operational `fsck` for a
published index.

The reference relies on Elasticsearch's own shard checks; a
from-scratch engine needs an explicit one. Checks the invariants the
build/maintenance lifecycle promises (see index/build.py and
streaming/incremental.py docstrings):

1. manifest present with required keys; every referenced data dir
   exists and is readable;
2. the manifest's corpus stats agree with the doc dictionary it
   describes: the docs of the epochs its postings cover minus the
   tombstones of its delete epochs (the frames a time-traveled
   load_index reads) number n_docs with mean doc_len avg_dl. The
   stats come from the chunk store's metrics rows, which are written
   apart from the doc dictionary, so a contradiction means corruption
   — pending epochs included;
3. the live doc-stats surface has exactly n_docs rows (skipped while
   epochs are pending) and unique doc_ids;
4. every tombstone resolves to a known doc id (a dangling tombstone
   would silently no-op at GC);
5. the current snapshot_id is archived in the snapshot log;
6. `deep=True`: decode every posting block's streams and re-check the
   decoder contract (n_docs > 0, first <= last id, ids strictly
   ascending within the block, block length matches metadata) — a
   distributed full-scan pass, O(postings), for use after suspected
   corruption rather than per publish. No df is stored to check: a
   term's df is the sum of its blocks' `n_docs`, which this audit
   covers.

Returns {"ok": bool, "checks": {name: {"ok", "detail"}}}; CLI
`validate` exits non-zero when any check fails.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _check(out: dict, name: str, ok: bool, detail: str = "") -> None:
    out[name] = {"ok": bool(ok), "detail": detail}


def validate_index(spark: SparkSession, index_dir: str,
                   deep: bool = False) -> dict:
    from ela_lib_spark.index.build import (
        docs_dir_path,
        postings_dirs,
        read_manifest,
    )

    checks: dict = {}
    manifest = read_manifest(index_dir)
    if manifest is None:
        _check(checks, "manifest", False, f"no manifest.json in {index_dir!r}")
        return {"ok": False, "checks": checks}
    required = ("postings_dir", "chunks_dir", "n_buckets", "n_shards",
                "n_docs", "avg_dl", "codec", "snapshot_id")
    missing = [k for k in required if k not in manifest]
    _check(checks, "manifest", not missing,
           f"missing keys: {missing}" if missing else "all required keys")
    if missing:
        # the remaining checks dereference these keys — report the
        # corruption instead of crashing on it (review r4)
        return {"ok": False, "checks": checks}

    # 1. referenced dirs exist
    base, *tiers = postings_dirs(index_dir, manifest)
    dirs = {
        "postings": base,
        "chunks": os.path.join(index_dir, manifest["chunks_dir"]),
        "docs": docs_dir_path(index_dir, manifest),
    }
    for p in tiers:
        dirs[f"tier:{os.path.basename(p)}"] = p
    gone = [k for k, p in dirs.items() if not os.path.exists(p)]
    _check(checks, "data_dirs", not gone,
           f"missing: {gone}" if gone else f"{len(dirs)} dirs present")
    if gone:
        return {"ok": False, "checks": checks}

    # every remaining check reads datasets that can themselves be
    # corrupt (truncated parquet, empty dirs): an unreadable dataset is
    # a FINDING for an fsck tool, never a crash (review r4)
    try:
        _dataset_checks(spark, index_dir, manifest, checks, deep)
    except Exception as e:
        _check(checks, "datasets_readable", False,
               f"{type(e).__name__}: {str(e)[:300]}")
    return {"ok": all(c["ok"] for c in checks.values()), "checks": checks}


def _dataset_checks(spark, index_dir: str, manifest: dict, checks: dict,
                    deep: bool) -> None:
    from ela_lib_spark.index.build import (
        covered_epochs,
        delta_deletes_path,
        live_epochs,
        read_doc_dict,
        read_tombstones,
    )

    # 2. and 3. doc-stats surface: n rows + unique ids (bulk + delta −
    # tombs). Manifest n_docs refreshes at compaction; delta/delete
    # epochs not yet covered by a publish legitimately shift the live
    # count — an expected pre-compaction state, not corruption
    docs = read_doc_dict(spark, index_dir, manifest).select("doc_id",
                                                            "doc_len")
    tomb = read_tombstones(spark, index_dir, manifest=manifest)
    live = docs.join(tomb, "doc_id", "left_anti") if tomb is not None else docs
    agg = live.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.sum("doc_len").alias("toks"),
    ).first()
    pending = (
        set(live_epochs(os.path.join(index_dir, "delta_chunks"), manifest))
        - covered_epochs(manifest)
    ) or (
        set(live_epochs(delta_deletes_path(index_dir), manifest))
        - set(manifest.get("delete_epochs", []))
    )
    # the corpus stats describe the manifest's covered and delete
    # epochs: without pending epochs those are the live frames above
    if pending:
        _check(checks, "doc_stats_count", True,
               f"uncompacted epochs {sorted(pending)}: live rows={agg.n} "
               f"vs manifest n_docs={manifest['n_docs']} (refreshes at "
               "next compaction — skipped)")
        pinned = read_doc_dict(spark, index_dir, manifest,
                               sorted(covered_epochs(manifest)))
        ptomb = read_tombstones(spark, index_dir,
                                manifest.get("delete_epochs", []))
        if ptomb is not None:
            pinned = pinned.join(ptomb, "doc_id", "left_anti")
        n, toks = pinned.agg(F.count("*"), F.sum("doc_len")).first()
    else:
        _check(checks, "doc_stats_count",
               int(agg.n) == int(manifest["n_docs"]),
               f"live doc rows={agg.n} vs manifest "
               f"n_docs={manifest['n_docs']}")
        n, toks = agg.n, agg.toks
    n, toks = int(n), int(toks or 0)
    avg = toks / n if n else 0.0
    _check(checks, "corpus_stats",
           n == int(manifest["n_docs"])
           and abs(avg - float(manifest["avg_dl"])) < 1e-6,
           f"doc dictionary ({n}, {avg:.4f}) vs manifest "
           f"({manifest['n_docs']}, {manifest['avg_dl']:.4f})")
    _check(checks, "doc_ids_unique", int(agg.n) == int(agg.nd),
           f"rows={agg.n} distinct={agg.nd}")

    # 4. tombstones resolve to known docs
    if tomb is not None:
        dangling = tomb.join(docs, "doc_id", "left_anti").count()
        _check(checks, "tombstones_resolve", dangling == 0,
               f"{dangling} dangling tombstones")
    else:
        _check(checks, "tombstones_resolve", True, "no delete log")

    # 5. snapshot archive
    snap = manifest.get("snapshot_id")
    spath = os.path.join(index_dir, "snapshots", f"{snap}.json")
    _check(checks, "snapshot_archived", os.path.exists(spath), str(snap))

    if deep:
        checks.update(_deep_postings_check(spark, manifest, index_dir))


def _deep_postings_check(spark, manifest: dict, index_dir: str) -> dict:
    """Distributed block-decode audit: every block must satisfy the
    decoder contract. Pure map over the postings (one pass, no
    shuffle); returns aggregate violation counts."""
    import pandas as pd

    from ela_lib_spark.index.build import read_postings

    codec = manifest["codec"]

    def fn(it):
        from ela_lib_spark.index.codecs import decode_block

        bad_decode = bad_order = bad_meta = n_blocks = 0
        for pdf in it:
            for r in pdf.itertuples(index=False):
                n_blocks += 1
                if r.n_docs <= 0 or r.first_doc_id > r.last_doc_id:
                    bad_meta += 1
                    continue
                try:
                    ids, tfs, dls = decode_block(
                        r.doc_ids_delta, r.tfs, r.dls, int(r.n_docs),
                        int(r.first_doc_id), codec)
                except Exception:
                    bad_decode += 1
                    continue
                if (len(ids) != r.n_docs or ids[0] != r.first_doc_id
                        or ids[-1] != r.last_doc_id
                        or (len(ids) > 1 and not (ids[1:] > ids[:-1]).all())
                        or (tfs <= 0).any() or (dls < 0).any()):
                    bad_order += 1
        yield pd.DataFrame({"n_blocks": [n_blocks], "bad_meta": [bad_meta],
                            "bad_decode": [bad_decode],
                            "bad_order": [bad_order]})

    tot = (
        read_postings(spark, index_dir, manifest).mapInPandas(
            fn, "n_blocks long, bad_meta long, bad_decode long, bad_order long"
        ).agg(F.sum("n_blocks"), F.sum("bad_meta"), F.sum("bad_decode"),
              F.sum("bad_order")).first()
    )
    out: dict = {}
    _check(out, "deep_block_decode",
           (tot[1] or 0) == 0 and (tot[2] or 0) == 0 and (tot[3] or 0) == 0,
           f"{tot[0]} blocks: bad_meta={tot[1]} bad_decode={tot[2]} "
           f"bad_order={tot[3]}")
    return out
