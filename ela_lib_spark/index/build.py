"""Inverted-index build pipeline (SURVEY.md §2.9, §7 steps 2–3, 5).

Spark-first design, three jobs over the `web_pages` table:

1. **docs job** — extract text (Arrow pandas UDF, map-side), tokenize
   with a codegen'd `split`, hash every token to an int64 term id with
   JVM `xxhash64` (whole-stage codegen — zero Python in the token hot
   path), assign deterministic doc ids, and materialize ONE slim
   intermediate parquet: (url, bucket, doc_id, doc_len, term_ids).
   This table doubles as the doc dictionary (doc_stats is a pruned
   column read of it — parquet never touches `term_ids` for stats).
2. **SPIMI chunk stage** — `mapInPandas` over the docs parquet builds
   per-split term→postings segments and flushes them as varint-encoded
   chunk rows (classic SPIMI, Manning IR ch.4). All-int64 numpy kernel:
   one `lexsort` + run-length encode per flush; no pandas object
   strings anywhere (term ids replace term strings). This is map-side
   combine: the term shuffle moves compressed chunks, not raw
   (term, doc, tf) rows.
3. **salted term-partitioned merge** — shuffle by (term_id, shard)
   where shard = bucket-range group: a deterministic, order-preserving
   salt. A head term's postings are split across shards by doc-id
   range, so no single merge group ever holds a head term's full list
   (the skew mitigation the north rule requires), and every shard holds
   a disjoint, sorted doc range — which is exactly the layout block-max
   WAND wants (query/wand.py groups by shard for doc-at-a-time
   scoring). The merge output is written directly (no extra
   repartition): each output file is already sorted by term_id, so
   parquet row-group min/max stats prune query-term scans.

**Term-id scheme.** term_id = xxhash64(term) (seed 42), computed
JVM-side at build time and via the bit-identical pure-Python XXH64
(functions/xxh.py) for query terms at the driver. 64-bit ids make the
SPIMI/merge kernels pure int64 numpy — the string-object version was
3–5× slower and memory-bandwidth-bound. Collision math: P(any
collision among V terms) ≈ V²/2⁶⁵; V=10⁸ → ~3·10⁻⁴ (one merged pair
in ~3000 corpora), detectable by grouping the distinct terms by
`xxhash64(term)` and checking count(distinct term) per term_id.

**Doc-id scheme.** doc_id = (bucket << 40) | rank_within_bucket, where
bucket = pmod(xxhash64(url), n_buckets) and rank is the row_number over
urls in the bucket. Fully deterministic (no range-sampling, no
monotonically_increasing_id), independent of physical partitioning and
parallelism — this is what makes the build resumable and reproducible
across cluster sizes. Gaps within a bucket are 1 → delta streams
compress to ~1 byte/posting. Use n_buckets ≫ cores (bench: 16×cores):
the rank sort parallelism follows n_buckets, and buckets are the
resume/lineage granularity.

Reference parity: the scan/slice surface maps to the reference's sliced
scroll (pkg/es/es5.go:106-163, slice spec es5.go:116-122); `bucket`
plays the role of the slice id; chunk flush size plays `scroll_size`;
the chunk store's per-bucket metrics rows are the Progress analog
(utils/progress.go:40-141) made durable for resume (north rule:
per-partition lineage).
"""

from __future__ import annotations

import functools
import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ela_lib_spark import BM25_B, BM25_K1
from ela_lib_spark.functions.text import extract_text, tokenize_col
from ela_lib_spark.index.codecs import (
    CODEC_VARINT,
    decode_chunks,
    encode_block,
    encode_chunks,
    isin_sorted,
    varint_encode_segmented,
)
from ela_lib_spark.schemas import BLOCK_SIZE, POSTING_CHUNKS, POSTINGS

DOC_BITS = 40
# Sentinel term_id for per-bucket metrics rows (resume set and corpus
# stats). A real token hashing exactly here has probability V/2^64 ≈ 0.
METRICS_TERM_ID = -(1 << 63)
# Metrics sidecar rows ride the POSTING_CHUNKS schema — they are
# emitted inside the same mapInPandas stream as the posting chunks and
# split out via the is_m partition, so they must share its physical
# columns. The carrier-column mapping is defined HERE and only here
# (VERDICT r4 #4: both ends previously hard-coded `first_doc_id means
# n_tokens` / `shard/1000 means seconds` independently):
#   part_id      → bucket id                      (its normal meaning)
#   n_docs       → docs seen in the bucket        (its normal meaning)
#   first_doc_id → tokens seen in the bucket
# Writers go through metrics_rows_pdf (and metrics_rows_decremented
# for GC rewrites); readers through corpus_stats. Nothing else may
# touch the mapping.
_METRICS_N_TOKENS_COL = "first_doc_id"


def metrics_rows_pdf(bucket_docs: dict, bucket_tokens: dict) -> "pd.DataFrame":
    """One POSTING_CHUNKS-shaped metrics row per bucket (writer side
    of the carrier mapping above)."""
    return pd.DataFrame(
        {
            "term_id": METRICS_TERM_ID,
            "part_id": np.fromiter(
                bucket_docs.keys(), np.int64, len(bucket_docs)
            ).astype(np.int32),
            "shard": 0,
            "doc_ids": b"",
            "tfs": b"",
            "dls": b"",
            "n_docs": [bucket_docs[x] for x in bucket_docs],
            _METRICS_N_TOKENS_COL: [bucket_tokens.get(x, 0)
                                    for x in bucket_docs],
        }
    )


def metrics_rows_decremented(m: "pd.DataFrame",
                             decrements: dict) -> "pd.DataFrame":
    """Metrics rows with each bucket's {part_id: (n_docs, n_tokens)}
    tombstone decrements subtracted (the GC rewrite's side of the
    carrier mapping)."""
    dn, dt = (np.array([decrements.get(int(b), (0, 0))[i]
                        for b in m["part_id"]], np.int64) for i in (0, 1))
    return m.assign(**{
        "n_docs": m["n_docs"].to_numpy(np.int64) - dn,
        _METRICS_N_TOKENS_COL:
            m[_METRICS_N_TOKENS_COL].to_numpy(np.int64) - dt,
    })


def corpus_stats(metrics_df: DataFrame,
                 decrements: dict | None = None) -> tuple[int, float]:
    """(n_docs, avg_dl) the manifest records: one aggregate over
    committed metrics rows (reader side of the carrier mapping), minus
    the {part_id: (n_docs, n_tokens)} tombstone decrements."""
    n_docs, n_tokens = metrics_df.agg(
        F.sum("n_docs").cast("long"),
        F.sum(_METRICS_N_TOKENS_COL).cast("long"),
    ).first()
    n_docs, n_tokens = int(n_docs or 0), int(n_tokens or 0)
    for dn, dt in (decrements or {}).values():
        n_docs, n_tokens = n_docs - dn, n_tokens - dt
    return n_docs, (float(n_tokens) / float(n_docs) if n_docs else 0.0)


FLUSH_POSTINGS = 2_000_000  # SPIMI in-memory segment bound per partition

# Absolute tombstone bounds (VERDICT r3 #1 — the driver must never
# become the scaling limit of the delete path):
# - above DRIVER cap, tombstones are NEVER materialized driver-side;
#   query/GC switch to a distributed co-grouped filter (the set stays
#   a DataFrame end to end). 10^7 × 8 B = 80 MB per closure ship —
#   the comfortable ceiling for task-broadcast state.
# - above GC cap, compact_index(mode="auto") forces a chunk-store GC
#   even if the tombstone FRACTION is still small (10^8 ≈ 800 MB of
#   delete-log state is where rewrite-and-truncate beats carrying it).
TOMBSTONE_DRIVER_CAP = 10_000_000
TOMBSTONE_GC_CAP = 100_000_000
# Maintenance triggers (streaming/incremental.compact_index). Read as
# module attributes at call time, so tests can monkeypatch them:
# - auto mode runs GC once tombstones exceed GC_AFTER_DELETED_FRAC of
#   the live corpus (or TOMBSTONE_GC_CAP, whichever is smaller),
# - else major once the tier count would exceed MAJOR_AFTER_TIERS,
# - the GC cogroup path (past the driver cap) salts each part's chunk
#   group by term into GC_COGROUP_SALTS groups to bound group memory.
GC_AFTER_DELETED_FRAC = 0.25
MAJOR_AFTER_TIERS = 4
GC_COGROUP_SALTS = 16
# The live-ingest dirs apply_delta_batch writes, one `epoch=N` subdir
# per micro-batch: chunk input, delete log, doc dictionary.
DELTA_DIRS = ("delta_chunks", "delta_deletes", "delta_doc_stats")
# An epoch is live only once committed: apply_delta_batch writes the
# empty file `delta_commits/epoch=N` after the epoch's last write and
# removes it before a replay's first; GC frees it with the epoch.
DELTA_COMMITS = "delta_commits"


def epoch_marker(out_dir: str, epoch: int) -> str:
    return os.path.join(out_dir, DELTA_COMMITS, f"epoch={epoch}")


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def shard_group(n_buckets: int, n_shards: int) -> int:
    """Buckets per merge shard — THE shared formula behind the salted
    merge (merge_chunks), the SPIMI chunk granularity (build_index)
    and the doc_id→shard derivation the distributed tombstone filter
    uses (query/wand.tombstones_with_shard, gc cogroup). One
    definition so the mapping can't drift."""
    return max(1, (n_buckets + n_shards - 1) // n_shards)


def tombstone_part_expr(manifest: dict):
    """Column expr mapping a tombstoned `doc_id` to the part_id of the
    chunk row holding its postings — the shared half of the
    doc_id→shard derivation (query/wand.tombstones_with_shard and the
    GC cogroup both use it; one definition, review r4). Bulk chunk
    rows carry their bucket-GROUP's base bucket; delta epochs chunk at
    group=1 so part = the (offset) bucket itself.

    Legacy manifests without `chunk_bucket_group` fall back to
    shard_group(n_buckets, n_shards) — exact as long as the index was
    never re-sharded, and compact/gc stamp the true value into the
    manifest before any re-shard can change n_shards."""
    from ela_lib_spark.streaming.incremental import DELTA_BUCKET_BASE

    cg = int(manifest.get("chunk_bucket_group") or shard_group(
        int(manifest["n_buckets"]), int(manifest["n_shards"])))
    bucket = F.shiftright("doc_id", DOC_BITS)
    return F.when(
        bucket < DELTA_BUCKET_BASE, F.floor(bucket / cg) * cg
    ).otherwise(bucket)


def stamp_chunk_bucket_group(manifest: dict) -> None:
    """Record the build-time chunk part granularity on a legacy
    manifest BEFORE anything can change n_shards (re-shard major):
    pre-r4 manifests' chunks were produced with
    shard_group(n_buckets, n_shards-at-build), and n_shards still
    holds the build value until the first re-shard."""
    manifest.setdefault(
        "chunk_bucket_group",
        shard_group(int(manifest["n_buckets"]), int(manifest["n_shards"])),
    )


def doc_id_expr():
    return (
        F.shiftleft(F.col("bucket").cast("long"), DOC_BITS) + F.col("rk") - 1
    ).alias("doc_id")


def term_id_expr(tokens_col):
    """array<string> → array<long> of xxhash64 term ids (JVM, codegen)."""
    return F.transform(tokens_col, lambda t: F.xxhash64(t))


# ----------------------------------------------------- string-token path
# (oracle/truth surface for tests; the build itself is all term-ids)


def pages_with_tokens(pages: DataFrame, use_html: bool = False) -> DataFrame:
    """Project (url, tokens) — tokenization stays JVM-side (codegen)."""
    text = extract_text(F.col("html")) if use_html else F.col("text")
    return pages.select("url", tokenize_col(text).alias("tokens"))


def with_doc_ids(tokens_df: DataFrame, n_buckets: int) -> DataFrame:
    w = Window.partitionBy("bucket").orderBy("url")
    return (
        tokens_df.withColumn("bucket", bucket_expr(n_buckets))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("doc_id", doc_id_expr())
        .drop("rk")
    )


def ids_with_tokens(pages: DataFrame, n_buckets: int, use_html: bool = False) -> DataFrame:
    """(url, bucket, doc_id, tokens) with string tokens — the ground-
    truth surface (same ids as the build; tokens for brute-force
    oracles)."""
    return with_doc_ids(pages_with_tokens(pages, use_html), n_buckets).select(
        "url", "bucket", "doc_id", "tokens"
    )


# --------------------------------------------------------- docs job (1)


def docs_with_term_ids(
    pages: DataFrame,
    n_buckets: int,
    use_html: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """(url, bucket, doc_id, doc_len, term_ids) — the one materialized
    intermediate. Extraction, tokenization and term-id hashing all run
    map-side (pre-shuffle), so their parallelism follows input splits;
    the single shuffle is the bucket hash for rank assignment, and its
    sort parallelism follows n_buckets (keep n_buckets ≫ cores).

    `num_partitions` fixes the shuffle/write partition count explicitly
    (an explicit repartition is exempt from AQE coalescing). This
    matters downstream: the docs parquet compresses hard (dictionary-
    encoded zipf term ids), and small files = single row groups = the
    SPIMI stage's read-split ceiling. Write MANY small files (≈3× total
    cores), never few big ones.

    Null-safe: a null text/html row becomes an empty term_ids array
    (doc_len 0) — it gets a doc id and counts toward n_docs."""
    text = extract_text(F.col("html")) if use_html else F.col("text")
    tids = term_id_expr(tokenize_col(text))
    base = pages.select(
        "url",
        F.coalesce(tids, F.array().cast("array<long>")).alias("term_ids"),
    ).withColumn("bucket", bucket_expr(n_buckets))
    if num_partitions is not None:
        # hash on bucket: a bucket stays whole within one output file,
        # and the window below reuses this clustering (no 2nd exchange)
        base = base.repartition(num_partitions, "bucket")
    w = Window.partitionBy("bucket").orderBy("url")
    return (
        base.withColumn("rk", F.row_number().over(w))
        .withColumn("doc_id", doc_id_expr())
        .select(
            "url",
            "bucket",
            "doc_id",
            F.size("term_ids").cast("long").alias("doc_len"),
            "term_ids",
        )
    )


def doc_stats_from_docs(docs_df: DataFrame) -> DataFrame:
    """Pruned projection — parquet reads skip the term_ids column."""
    return docs_df.select("doc_id", "url", "doc_len", "bucket")


# ------------------------------------------------------------- stage A


def _spimi_fn(bucket_group: int = 1):
    """mapInPandas closure: per-split SPIMI segment builder.

    All-int64 numpy: batches accumulate (bucket, term_id, doc_id,
    doc_len) posting streams; flush() does ONE lexsort + run-length
    pass over up to FLUSH_POSTINGS entries and encodes all chunks with
    one encode_chunks call.

    Chunk granularity = `bucket_group` consecutive buckets (r3): the
    merge groups by shard = bucket//group anyway, and doc ids embed
    the bucket in their high bits, so sorting by (bucket//group,
    term, doc) yields doc-ascending runs per (group, term) directly.
    Chunking per BUCKET (r2, group=1) made the zipf tail pay one
    chunk-row overhead per (bucket, term) — measured 162 MB of merge
    shuffle for ~20 MB of postings at 512 buckets. part_id of a chunk
    is the group's first bucket, so merge_chunks' shard derivation
    (part_id // group) is unchanged; METRICS rows stay per-bucket
    (resume granularity is unaffected)."""

    def fn(it):
        bufs: list[tuple] = []  # (bucket_rep, term_ids, doc_rep, dl_rep)
        pending = 0
        bucket_docs: dict[int, int] = {}
        bucket_tokens: dict[int, int] = {}

        def flush():
            nonlocal bufs, pending
            if not bufs:
                return None
            cat = (lambda i: np.concatenate([x[i] for x in bufs])
                   if len(bufs) > 1 else bufs[0][i])
            b, t, d, l = cat(0), cat(1), cat(2), cat(3)
            bufs = []
            pending = 0
            n = len(t)
            if n == 0:
                return None
            g = b // bucket_group if bucket_group > 1 else b
            # sort by (group, term, doc): doc embeds bucket in its high
            # bits, so doc order within a (group, term) run is
            # bucket-major ascending — the decoder's delta contract
            order = np.lexsort((d, t, g))
            g, t, d, l = g[order], t[order], d[order], l[order]
            # posting runs: same (group, term, doc) → tf (a doc lives
            # in exactly one bucket, so doc collisions across buckets
            # cannot occur)
            new_post = np.ones(n, bool)
            new_post[1:] = (g[1:] != g[:-1]) | (t[1:] != t[:-1]) | (d[1:] != d[:-1])
            ps = np.flatnonzero(new_post)
            tf = np.diff(np.append(ps, n))
            pg, pt, pdoc, pl = g[ps], t[ps], d[ps], l[ps]
            # chunk runs: same (group, term)
            new_chunk = np.ones(len(ps), bool)
            if len(ps) > 1:
                new_chunk[1:] = (pg[1:] != pg[:-1]) | (pt[1:] != pt[:-1])
            cs = np.flatnonzero(new_chunk)
            counts = np.diff(np.append(cs, len(ps)))
            enc_d, enc_t, enc_l, first = encode_chunks(pdoc, tf, pl, counts)
            return pd.DataFrame(
                {
                    "term_id": pt[cs],
                    "part_id": (pg[cs] * bucket_group).astype(np.int32),
                    "shard": np.zeros(len(cs), np.int32),
                    "doc_ids": enc_d,
                    "tfs": enc_t,
                    "dls": enc_l,
                    "n_docs": counts.astype(np.int64),
                    "first_doc_id": first,
                }
            )

        for pdf in it:
            if len(pdf) == 0:
                continue
            tl = pdf["term_ids"]
            lens = np.fromiter(
                (0 if x is None else len(x) for x in tl), np.int64, len(pdf)
            )
            bkt = pdf["bucket"].to_numpy(np.int64)
            ub, uc = np.unique(bkt, return_counts=True)
            for x, c in zip(ub.tolist(), uc.tolist()):
                bucket_docs[x] = bucket_docs.get(x, 0) + c
            total = int(lens.sum())
            if total == 0:
                continue
            tids = np.concatenate(
                [np.asarray(x, np.int64) for x in tl if x is not None and len(x)]
            )
            doc_rep = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
            bkt_rep = np.repeat(bkt, lens)
            dl_rep = np.repeat(lens, lens)
            ub2, uc2 = np.unique(bkt_rep, return_counts=True)
            for x, c in zip(ub2.tolist(), uc2.tolist()):
                bucket_tokens[x] = bucket_tokens.get(x, 0) + c
            bufs.append((bkt_rep, tids, doc_rep, dl_rep))
            pending += total
            if pending >= FLUSH_POSTINGS:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out
        # one metrics row per bucket seen by this split
        if bucket_docs:
            yield metrics_rows_pdf(bucket_docs, bucket_tokens)

    return fn


def chunks_from_docs(docs_df: DataFrame, skip_buckets=None,
                     bucket_group: int = 1) -> DataFrame:
    """Stage A: SPIMI posting chunks, one+ per (bucket group, term).

    Each chunk is internally doc-id-ascending (each input file is
    sorted by (bucket, url), so any read split of it is too). Chunks
    of the same (group, term) from different read splits may cover
    INTERLEAVED doc ranges — the docs table is hash-partitioned by
    bucket, so a split's bucket subset is scattered — and the merge
    kernel therefore sorts within each (term, shard) group before
    block tiling (r5 fix; see _merge_batch_vectorized).

    `bucket_group` should equal the merge's shard group size
    (ceil(n_buckets/n_shards), what build_index passes): chunking at
    the same granularity the merge groups by collapses the zipf tail's
    per-(bucket, term) chunk-row overhead. Chunks produced at ANY
    granularity stay mergeable together (part_id→shard is monotone in
    doc-id space), which is what keeps resume-append and delta epochs
    (group=1) compatible.

    The output carries `is_m` (1 on per-bucket metrics rows, 0 on
    posting chunks) — written with partitionBy("is_m") so the stats /
    resume scans read ONLY the tiny metrics sidecar via partition
    pruning instead of every chunk file."""
    if skip_buckets:
        docs_df = docs_df.filter(
            ~F.col("bucket").isin([int(x) for x in skip_buckets])
        )
    out = docs_df.select("bucket", "doc_id", "term_ids").mapInPandas(
        _spimi_fn(bucket_group), schema=POSTING_CHUNKS
    )
    return out.withColumn(
        "is_m", (F.col("term_id") == F.lit(METRICS_TERM_ID)).cast("int")
    )


# ------------------------------------------------------------- stage B


def _merge_batch_vectorized(pdf: pd.DataFrame, avg_dl: float, codec: str,
                            block_size: int,
                            deleted: np.ndarray | None = None) -> pd.DataFrame:
    """Whole-batch merge with ~20 numpy calls total, independent of the
    number of (term, shard) groups — the zipf tail makes most groups
    tiny, so per-group work must be O(0). Decode, in-group sort,
    tombstone purge, impacts and block tiling are codec-independent;
    only the final block encode depends on `codec`.

    `deleted` (sorted int64 doc ids) purges tombstoned postings during
    the merge: postings are dropped after id reconstruction and chunk
    lengths recomputed, so emitted blocks contain live docs only."""
    k1, b = BM25_K1, BM25_B
    n = pdf["n_docs"].to_numpy(np.int64)
    nrows = len(pdf)
    term_arr = pdf["term_id"].to_numpy(np.int64)
    shard_arr = pdf["shard"].to_numpy(np.int64)
    ids, tfs, dls = decode_chunks(pdf["doc_ids"], pdf["tfs"], pdf["dls"], n,
                                  pdf["first_doc_id"].to_numpy(np.int64))
    total = len(ids)
    chunk_starts = np.cumsum(n) - n

    # postings must be doc-id-ascending WITHIN each (term, shard)
    # group before block tiling. Chunks arrive sorted by first_doc_id,
    # but their doc RANGES can interleave: the docs table is
    # hash-partitioned by bucket, so one read split's chunk covers a
    # scattered bucket subset (e.g. {65, 94}) that straddles another
    # split's ({70, 80}) — concatenation alone emits misordered blocks
    # and inverted [first, last] envelopes, which the AND window
    # (query/wand.and_window) then prunes wrongly (caught by validate
    # --deep's full-decode audit at 512-bucket scale, r5; small indexes place
    # ≤1 bucket per file, which is why rank-identity tests never saw
    # it). Stable lexsort on (group, id); skipped when already sorted
    # (the common small-index / single-bucket-per-split case).
    new_group = np.ones(nrows, bool)
    if nrows > 1:
        new_group[1:] = (term_arr[1:] != term_arr[:-1]) | (
            shard_arr[1:] != shard_arr[:-1]
        )
    post_group = np.repeat(np.cumsum(new_group) - 1, n)
    unsorted = bool(
        ((ids[1:] <= ids[:-1]) & (post_group[1:] == post_group[:-1])).any()
    ) if total > 1 else False
    if unsorted:
        order = np.lexsort((ids, post_group))
        ids, tfs, dls = ids[order], tfs[order], dls[order]

    if deleted is not None and total:
        dead = isin_sorted(ids, deleted)
        if dead.any():
            keep = ~dead
            # per-chunk live counts; after the in-group sort only their
            # per-group sums are meaningful, which is all tiling uses
            n = np.add.reduceat(keep.astype(np.int64), chunk_starts)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            total = int(n.sum())
            chunk_starts = np.cumsum(n) - n
            # a chunk may now be empty; groups/blocks below handle n=0
            # rows naturally (zero blocks are emitted for them)

    if total == 0:  # every posting in the batch was tombstoned
        return pd.DataFrame({k: pd.Series([], dtype=v) for k, v in (
            ("term_id", "int64"), ("shard", "int32"), ("block_id", "int32"),
            ("first_doc_id", "int64"), ("last_doc_id", "int64"),
            ("doc_ids_delta", "object"), ("tfs", "object"), ("dls", "object"),
            ("n_docs", "int32"), ("block_max_impact", "float64"))})

    impact = tfs / (tfs + k1 * (1 - b + b * dls / avg_dl))

    # group boundaries: consecutive chunks with equal (term, shard)
    # (new_group computed above, before the in-group sort)
    g_chunk = np.flatnonzero(new_group)
    g_start = chunk_starts[g_chunk]
    g_end = np.append(g_start[1:], total)
    g_len = g_end - g_start

    # block tiling of each group
    nblk = (g_len + block_size - 1) // block_size
    total_blk = int(nblk.sum())
    blk_group = np.repeat(np.arange(len(g_start)), nblk)
    blk_cum = np.zeros(len(g_start), np.int64)
    np.cumsum(nblk[:-1], out=blk_cum[1:])
    blk_idx = np.arange(total_blk) - np.repeat(blk_cum, nblk)
    b_start = g_start[blk_group] + blk_idx * block_size
    b_end = np.minimum(b_start + block_size, g_end[blk_group])
    b_n = b_end - b_start

    # per-block metadata (blocks tile [0, total) in order → reduceat)
    bmax = np.maximum.reduceat(impact, b_start) if total_blk else np.zeros(0)

    if codec == CODEC_VARINT:
        # ONE encode per stream, sliced per block; the first id of each
        # block lives in metadata, so its delta is left out
        d_all = np.empty(total, np.int64)
        d_all[0] = 0
        np.subtract(ids[1:], ids[:-1], out=d_all[1:])
        keep = np.ones(total, bool)
        keep[b_start] = False
        d_enc = varint_encode_segmented(d_all[keep], b_n - 1)
        tf_enc = varint_encode_segmented(tfs, b_n)
        dl_enc = varint_encode_segmented(dls, b_n)
    else:
        blocks = [encode_block(ids[s:e], tfs[s:e], dls[s:e], codec)
                  for s, e in zip(b_start, b_end)]
        d_enc, tf_enc, dl_enc = ([blk[i] for blk in blocks] for i in range(3))

    return pd.DataFrame(
        {
            "term_id": term_arr[g_chunk][blk_group],
            "shard": shard_arr[g_chunk][blk_group].astype(np.int32),
            "block_id": blk_idx.astype(np.int32),
            "first_doc_id": ids[b_start],
            "last_doc_id": ids[b_end - 1],
            "doc_ids_delta": d_enc,
            "tfs": tf_enc,
            "dls": dl_enc,
            "n_docs": b_n.astype(np.int32),
            "block_max_impact": bmax,
        }
    )


def _merge_stream_fn(avg_dl: float, codec: str, block_size: int = BLOCK_SIZE,
                     deleted: np.ndarray | None = None):
    """mapInPandas merge: the input partition is sorted by
    (term_id, shard, first_doc_id); groups are detected by key change
    and the trailing (possibly batch-spanning) group is buffered, so
    every batch handed to _merge_batch_vectorized holds whole groups.
    This avoids applyInPandas's per-group JVM round trip — critical
    because the zipf long tail makes most groups tiny."""

    def fn(it):
        buf = None
        for pdf in it:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_t = pdf["term_id"].iloc[-1]
            last_s = pdf["shard"].iloc[-1]
            mask_last = (pdf["term_id"] == last_t) & (pdf["shard"] == last_s)
            buf = pdf[mask_last]
            body = pdf[~mask_last]
            if len(body):
                yield _merge_batch_vectorized(body, avg_dl, codec, block_size,
                                              deleted)
        if buf is not None and len(buf):
            yield _merge_batch_vectorized(buf, avg_dl, codec, block_size,
                                          deleted)

    return fn


def merge_chunks(
    chunks: DataFrame,
    avg_dl: float,
    n_shards: int,
    n_buckets: int,
    codec: str = CODEC_VARINT,
    deleted: np.ndarray | None = None,
) -> DataFrame:
    """Stage B: salted merge. shard = bucket-range group (order-preserving
    salt). The one shuffle is an explicit repartition on
    (term_id, shard) + in-partition sort; the merge itself streams
    through mapInPandas (see _merge_stream_fn).

    `deleted` (sorted int64 doc ids — tombstones from upsert/delete
    delta batches) purges those docs' postings during the merge. No df
    is stored: a term's df is the sum of its blocks' `n_docs`, which
    the query path reads per query (query/wand.term_lookup), so a
    purge needs no df bookkeeping."""
    group = shard_group(n_buckets, n_shards)
    pre = chunks.filter(F.col("term_id") != METRICS_TERM_ID).withColumn(
        "shard", (F.col("part_id") / group).cast("int")
    )
    # explicit count — a bare repartition(cols) is subject to AQE
    # coalescing, which can collapse the merge to a near-serial task.
    # 1× slots (r6, was 2×): the merge kernel pays a fixed Python/Arrow
    # cost per task and the shard salting bounds any (term, shard)
    # group far below a partition, so one wave of full-width tasks wins
    # (A/B at 32 cores: merge 4.7 → 3.1 s).
    n_parts = max(chunks.sparkSession.sparkContext.defaultParallelism, 16)
    part = pre.repartition(n_parts, "term_id", "shard")
    part = part.sortWithinPartitions("term_id", "shard", "first_doc_id")
    return part.mapInPandas(_merge_stream_fn(avg_dl, codec, deleted=deleted),
                            schema=POSTINGS)


# ------------------------------------------------------------ pipeline


def _read_if_exists(spark, path):
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets whose chunks a build into `out_dir` durably committed:
    the part ids of the metrics rows in `out_dir/chunks` (the data
    itself, so no separate record can disagree with it and cause
    buckets to be re-appended, which would duplicate postings)."""
    ch = os.path.join(out_dir, "chunks")
    df = _read_if_exists(spark, ch) if os.path.exists(ch) else None
    if df is None:
        return set()
    if "is_m" in df.columns:  # partition-pruned metrics sidecar
        df = df.filter(F.col("is_m") == 1)
    return {
        r.part_id
        for r in df.filter(F.col("term_id") == METRICS_TERM_ID)
        .select("part_id")
        .distinct()
        .collect()
    }


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.json")


def read_manifest(out_dir: str) -> dict | None:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def new_snapshot_id(prefix: str) -> str:
    """Globally unique snapshot id: wall-clock millis + random suffix.
    time.monotonic() (the r2 scheme) has a boot-relative epoch, so two
    builds into the same out_dir from different processes (or within
    one second) could collide and silently merge history entries."""
    import uuid

    return f"{prefix}-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"


def write_manifest(out_dir: str, manifest: dict) -> None:
    """Atomic manifest flip (os.replace) — THE single commit point for
    index publishes: data dirs are written to versioned names first,
    then the manifest pointer switches readers over.

    Snapshot log (Iceberg metadata-log analog): every committed
    manifest is also archived under snapshots/<snapshot_id>.json —
    refusing to overwrite an existing snapshot file (ids must be
    unique; see new_snapshot_id) — so `load_index(snapshot_id=...)`
    can time-travel to any published state whose data dirs still
    exist (compaction prunes old data; the log itself is append-only
    and tiny)."""
    snap = manifest.get("snapshot_id")
    prior = read_manifest(out_dir) or {}
    hist = list(prior.get("history", []))
    for s in list(manifest.get("history", [])) + ([snap] if snap else []):
        if s not in hist:
            hist.append(s)
    manifest = dict(manifest, history=hist)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    if snap:
        sdir = os.path.join(out_dir, "snapshots")
        os.makedirs(sdir, exist_ok=True)
        spath = os.path.join(sdir, f"{snap}.json")
        if os.path.exists(spath):
            raise ValueError(
                f"snapshot id {snap!r} already archived in {sdir!r} — "
                "snapshot ids must be unique (use new_snapshot_id)"
            )
        # tmp+replace: a crash mid-write must not leave a truncated
        # snapshot JSON for retention's json.load to trip over forever
        with open(spath + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(spath + ".tmp", spath)
    os.replace(tmp, _manifest_path(out_dir))
    return manifest


def rewrite_manifest_in_place(out_dir: str, manifest: dict) -> None:
    """Atomically overwrite the LIVE manifest without archiving a new
    snapshot — for metadata-only mutations that don't publish new data
    (retention policy set, history pruning by expire_snapshots).
    write_manifest would refuse (its snapshot id is already archived)."""
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, _manifest_path(out_dir))


def docs_dir_path(out_dir: str, manifest: dict | None = None) -> str:
    m = manifest if manifest is not None else (read_manifest(out_dir) or {})
    return os.path.join(out_dir, m.get("docs_dir") or "docs")


def delta_deletes_path(out_dir: str) -> str:
    return os.path.join(out_dir, "delta_deletes")


def read_delta_doc_stats(spark: SparkSession, out_dir: str,
                         manifest: dict | None = None,
                         epochs: list[int] | None = None) -> DataFrame | None:
    """Delta doc dictionary (doc_id, url, doc_len, bucket, epoch): the
    GC-consolidated dir the manifest points at (epoch -1), if any, plus
    the `delta_doc_stats/epoch=N` dirs for N in `epochs` (None = the
    live epochs). None when there are none."""
    m = manifest if manifest is not None else (read_manifest(out_dir) or {})
    parts = []
    if m.get("delta_doc_stats_dir"):
        d = os.path.join(out_dir, m["delta_doc_stats_dir"])
        if os.path.exists(d):
            parts.append(spark.read.option("basePath", d).parquet(d))
    root = os.path.join(out_dir, "delta_doc_stats")
    live = read_epochs(spark, root, live_epochs(root, m)
                       if epochs is None else epochs)
    if live is not None:
        parts.append(live)
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


def read_doc_dict(spark: SparkSession, out_dir: str, manifest: dict,
                  epochs: list[int] | None = None) -> DataFrame:
    """The doc dictionary (doc_id, url, doc_len, bucket): the
    manifest's bulk docs dir plus the delta doc dictionary of `epochs`
    (read_delta_doc_stats; None = the live epochs). Tombstones are not
    applied."""
    docs = doc_stats_from_docs(
        spark.read.parquet(docs_dir_path(out_dir, manifest)))
    extra = read_delta_doc_stats(spark, out_dir, manifest, epochs)
    if extra is None:
        return docs
    return docs.unionByName(extra.select(*docs.columns))


def postings_dirs(out_dir: str, manifest: dict) -> list[str]:
    """The manifest's postings dirs: the base dir, then each tier's."""
    return [os.path.join(out_dir, manifest.get("postings_dir", "postings"))] + [
        os.path.join(out_dir, t["postings_dir"])
        for t in manifest.get("tiers", [])
    ]


def read_postings(spark: SparkSession, out_dir: str,
                  manifest: dict) -> DataFrame:
    """The index's postings: the union of its postings dirs, projected
    to `schemas.POSTINGS` — a dir written by an older build may carry
    columns this one no longer writes (a stored `df`)."""
    cols = POSTINGS.fieldNames()
    return functools.reduce(DataFrame.unionByName, (
        spark.read.parquet(p).select(*cols)
        for p in postings_dirs(out_dir, manifest)))


def covered_epochs(manifest: dict) -> set[int]:
    """Delta epochs the manifest's postings cover (base + tiers)."""
    out = set(manifest.get("base_epochs", []))
    for t in manifest.get("tiers", []):
        out.update(t.get("epochs", []))
    return out


def epochs_on_disk(root: str) -> list[int]:
    """Sorted N of the committed `epoch=N` subdirs of `root` ([] if
    absent) — the layout of the three delta dirs (DELTA_DIRS), whose
    parent is the index dir holding the commit markers."""
    if not os.path.exists(root):
        return []
    commits = os.path.join(os.path.dirname(root), DELTA_COMMITS)
    return sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(root)
        if e.startswith("epoch=") and os.path.isdir(os.path.join(root, e))
        and os.path.exists(os.path.join(commits, e))
    )


def live_epochs(root: str, manifest: dict) -> list[int]:
    """The epochs of `root` a live read sees: those on disk minus the
    ones a GC already consumed (manifest `gc_epochs`). A GC commits by
    recording its epochs, so the dirs it consumed may outlive the
    commit — kept for retained snapshots, or left by a crash before
    cleanup — and every live reader skips them through this helper."""
    done = set(manifest.get("gc_epochs", []))
    return [e for e in epochs_on_disk(root) if e not in done]


def read_epochs(spark: SparkSession, root: str,
                epochs: list[int]) -> DataFrame | None:
    """The `epoch=N` subdirs of `root` for N in `epochs` that exist on
    disk, with `epoch` as a column; None when there are none."""
    paths = [os.path.join(root, f"epoch={e}") for e in sorted(set(epochs))]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.option("basePath", root).parquet(*paths)


def read_tombstones(spark: SparkSession, out_dir: str,
                    epochs: list[int] | None = None,
                    manifest: dict | None = None) -> DataFrame | None:
    """Tombstoned doc ids from upsert/delete delta batches
    (delta_deletes/epoch=N, one `doc_id long` column). `epochs`
    restricts to a pinned set (a snapshot's, or a compaction's
    listing); None = the live epochs of `manifest` (default: the live
    manifest)."""
    p = delta_deletes_path(out_dir)
    if epochs is None:
        m = manifest if manifest is not None else (read_manifest(out_dir) or {})
        epochs = live_epochs(p, m)
    df = read_epochs(spark, p, epochs)
    return None if df is None else df.select("doc_id")


def tombstone_set(spark: SparkSession, out_dir: str,
                  epochs: list[int] | None = None,
                  manifest: dict | None = None):
    """The delete log as `(ids, df)` — the one place the
    TOMBSTONE_DRIVER_CAP decision is made (load_index, compaction and
    GC all call it). `df` is read_tombstones' frame (None without a
    delete log). `ids` is the sorted distinct int64 array when the set
    fits the cap, else None: past the cap the set stays a DataFrame —
    queries co-group it with postings by shard (query/wand.py), GC with
    chunks by part (streaming/incremental.py).

    ONE bounded job: pull at most cap+1 DISTINCT ids; under the cap
    that IS the tombstone array (no separate count job). distinct()
    matters (ADVICE r4): the delete log holds duplicates (each upsert
    epoch re-tombstones a still-present bulk doc), so probing raw rows
    would push indexes with a small distinct set but a long epoch
    history onto the expensive full-shuffle cogroup path."""
    tomb = read_tombstones(spark, out_dir, epochs, manifest)
    if tomb is None:
        return np.zeros(0, np.int64), None
    head = tomb.distinct().limit(TOMBSTONE_DRIVER_CAP + 1).toPandas()[
        "doc_id"].to_numpy(np.int64)
    if len(head) > TOMBSTONE_DRIVER_CAP:
        return None, tomb
    return np.unique(head), tomb


def chunks_path(out_dir: str) -> str:
    m = read_manifest(out_dir)
    return os.path.join(out_dir, (m or {}).get("chunks_dir", "chunks"))


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = 32,
    n_shards: int = 8,
    codec: str = CODEC_VARINT,
    use_html: bool = False,
    resume: bool = False,
) -> dict:
    """Full build: docs (ids+term_ids) → chunks (resumable) → corpus
    stats → merged postings. Returns the manifest dict.

    Resumability (north rule): the chunk stage appends per-bucket; the
    done-set is *derived from committed chunk data* (metrics rows,
    done_buckets), so rerunning with resume=True after a crash
    recomputes it from the data. A build reads and writes its own
    `docs` and `chunks` dirs, resumed or not — never the ones a
    manifest points at (a GC's `docs-g*`/`chunks-g*` belong to the
    index it published, which this build replaces).
    """
    t_start = time.monotonic()
    stage_secs: dict[str, float] = {}
    done: set[int] = done_buckets(spark, out_dir) if resume else set()
    sc = spark.sparkContext
    # 1× slots (r6, was 3× then 2×): the chunks stage pays a fixed
    # Arrow boundary cost per read split and the merge scans one chunk
    # file per chunk task, so fewer/larger docs files win as long as
    # splits still cover the cluster — A/Bs at 32 cores: 3×→2× full
    # build 8.4 → 6.6 s, then 2×→1× 7.5-7.7 → 6.3-6.7 s clean-window
    # (the win shows in the merge stage, 3.4-3.6 → 2.7-3.0 s). Floor 48
    # keeps the resume/SPIMI granularity of small runs and leaves the
    # 1c/4c scaling levels byte-identical (floor dominates there).
    n_docs_parts = max(sc.defaultParallelism, 48)

    # job 1: the docs table (skip if resuming and committed — ids are
    # (bucket, url)-deterministic; _SUCCESS guards a crashed write).
    docs_dir = os.path.join(out_dir, "docs")
    _t = time.monotonic()
    sc.setJobDescription("build:docs")
    if not (resume and os.path.exists(os.path.join(docs_dir, "_SUCCESS"))):
        # Probe prunability without directory partitioning: each file's
        # rows are (bucket, url)-sorted (the rank window), so parquet
        # row-group min/max stats on `bucket` serve any url-keyed probe
        # (upsert/delete reconciliation — incremental._existing_doc_dict
        # pushes In(bucket, …) into this scan) at O(batch) data IO.
        # A partitionBy("bucket") layout was tried in r4 and REVERTED:
        # with n_buckets = 16×cores it shattered the table into one
        # tiny file per bucket, exploding every downstream stage's task
        # count (chunks/stats 49 → 513 tasks) and cutting measured
        # build throughput ~6× — per-file scheduling overhead dwarfed
        # the probe win. Row-group pruning gives the same IO bound with
        # zero write-path cost.
        docs_with_term_ids(
            pages, n_buckets, use_html, num_partitions=n_docs_parts
        ).write.mode("overwrite").parquet(docs_dir)
    stage_secs["docs"] = round(time.monotonic() - _t, 2)
    docs = spark.read.parquet(docs_dir)

    # job 2: SPIMI chunks (append missing buckets only). partitionBy
    # the is_m flag: metrics rows land in a tiny sidecar directory that
    # stats/resume scans read via partition pruning.
    ch_dir = os.path.join(out_dir, "chunks")
    _t = time.monotonic()
    sc.setJobDescription("build:chunks")
    # chunk at the merge's shard-group granularity (see chunks_from_docs)
    group = shard_group(n_buckets, n_shards)
    chunks_out = chunks_from_docs(docs, skip_buckets=done or None,
                                  bucket_group=group)
    if resume and os.path.exists(ch_dir):
        # layout guard: a chunks dir from the pre-sidecar layout (flat,
        # no is_m= partition dirs) cannot take a partitionBy append —
        # Spark's partition discovery rejects the mixed layout on the
        # next read. Refuse with a clear error instead of corrupting.
        has_partition_dirs = any(
            e.startswith("is_m=") for e in os.listdir(ch_dir)
            if os.path.isdir(os.path.join(ch_dir, e))
        )
        if not has_partition_dirs:
            from ela_lib_spark.errors import IndexCorruptError

            raise IndexCorruptError(
                f"chunks dir {ch_dir!r} uses the legacy flat layout "
                "(layout_version < 2, no is_m= partitions); resume onto "
                "it would produce a mixed layout Spark cannot read. "
                "Rebuild without resume=True, or migrate the directory."
            )
        mode = "append"
    else:
        mode = "overwrite"
    chunks_out.write.mode(mode).partitionBy("is_m").parquet(ch_dir)
    stage_secs["chunks"] = round(time.monotonic() - _t, 2)
    chunks = spark.read.parquet(ch_dir)

    # corpus stats for the manifest, from committed metrics rows: ONE
    # partition-pruned scan (stage and job keep the name "ledger", which
    # the bench's `index.build.ledger_s` keys read)
    _t = time.monotonic()
    sc.setJobDescription("build:ledger")
    n_docs, avg_dl = corpus_stats(
        chunks.filter((F.col("is_m") == 1)
                      & (F.col("term_id") == METRICS_TERM_ID))
    )
    stage_secs["ledger"] = round(time.monotonic() - _t, 2)

    # job 3: salted merge → final postings. Written directly: each merge
    # output partition is already sorted by term_id, so parquet
    # row-group min/max stats prune the query path's term_id filter
    # without an extra repartition shuffle.
    _t = time.monotonic()
    sc.setJobDescription("build:merge")
    merged = merge_chunks(chunks, avg_dl, n_shards, n_buckets, codec)
    merged.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    stage_secs["merge"] = round(time.monotonic() - _t, 2)
    sc.setJobDescription(None)

    manifest = {
        "layout_version": 2,
        "codec": codec,
        "n_buckets": n_buckets,
        "n_shards": n_shards,
        # chunk-row part_id granularity: bulk chunk rows carry the
        # bucket-GROUP base bucket (delta epochs use group=1 → exact
        # bucket) — the distributed tombstone→chunk mapping needs this
        "chunk_bucket_group": group,
        "n_docs": int(n_docs),
        "avg_dl": float(avg_dl),
        "avg_dl_at_merge": float(avg_dl),
        "block_size": BLOCK_SIZE,
        "bm25": {"k1": BM25_K1, "b": BM25_B},
        "build_secs": time.monotonic() - t_start,
        "stage_secs": stage_secs,
        "extractor_version": 1,
        "postings_dir": "postings",
        "chunks_dir": "chunks",
        "docs_dir": "docs",
        "snapshot_id": new_snapshot_id("build"),
        "delete_epochs": epochs_on_disk(delta_deletes_path(out_dir)),
    }
    write_manifest(out_dir, manifest)
    return manifest


def load_index(spark: SparkSession, out_dir: str,
               snapshot_id: str | None = None) -> dict:
    """Open a published index. `snapshot_id` time-travels to an
    archived snapshot manifest (snapshots/<id>.json) — readable as
    long as compaction hasn't pruned the data dirs it references.

    The loaded manifest is the one record of the corpus stats (n_docs,
    avg_dl). The `doc_stats` surface is the live doc dictionary (doc
    rows are append-only between full rebuilds, so snapshot doc ids all
    resolve; rows added after the snapshot may also be present).

    With tiered delta compaction (streaming/incremental.py) the
    manifest may carry `tiers`: extra postings directories merged from
    delta segments. `postings` is their union (read_postings); no df is
    stored in it — a term's df is the sum of its blocks' `n_docs`,
    read per query (query/wand.term_lookup)."""
    from ela_lib_spark.errors import IndexCorruptError, IndexNotFoundError

    if snapshot_id is not None:
        p = os.path.join(out_dir, "snapshots", f"{snapshot_id}.json")
        if not os.path.exists(p):
            raise IndexNotFoundError(
                f"snapshot {snapshot_id!r} not in {out_dir!r}/snapshots"
            )
        with open(p) as f:
            manifest = json.load(f)
    else:
        manifest = read_manifest(out_dir)
    if manifest is None:
        raise IndexNotFoundError(
            f"no manifest.json under {out_dir!r} — not a published index"
        )
    try:
        # Time-traveled loads pin the delta doc-dictionary to the
        # epochs the snapshot's POSTINGS cover (base_epochs + tier
        # epochs; the GC-consolidated dir a post-GC manifest points at
        # is always read): epochs ingested after the snapshot are
        # invisible to its postings, so they must be invisible to its
        # doc surface too. Live loads see the live epochs.
        doc_stats = read_doc_dict(
            spark, out_dir, manifest,
            sorted(covered_epochs(manifest)) if snapshot_id is not None
            else None)
        # tombstones (upsert/delete delta batches): live loads see the
        # live delete epochs; time-traveled loads see the epoch set
        # pinned in the snapshot manifest (absent field = none existed)
        del_epochs = (manifest.get("delete_epochs", [])
                      if snapshot_id is not None else None)
        missing = sorted(e for e in set(del_epochs or ()) if not os.path.isdir(
            os.path.join(delta_deletes_path(out_dir), f"epoch={e}")))
        if missing:
            # the snapshot PINS delete epochs whose delete log is gone —
            # treating that as "no tombstones" would silently resurrect
            # deleted docs. Fail loudly instead.
            raise IndexCorruptError(
                f"snapshot {snapshot_id!r} pins delete epochs "
                f"{del_epochs} but the delete log is missing epochs "
                f"{missing} — the snapshot's data has been expired"
            )
        deleted_ids, tomb = tombstone_set(spark, out_dir, del_epochs,
                                          manifest)
        if tomb is not None:
            doc_stats = doc_stats.join(tomb, "doc_id", "left_anti")
        deleted_df = tomb if deleted_ids is None else None
        postings = read_postings(spark, out_dir, manifest)
        out = {
            "manifest": manifest,
            "postings": postings,
            "doc_stats": doc_stats,
            "deleted_ids": deleted_ids,
            "deleted_df": deleted_df,
            # provenance for serving-cache revalidation (query/wand.py):
            # a pinned serving session compares the live manifest's
            # snapshot_id against its pin before each query
            "dir": out_dir,
            "time_travel": snapshot_id is not None,
        }
    except Exception as e:  # manifest points at missing/unreadable data
        raise IndexCorruptError(
            f"manifest at {out_dir!r} references unreadable datasets: {e}"
        ) from e
    return out
