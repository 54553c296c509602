"""Block-max WAND top-k BM25 executor (SURVEY.md §2.9, §7 step 4).

The index is term-partitioned for build, but each shard covers a
disjoint **doc-id range** (shard = bucket-range group — index/build.py),
so grouping a query's postings by shard gives every task a complete,
self-contained doc-at-a-time scoring problem: all query terms' postings
for that doc range. Shard-local exact top-k → global
`ORDER BY score DESC, doc_id LIMIT k` — correct because the global
top-k is a subset of the union of shard top-ks; AND semantics are exact
per shard because a doc's postings for *every* term live in its shard.

Block-max pruning: per-term per-block upper bound
ub = idf*(k1+1)*block_max_impact (the "zone map" Catalyst can't give
us — it prunes files/partitions, not posting blocks). The doc space is
cut into elementary segments at every block boundary; a segment's ub
is Σ of its active blocks' ubs. Segments are scored in descending-ub
order, in batches (k segments, then doubling), each batch's blocks
decoded once and its docs scored together. Once the top-k is full the
walk stops at the first segment with ub < θ, the running k-th score —
strictly, so a score tie that wins on doc_id is never pruned.

Rank-identity: contributions come from query/scoring.bm25_contrib —
the same float64 expression the brute-force oracle uses — accumulated
in lexicographic term order.

df has one rule: a term's df is the sum of `n_docs` over its blocks in
the index's postings dirs (base and tiers). Every query reads it from
one per-query term lookup (`term_lookup`) of per-(shard, term) block
envelope rows (shard, term_id, _mn, _mx, _n); the same rows give AND
its literal per-shard doc window (`and_window`). Serving mode
(`prepare_serving(load_index(...))`) pins postings and the envelope
table, so the lookup costs no Spark job and every query runs as ONE.
Block-max bounds are scaled from the manifest to stay sound when
corpus stats drift between tier merges — see wand_topk.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ela_lib_spark import BM25_K1
from ela_lib_spark.functions.hashing import sql_in
from ela_lib_spark.functions.xxh import spark_xxhash64
from ela_lib_spark.index.codecs import decode_block, isin_sorted
from ela_lib_spark.query.scoring import bm25_contrib, idf

RESULT_SCHEMA = "doc_id long, score double"


def _compact(ids: np.ndarray, scores: np.ndarray, k: int):
    """Keep exact top-k by (score desc, doc_id asc)."""
    if len(ids) <= k:
        return ids, scores
    order = np.lexsort((ids, -scores))[:k]
    order.sort()  # keep doc-id order internally (irrelevant but stable)
    return ids[order], scores[order]


def _shard_topk_fn(terms: list[str], mode: str, k: int, n_docs: int,
                   avg_dl: float, codec: str, df: dict[int, int],
                   ub_scale: float = 1.0, deleted: np.ndarray | None = None,
                   min_match: int | None = None):
    # `df` maps each query term_id present in the index to its df
    # (term_lookup).
    #
    # Postings are keyed by term_id = xxhash64(term); iteration stays in
    # lexicographic *string* order — rank-identity with the brute oracle
    # depends on the float accumulation order.
    #
    # ub_scale ≥ 1 keeps block-max pruning SOUND on tiered indexes:
    # stored block_max_impact was computed with each tier's merge-time
    # avg_dl; if the live avg_dl has since grown, per-posting impact
    # grows by at most avg_now/avg_merge (monotone bound — see
    # streaming/incremental.compact_index docstring), so scaling the
    # upper bound by that ratio can never prune a qualifying segment.
    terms_sorted = [spark_xxhash64(t) for t in sorted(set(terms))]
    nt = len(terms_sorted)
    # m-of-n semantics (the original WAND formulation): a doc must
    # match >= need distinct query terms. OR = 1, AND = nt; min_match
    # generalizes both. A doc's postings are shard-local, so the count
    # is exact per shard.
    need = nt if mode.upper() == "AND" else max(1, int(min_match or 1))

    rank_of = {t: j for j, t in enumerate(terms_sorted)}
    idfs = np.array([float(idf(df.get(t, 0), n_docs)) for t in terms_sorted])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
        if len(pdf) == 0:  # cogrouped tombstone path: tombstone-only shard
            return empty
        rank = pdf["term_id"].map(rank_of).to_numpy(np.int64)
        present = np.unique(rank)  # lexicographic term order
        if len(present) < need:
            return empty
        order = np.lexsort((pdf["first_doc_id"].to_numpy(np.int64), rank))
        rank = rank[order]
        first, last, bmi, n, deltas, tfs, dls = (pdf[c].to_numpy()[order] for c in (
            "first_doc_id", "last_doc_id", "block_max_impact", "n_docs",
            "doc_ids_delta", "tfs", "dls"))
        # bmi is rounded apart from bm25_contrib, so a block's ub can sit
        # an ulp under its best doc's score; the 1e-12 margin keeps the
        # skip from pruning that doc when it ties θ and wins on doc_id
        ub = idfs[rank] * (BM25_K1 + 1.0) * ub_scale * bmi * (1 + 1e-12)

        # elementary segments between block boundaries; blk[seg, term]
        # is the term's block covering the segment (-1: none)
        cuts = np.unique(np.concatenate([first, last + 1]))
        seg_lo = cuts[:-1]
        blk = np.full((len(seg_lo), nt), -1)
        ub_seg = np.zeros(len(seg_lo))
        for j in present:
            lo, hi = np.searchsorted(rank, [j, j + 1])
            i = lo + np.searchsorted(first[lo:hi], seg_lo, side="right") - 1
            on = (i >= lo) & (last[np.maximum(i, lo)] >= seg_lo)
            blk[on, j] = i[on]
            ub_seg[on] += ub[i[on]]
        # NOTE on m-of-n bounds (r4, VERDICT r3 #7 considered and
        # rejected): summing only the top-`need` active ubs is NOT a
        # sound θ bound — a doc needs ≥ need matches but may match ALL
        # n active terms, and its score sums every match, so the
        # achievable maximum is Σ(all active ubs). The full sum stays.
        cand = np.flatnonzero((blk >= 0).sum(axis=1) >= need)
        cand = cand[np.argsort(-ub_seg[cand], kind="stable")]
        neg_ub = -ub_seg[cand]  # ascending

        @functools.cache  # each block decoded once, kept for later batches
        def block(b):
            return decode_block(deltas[b], tfs[b], dls[b], int(n[b]), int(first[b]), codec)

        top_ids = np.empty(0, np.int64)
        top_scores = np.empty(0, np.float64)
        pos, size, end = 0, k, len(cand)
        while pos < end:
            batch = cand[pos:min(pos + size, end)]
            pos, size = pos + size, 2 * size
            in_batch = np.zeros(len(seg_lo), bool)
            in_batch[batch] = True
            arrs = []
            for j in present:
                bs = np.unique(blk[batch, j])
                bs = bs[bs >= 0]
                if not len(bs):
                    continue
                ids_t, tf_t, dl_t = (np.concatenate(x) for x in zip(*map(block, bs)))
                # a doc of a segment outside the batch would score partially
                m = in_batch[np.searchsorted(cuts, ids_t, side="right") - 1]
                arrs.append((ids_t[m], tf_t[m], dl_t[m], idfs[j]))
            union = np.unique(np.concatenate([a[0] for a in arrs]))
            score = np.zeros(len(union), np.float64)
            cnt = np.zeros(len(union), np.int64)
            for ids_t, tf_t, dl_t, idf_t in arrs:  # lexicographic term order
                at = np.searchsorted(union, ids_t)
                score[at] += bm25_contrib(tf_t, dl_t, idf_t, avg_dl)
                cnt[at] += 1
            keep = cnt >= need
            if deleted is not None and len(deleted):
                # tombstone filter INSIDE the shard top-k: a deleted
                # doc must never displace a live one from the heap
                keep &= ~isin_sorted(union, deleted)
            top_ids, top_scores = _compact(np.concatenate([top_ids, union[keep]]),
                                           np.concatenate([top_scores, score[keep]]), k)
            if len(top_ids) >= k:
                # block-max skip, strict: a segment is visited while its
                # ub >= θ, the k-th score, so a tie can still win on doc_id
                end = min(end, int(np.searchsorted(neg_ub, -top_scores.min(),
                                                   side="right")))
        return pd.DataFrame({"doc_id": top_ids, "score": top_scores})

    return fn


def _shard_topk_cogroup_fn(terms: list[str], mode: str, k: int, n_docs: int,
                           avg_dl: float, codec: str, df: dict[int, int],
                           ub_scale: float = 1.0, min_match: int | None = None):
    """Distributed-tombstone variant of the shard kernel: the tombstone
    set arrives CO-GROUPED by shard (right side of a cogroup) instead
    of as a closure-captured array, so no process ever holds more than
    one shard's tombstones (~n_tomb/n_shards ids). This is the
    >TOMBSTONE_DRIVER_CAP path — the driver never materializes the set
    (VERDICT r3 #1)."""

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        deleted = (np.unique(right["doc_id"].to_numpy(np.int64))
                   if len(right) else None)
        inner = _shard_topk_fn(terms, mode, k, n_docs, avg_dl, codec, df,
                               ub_scale, deleted, min_match)
        return inner(left)

    return fn


def tombstones_with_shard(tomb: DataFrame, manifest: dict) -> DataFrame:
    """Map each tombstoned doc_id to the postings shard that holds its
    doc's postings, reproducing merge_chunks' assignment EXACTLY:
    doc_id >> DOC_BITS recovers the bucket (id-scheme invariant), the
    chunk row carrying it has part_id = its bucket-GROUP's base bucket
    (bulk chunks; delta epochs chunk at group=1 so part = the offset
    bucket), and the merge assigns shard = part_id // shard_group.
    Going through the part granularity keeps the mapping exact even
    after a re-sharding major compaction where shard_group is not a
    multiple of the build-time chunk group."""
    from ela_lib_spark.index.build import shard_group, tombstone_part_expr

    g = shard_group(int(manifest["n_buckets"]), int(manifest["n_shards"]))
    part = tombstone_part_expr(manifest)
    return tomb.select("doc_id", (part / g).cast("int").alias("shard"))


def precompute_envelopes(postings: DataFrame) -> DataFrame:
    """The per-(shard, term) block envelope rows (shard, term_id, _mn,
    _mx, _n): the term's doc-id range in the shard and its summed block
    `n_docs` there. Σ _n over a term's shards is its df. Over all
    postings it is the table `prepare_serving` pins; over a query's
    term-filtered postings it is an unpinned query's lookup (a few rows
    per term)."""
    return postings.groupBy("shard", "term_id").agg(
        F.min("first_doc_id").alias("_mn"),
        F.max("last_doc_id").alias("_mx"),
        F.sum("n_docs").alias("_n"),
    )


DRIVER_ENV_MAX_ROWS = 2_000_000  # ~100 MB of tuples; above, stay distributed


def prepare_serving(index: dict) -> dict:
    """Pin the serving artifacts in memory: cached postings, the
    envelope table and, past TOMBSTONE_DRIVER_CAP, the shard-keyed
    tombstones. Mutates and returns `index`. The 100-TB analog is a
    warm executor cache / Iceberg metadata table, refreshed per
    snapshot flip.

    When the envelope table is small enough (vocab × shards ≤
    DRIVER_ENV_MAX_ROWS) it is ALSO pinned driver-side as a dict, so
    the per-query term lookup (df and the AND window) costs a dict
    access and every query runs exactly ONE Spark job. Above the cap,
    the cached table is filtered + collected per query (a few-row job
    over an in-memory relation)."""
    # Pin the cache HASH-PARTITIONED BY SHARD with rows term-sorted
    # inside each partition (r6): the shard kernel's groupBy(shard)
    # requires ClusteredDistribution(shard), which the cached
    # partitioning already satisfies — so every query's plan drops its
    # Exchange and runs as a single scan→sort→kernel stage. The
    # in-partition term_id sort keeps the cache's per-batch min/max
    # stats tight, so the query-term filter still prunes cached
    # batches instead of decoding the whole shard. The one-time
    # reshuffle happens here, at pin time — serving-latency cost moves
    # to the (amortized) snapshot flip, exactly like the envelope
    # precompute below. 4× n_shards partitions keeps hash collisions
    # between shard ids rare, so one task per shard w.h.p.
    m = index["manifest"]
    n_shards = int(m.get("n_shards") or 8)
    index["postings"] = (
        index["postings"].repartition(4 * n_shards, "shard")
        .sortWithinPartitions("term_id").cache()
    )
    index["postings"].count()
    env = precompute_envelopes(index["postings"]).cache()
    n = env.count()
    index["envelopes"] = env
    if n <= DRIVER_ENV_MAX_ROWS:
        by_term: dict[int, list] = {}
        for r in env.collect():
            by_term.setdefault(r.term_id, []).append(
                (r.shard, r._mn, r._mx, r._n)
            )
        index["envelopes_driver"] = by_term
    if index.get("deleted_df") is not None:
        # tombstones past TOMBSTONE_DRIVER_CAP, keyed by shard ONCE per
        # pin (ADVICE r4: recomputing tombstone_part_expr + reshuffling
        # ~n_tomb rows per query is a per-query latency cliff at the
        # 10^8 GC cap); _revalidate_serving releases it on a flip
        from pyspark import StorageLevel

        tshard = tombstones_with_shard(index["deleted_df"], m).persist(
            StorageLevel.MEMORY_AND_DISK)
        tshard.count()
        index["tombstones_sharded"] = tshard
    # pin the snapshot the cache was built from — wand_topk revalidates
    # against the live manifest and re-pins on a flip (VERDICT r3 #4)
    index["serving_snapshot_id"] = m.get("snapshot_id")
    return index


def _revalidate_serving(index: dict) -> None:
    """Serving-cache snapshot pinning: `prepare_serving` caches
    postings + envelopes for ONE manifest snapshot; a compaction/GC
    under a live serving session flips the manifest (and may delete the
    superseded postings dirs post-commit), which would leave the pinned
    cache silently stale — wrong df/tombstones at best, reads of
    deleted files at worst. Before each query, compare the pinned
    snapshot_id with the live manifest (a tiny local JSON read; the
    cluster analog is a catalog / metadata-service lookup) and
    transparently reload + re-pin on mismatch. Time-traveled loads are
    intentionally frozen at their snapshot and skip revalidation."""
    pinned = index.get("serving_snapshot_id")
    if pinned is None or index.get("time_travel") or not index.get("dir"):
        return
    from ela_lib_spark.index.build import load_index, read_manifest

    live = read_manifest(index["dir"]) or {}
    if live.get("snapshot_id") == pinned:
        return
    spark = index["postings"].sparkSession
    for k in ("postings", "envelopes", "tombstones_sharded"):
        df = index.get(k)
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass  # cache may already be invalid post-GC
    index.pop("envelopes_driver", None)
    index.pop("tombstones_sharded", None)
    index.update(load_index(spark, index["dir"]))
    prepare_serving(index)


def term_lookup(index: dict, q: DataFrame | None, ids: list[int]) -> list[tuple]:
    """The one per-query term lookup: the query terms' envelope rows
    (shard, term_id, _mn, _mx, _n) — from the driver-pinned dict when
    present (zero jobs), else a few-row collect over the cached
    envelope table, else a few-row collect of `precompute_envelopes`
    over the term-filtered postings `q` (read only when the index is
    not pinned)."""
    drv = index.get("envelopes_driver")
    if drv is not None:
        return [(s, t, mn, mx, n) for t in ids for (s, mn, mx, n) in drv.get(t, [])]
    env = index.get("envelopes")
    src = (precompute_envelopes(q) if env is None
           else env.where(sql_in("term_id", ids)))
    return src.collect()


def and_window(rows: list[tuple], n_terms: int) -> str | None:
    """AND's literal per-shard doc-range predicate, as SQL text, from
    the lookup rows: a qualifying doc lies inside every term's [_mn, _mx]
    envelope in its shard, so shards missing a term are dropped whole
    and blocks outside the intersection are dropped. Sound for ranking:
    every block holding an AND-result doc overlaps the window. For
    head∧rare queries this prunes the head term's blocks down to the
    rare term's doc neighborhood before the kernel reads them. None if
    no shard qualifies."""
    by_shard: dict[int, list] = {}
    for s, _, mn, mx, _ in rows:
        by_shard.setdefault(s, []).append((mn, mx))
    conds = []
    for shard, rs in by_shard.items():
        lo = max(mn for mn, _ in rs)
        hi = min(mx for _, mx in rs)
        # one row per (shard, term): fewer rows = a term is missing here
        if len(rs) == n_terms and lo <= hi:
            conds.append(f"(shard = {shard} AND last_doc_id >= {lo}"
                         f" AND first_doc_id <= {hi})")
    return " OR ".join(conds) if conds else None


def wand_topk(index: dict, terms: list[str], mode: str = "OR", k: int = 10,
              min_match: int | None = None) -> DataFrame:
    """Distributed top-k. `index` is index.build.load_index output,
    optionally pinned by `prepare_serving`. `min_match=m` requires ≥ m
    distinct query terms per result doc (m-of-n semantics; OR = 1,
    AND = all).

    The term_id filter pushes down to the postings parquet scan (files
    are sorted by term_id → row-group min/max pruning).

    df: each query term's df is the sum of its blocks' `n_docs` over
    every postings dir the index reads, taken from the one term lookup
    (`term_lookup`) and handed to the shard kernel as {term_id: df}.
    AND queries filter the postings by the literal window the same
    rows give (`and_window`) before the kernel reads them.

    Block-max upper bounds are scaled by max(1, avg_dl_now / the least
    merge-time avg_dl over base and tiers) so pruning stays sound when
    corpus stats drift between merges; it is 1.0 on a fresh build."""
    _revalidate_serving(index)
    m = index["manifest"]
    spark = index["postings"].sparkSession
    ids = [spark_xxhash64(t) for t in sorted(set(terms))]
    if min_match is not None and min_match > len(ids):
        return spark.createDataFrame([], RESULT_SCHEMA)
    hit = sql_in("term_id", ids)
    # only an unpinned lookup reads the term-filtered postings
    q = None if index.get("envelopes") is not None else index["postings"].where(hit)
    rows = term_lookup(index, q, ids)
    df: dict[int, int] = {}
    for _, t, _, _, n in rows:
        df[t] = df.get(t, 0) + n
    if mode.upper() == "AND" and len(ids) > 1:
        window = and_window(rows, len(ids))
        if window is None:
            return spark.createDataFrame([], RESULT_SCHEMA)
        q = index["postings"].where(f"{hit} AND ({window})")
    elif q is None:
        q = index["postings"].where(hit)
    merge_avgs = [float(m.get("avg_dl_at_merge", m["avg_dl"]))] + [
        float(t["avg_dl"]) for t in m.get("tiers") or []
    ]
    ub_scale = max(1.0, float(m["avg_dl"]) / min(merge_avgs))
    deleted = index.get("deleted_ids")
    if deleted is not None and len(deleted) == 0:
        deleted = None
    tomb_df = index.get("deleted_df")
    if tomb_df is not None:
        # tombstones past TOMBSTONE_DRIVER_CAP: co-group them with the
        # postings by shard — the set is shuffled (partitioned like the
        # postings), never collected or closure-shipped. prepare_serving
        # pins the shard-keyed frame; an unpinned query keys it in-plan.
        tshard = index.get("tombstones_sharded")
        if tshard is None:
            tshard = tombstones_with_shard(tomb_df, m)
        shard_tops = q.groupBy("shard").cogroup(
            tshard.groupBy("shard")
        ).applyInPandas(
            _shard_topk_cogroup_fn(terms, mode, k, m["n_docs"], m["avg_dl"],
                                   m["codec"], df, ub_scale, min_match),
            schema=RESULT_SCHEMA,
        )
    else:
        shard_tops = q.groupBy("shard").applyInPandas(
            _shard_topk_fn(terms, mode, k, m["n_docs"], m["avg_dl"],
                           m["codec"], df, ub_scale, deleted, min_match),
            schema=RESULT_SCHEMA,
        )
    # SQL text: 7 py4j commands where orderBy + limit send 14, though
    # the temp view it registers for `t` costs ~10 ms more plan time
    # (ROADMAP item 3 weighs the two); query/bm25.py says why `t` must
    # not be a cached frame
    return spark.sql("SELECT doc_id, score FROM {t} ORDER BY score DESC, doc_id "
                     f"LIMIT {int(k)}", t=shard_tops)
