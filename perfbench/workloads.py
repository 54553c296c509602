"""The benchmark's workloads.

Each workload sets up the engine over seeded inputs, then drives it
from one closed-loop client (the next round starts when the previous
one has returned) for the run's seconds, then checks every result. A
round is the workload's timed operation: one query served by every
server in turn, or one dedup pass. End-to-end metrics come from
untraced runs. A traced run traces every second round of its timed
phase, then probes the layers its timed phase does not reach, and
reports per-layer metrics.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import functions as F

from ela_lib_spark.functions.text import extract_text, tokenize_col, tokenize_list
from ela_lib_spark.functions.xxh import spark_xxhash64
from ela_lib_spark.index.build import build_index, ids_with_tokens, load_index, term_id_expr
from ela_lib_spark.index.codecs import decode_block
from ela_lib_spark.index.validate import validate_index
from ela_lib_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ela_lib_spark.plans.dsl import dsl_filter
from ela_lib_spark.query.bm25 import bm25_topk_flat, doc_lens, flat_postings
from ela_lib_spark.query.wand import prepare_serving, wand_topk
from ela_lib_spark.streaming.incremental import apply_delta_batch, compact_index

from perfbench import gen, oracles, stats
from perfbench.status import StatusReader, Work
from perfbench.tracing import Tracer

K = 10
N_BUCKETS, N_SHARDS = 8, 2
SEARCH_DOCS = 1500
SERVERS = ("wand", "flat", "match")
FLAT_PARTITIONS = 8  # as the flat corpus of __spark_entry__.py
DEDUP_DOCS = 500
DUP_FRAC = 0.1
BATCH_DOCS = 200
RECRAWL_FRAC = 0.4
# untimed rounds at the end of set-up: the first rounds in a fresh JVM
# plan and compile code paths the later ones reuse
SEARCH_WARMUP_ROUNDS = 8
DEDUP_WARMUP_PASSES = 1
MIN_ROUNDS = 4
# query-stream offsets of probe and warm-up queries; the timed stream starts at 0
PROBE_QUERY_BASE = 1_000_000
WARMUP_QUERY_BASE = 2_000_000


@dataclass
class Op:
    kind: str
    ms: float
    group: str | None  # job group; set on traced operations only
    query: dict | None
    result: object
    ok: bool


class Run:
    """State of one benchmark run: session, counters, ops and spans."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, trace: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.work, self.seed, self.seconds, self.trace = work_dir, seed, seconds, trace
        self.tracer = Tracer(trace)
        self.status = StatusReader(spark)
        self.attempted = self.failed = 0
        self.ops: list[Op] = []
        self.rounds: list[tuple[float, bool]] = []  # (ms, traced) per timed round
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self._groups = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def group(self, name: str) -> str | None:
        """Give the next operation its own job group (traced runs)."""
        if not self.tracer.enabled:
            return None
        self._groups += 1
        gid = f"pb{self._groups}-{name}"
        self.sc.setJobGroup(gid, name)
        return gid

    def ungroup(self, gid: str | None) -> None:
        if gid is not None:
            self.sc._jsc.clearJobGroup()

    def op(self, kind: str, fn: Callable[[], object], query: dict | None = None) -> Op:
        """Run and time one operation. An exception counts as a failed
        operation and the loop goes on."""
        gid = self.group(kind)
        self.attempted += 1
        t0 = time.perf_counter()
        ok, result = True, None
        try:
            with self.tracer.span(f"op.{kind}", request=gid):
                result = fn()
        except Exception as e:  # the loop must keep running; counted as failed
            ok = False
            self.fail(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        o = Op(kind, (time.perf_counter() - t0) * 1e3, gid, query, result, ok)
        self.ungroup(gid)
        self.ops.append(o)
        return o

    def timed(self, rounds: Iterator[Callable[[], object]]) -> float:
        """Closed loop over `rounds` for the run's seconds, and for at
        least MIN_ROUNDS rounds; records each round's latency. A traced
        run traces every second round, so traced and untraced rounds
        share the same state of the JVM. Returns the elapsed seconds."""
        t_start = time.perf_counter()
        end, done = t_start + self.seconds, 0
        while time.perf_counter() < end or done < MIN_ROUNDS:
            traced = self.trace and done % 2 == 1
            self.tracer.enabled = traced
            t0 = time.perf_counter()
            next(rounds)()
            self.rounds.append(((time.perf_counter() - t0) * 1e3, traced))
            done += 1
        self.tracer.enabled = self.trace
        return time.perf_counter() - t_start

    def ops_of(self, kinds: tuple, traced: bool | None = None) -> list[Op]:
        out = [o for o in self.ops if o.kind in kinds]
        if traced is not None:
            out = [o for o in out if (o.group is not None) == traced]
        return out

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------ search


@dataclass
class Search:
    """A built, served corpus: pages, WAND index and flat BM25 corpus."""

    urls: list
    texts: list
    pages: object
    idx_dir: str
    idx: dict
    flat: dict


def _search_setup(run: Run, n_docs: int) -> tuple[Search, float]:
    """Generate the pages, then build, load and pin the index and prepare
    the flat corpus. Returns the corpus and the set-up seconds (input
    generation excluded)."""
    urls, texts = gen.corpus(run.seed, n_docs)
    pages_path = run.path("pages.parquet")
    input_bytes = gen.write_table(gen.pages_table(urls, texts, 0), pages_path)
    pages = run.spark.read.parquet(pages_path)
    idx_dir = run.path("index")

    t0 = time.perf_counter()
    gid = run.group("build")
    with run.tracer.span("index.build", request=gid):
        manifest = build_index(run.spark, pages, idx_dir, n_buckets=N_BUCKETS,
                               n_shards=N_SHARDS, use_html=True)
    build_s = time.perf_counter() - t0
    run.ungroup(gid)
    t1 = time.perf_counter()
    with run.tracer.span("query.wand.prepare_serving"):
        idx = prepare_serving(load_index(run.spark, idx_dir))
    t2 = time.perf_counter()
    with run.tracer.span("query.bm25.prepare"):
        flat = _prepare_flat(run, pages, manifest)
    setup_s = time.perf_counter() - t0

    run.layer.update({f"index.build.{k}_s": v for k, v in manifest["stage_secs"].items()})
    run.layer["index.build.docs_per_s"] = manifest["n_docs"] / build_s
    run.layer["index.build.bytes_per_input_byte"] = _dir_bytes(idx_dir) / input_bytes
    run.layer["query.wand.prepare_serving_s"] = t2 - t1
    run.layer["query.bm25.prepare_s"] = time.perf_counter() - t2
    t3 = time.perf_counter()
    _check_index(run, idx_dir)
    run.info["validate_s"] = time.perf_counter() - t3
    return Search(urls, texts, pages, idx_dir, idx, flat), setup_s


def _prepare_flat(run: Run, pages, manifest: dict) -> dict:
    """Flat BM25 corpus: (term, doc_id, tf, doc_len, df) with the
    engine's doc ids, cached and clustered by term. Tokens come from the
    text column, which the generator guarantees equals the extracted html."""
    d = ids_with_tokens(pages, N_BUCKETS).select("doc_id", "tokens")
    fp = flat_postings(d)
    dfs = fp.groupBy("term").agg(F.count("*").alias("df"))
    postings = (
        fp.join(doc_lens(d), "doc_id").join(dfs, "term")
        .repartition(FLAT_PARTITIONS, "term")
        .sortWithinPartitions("term").cache()
    )
    postings.count()
    return {"postings": postings, "n_docs": manifest["n_docs"], "avg_dl": manifest["avg_dl"]}


def _wand(run: Run, idx: dict, q: dict):
    with run.tracer.span("query.wand.plan"):
        df = wand_topk(idx, q["terms"], q["mode"], K, min_match=q["min_match"])
    with run.tracer.span("query.wand.exec"):
        return [(r.doc_id, r.score) for r in df.collect()]


def _flat(run: Run, flat: dict, q: dict):
    with run.tracer.span("query.bm25.plan"):
        df = bm25_topk_flat(flat["postings"], None, flat["n_docs"], flat["avg_dl"],
                            q["terms"], q["mode"], K, min_match=q["min_match"])
    with run.tracer.span("query.bm25.exec"):
        return [(r.doc_id, r.score) for r in df.collect()]


def _match(run: Run, pages, q: dict):
    with run.tracer.span("plans.dsl.plan"):
        df = dsl_filter(pages, oracles.match_dsl(q), key_col="url").select("url")
    with run.tracer.span("plans.dsl.exec"):
        return {r.url for r in df.collect()}


def _search_round(run: Run, s: Search, i: int, kind: str = "") -> list[Op]:
    """Serve the i-th query of the stream by each server in turn."""
    q = gen.query(run.seed, i)
    ops = []
    for server in SERVERS:
        qs = {**q, "server": server}
        fn = {"wand": lambda: _wand(run, s.idx, qs),
              "flat": lambda: _flat(run, s.flat, qs),
              "match": lambda: _match(run, s.pages, qs)}[server]
        ops.append(run.op(kind or server, fn, qs))
    return ops


def _search_rounds(run: Run, s: Search) -> Iterator[Callable]:
    """The timed rounds: the query stream from its start."""
    for i in itertools.count():
        yield lambda i=i: _search_round(run, s, i)


def _check_index(run: Run, idx_dir: str) -> None:
    res = validate_index(run.spark, idx_dir)
    bad = [k for k, c in res["checks"].items() if not c["ok"]]
    run.check(res["ok"], f"validate_index: failed checks {bad}")


def _check_search(run: Run, s: Search, ops: list[Op]) -> None:
    """WAND must rank exactly like brute force (doc ids and float64
    scores), flat BM25 at oracles.SCORE_DIGITS, and DSL match must return
    the urls whose tokens satisfy the query. The brute-force scorer runs
    over the index's doc dictionary, which must hold every url with its
    token count as doc_len."""
    corpus = dict(zip(s.urls, s.texts))
    rows = s.idx["doc_stats"].select("url", "doc_id", "doc_len").collect()
    doc_tokens, bad = {}, 0
    for r in rows:
        toks = tokenize_list(corpus.get(r.url, ""))
        bad += r.url not in corpus or len(toks) != r.doc_len
        doc_tokens[r.doc_id] = toks
    run.check(bad == 0 and len(rows) == len(corpus),
              f"doc dictionary: {bad} wrong rows, {len(rows)} rows for {len(corpus)} urls")
    m = s.idx["manifest"]
    truth = oracles.TopK(doc_tokens, m["n_docs"], m["avg_dl"], K)
    token_sets = {u: set(tokenize_list(t)) for u, t in corpus.items()}
    for o in ops:
        if not o.ok:
            continue
        server = o.query["server"]
        if server == "match":
            ok = o.result == oracles.match_expected(token_sets, o.query)
        else:
            ok = oracles.same_ranking(o.result, truth.want(o.query), exact=server == "wand")
        if not ok:
            run.fail(f"{server} {o.query}: result differs from the reference")


# ------------------------------------------------------------- dedup


def _dup_input(run: Run):
    texts, groups = gen.dup_corpus(run.seed, DEDUP_DOCS, DUP_FRAC)
    path = run.path("dups.parquet")
    gen.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}), path)
    return run.spark.read.parquet(path), len(texts), groups


def _dedup_pass(run: Run, df) -> set:
    """Exact then near-duplicate removal; the kept doc ids."""
    with run.tracer.span("operators.dedup.pipeline"):
        kept = dedup_minhash_lsh(dedup_exact(df)).select("doc_id").collect()
    return {r.doc_id for r in kept}


# ------------------------------------------------------ layer probes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_probe(run: Run, name: str, fn: Callable[[], object]) -> None:
    t0 = time.perf_counter()
    with run.tracer.span(name):
        fn()
    run.layer[name + "_s"] = time.perf_counter() - t0


def _probe_text(run: Run, pages) -> None:
    _timed_probe(run, "functions.text.extract",
                 lambda: _noop(pages.select(extract_text(F.col("html")))))
    _timed_probe(run, "functions.text.tokenize",
                 lambda: _noop(pages.select(term_id_expr(tokenize_col(F.col("text"))))))


def _probe_codecs(run: Run, idx: dict, queries: list[dict]) -> None:
    """Decode every block of the query terms, collected to the driver,
    and size the postings table."""
    codec = idx["manifest"]["codec"]
    ids = sorted({spark_xxhash64(t) for q in queries for t in q["terms"]})
    cols = ["doc_ids_delta", "tfs", "dls", "n_docs", "first_doc_id"]
    rows = idx["postings"].filter(F.col("term_id").isin(ids)).select(*cols).collect()
    t0 = time.perf_counter()
    with run.tracer.span("index.codecs.decode"):
        for r in rows:
            decode_block(r.doc_ids_delta, r.tfs, r.dls, r.n_docs, r.first_doc_id, codec)
    secs = max(time.perf_counter() - t0, 1e-9)
    run.layer["index.codecs.decode_mpostings_per_s"] = sum(r.n_docs for r in rows) / secs / 1e6
    size = idx["postings"].select(
        F.sum(F.length("doc_ids_delta") + F.length("tfs") + F.length("dls")).alias("b"),
        F.sum("n_docs").alias("n"),
    ).first()
    run.layer["index.codecs.bytes_per_posting"] = size.b / max(1, size.n)


def _probe_dedup(run: Run, df, n_rows: int, groups: list) -> None:
    """Each dedup stage on its own, and the LSH candidate-pair volume.
    Near-dup removal alone also drops the exact copies, so it must keep
    one row per injected group too."""
    _timed_probe(run, "operators.dedup.exact", lambda: _noop(dedup_exact(df)))
    kept = run.op("dedup_probe", lambda: {
        r.doc_id for r in dedup_minhash_lsh(df).select("doc_id").collect()})
    run.check(kept.ok and oracles.dedup_ok(kept.result, n_rows, groups), "dedup probe")
    run.layer["operators.dedup.minhash_lsh_s"] = kept.ms / 1e3
    pairs = lsh_candidate_pairs(minhash_signatures(df)).count()
    run.layer["operators.dedup.candidate_pairs"] = pairs
    run.layer["operators.dedup.kept_per_candidate"] = (
        (n_rows - len(kept.result or ())) / max(1, pairs))


def _probe_upsert(run: Run, s: Search) -> None:
    """One upsert epoch (re-crawls and new urls) and one compaction on
    the served index; the next query re-pins the serving cache."""
    urls, texts = next(gen.upsert_batches(run.seed, s.urls, 1, BATCH_DOCS, RECRAWL_FRAC))
    path = run.path("batch0.parquet")
    gen.write_table(gen.pages_table(urls, texts, len(s.urls), epoch=1), path)
    up = run.op("upsert", lambda: apply_delta_batch(
        run.spark.read.parquet(path), 0, s.idx_dir, n_buckets=N_BUCKETS, mode="upsert"))
    comp = run.op("compact", lambda: compact_index(run.spark, s.idx_dir, n_shards=N_SHARDS))
    q = gen.query(run.seed, PROBE_QUERY_BASE)
    first = run.op("repin", lambda: _wand(run, s.idx, q), q)
    steady = run.op("repin", lambda: _wand(run, s.idx, q), q)
    run.layer["query.wand.repin_s"] = (first.ms - steady.ms) / 1e3
    written = sum(_dir_bytes(os.path.join(s.idx_dir, d, "epoch=0"))
                  for d in ("delta_chunks", "delta_doc_stats", "delta_deletes"))
    run.layer["streaming.incremental.bytes_written_per_doc"] = written / BATCH_DOCS
    run.layer["streaming.incremental.apply_delta_s"] = up.ms / 1e3
    run.layer["streaming.incremental.compact_s"] = comp.ms / 1e3


def _query_layer(run: Run, prefix: str, kind: str, works: dict[str, Work],
                 spans: dict) -> None:
    """Per-query split of a query layer over its traced operations."""
    pairs = [(o, works[o.group]) for o in run.ops_of((kind,), traced=True)
             if o.ok and o.group in works]
    run.layer[prefix + ".query_ms"] = _median([o.ms for o, _ in pairs])
    run.layer[prefix + ".plan_ms"] = _median([spans.get((o.group, prefix + ".plan"))
                                              for o, _ in pairs])
    run.layer[prefix + ".exec_ms"] = _median([spans.get((o.group, prefix + ".exec"))
                                              for o, _ in pairs])
    run.layer[prefix + ".jobs_per_query"] = _median([w.jobs for _, w in pairs])
    run.layer[prefix + ".tasks_per_query"] = _median([w.tasks for _, w in pairs])
    run.layer[prefix + ".rows_read_per_query"] = _median([w.input_records for _, w in pairs])
    if prefix == "query.wand":
        run.layer[prefix + ".task_cpu_ms_per_query"] = _median([w.cpu_s * 1e3 for _, w in pairs])
        run.layer[prefix + ".shuffle_mb_per_query"] = _median(
            [w.shuffle_read_mb + w.shuffle_write_mb for _, w in pairs])
        run.layer[prefix + ".submit_to_first_task_ms"] = _median(
            [w.submit_to_first_task_ms for _, w in pairs])
        run.layer[prefix + ".driver_ms"] = _median(
            [o.ms - stats.covered(w.intervals) for o, w in pairs])
    if prefix == "plans.dsl":
        run.layer[prefix + ".rows_examined_per_result"] = _median(
            [w.input_records / max(1, len(o.result)) for o, w in pairs])


def _status_layers(run: Run) -> None:
    """Status-store counts per traced job group."""
    run.status.flush()
    works = run.status.work_by_group()

    def named(name):
        return [w for g, w in works.items() if g.endswith("-" + name)]

    for w in named("build")[:1]:
        run.layer.update({
            "index.build.jobs": w.jobs, "index.build.tasks": w.tasks,
            "index.build.task_cpu_s": w.cpu_s, "index.build.gc_s": w.gc_s,
            "index.build.shuffle_write_mb": w.shuffle_write_mb,
            "index.build.spill_mb": w.spill_mb,
        })
    dedup = named("dedup_probe")
    run.layer["operators.dedup.jobs"] = _median([w.jobs for w in dedup])
    run.layer["operators.dedup.shuffle_write_mb"] = _median([w.shuffle_write_mb for w in dedup])
    run.layer["streaming.incremental.jobs_per_epoch"] = _median([w.jobs for w in named("upsert")])
    spans = {(s["request"], s["name"]): (s["end"] - s["start"]) * 1e3
             for s in run.tracer.spans if s["request"] is not None}
    _query_layer(run, "query.wand", "wand", works, spans)
    _query_layer(run, "query.bm25", "flat", works, spans)
    _query_layer(run, "plans.dsl", "match", works, spans)


def _finish_trace(run: Run, rdds0: int) -> None:
    _status_layers(run)
    traced = [ms for ms, t in run.rounds if t]
    plain = [ms for ms, t in run.rounds if not t]
    run.layer["trace.overhead_ms"] = _median(traced) - _median(plain)
    run.layer["spark.persisted_rdds_growth"] = run.status.persisted_rdds() - rdds0


# --------------------------------------------------------- workloads


def _end_to_end(run: Run, setup_s: float) -> dict:
    lat = [ms for ms, _ in run.rounds]
    run.info.update({"rounds": len(lat), "rounds_ms": [round(x) for x in lat]})
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_mean_ms": (statistics.fmean(lat), "ms"),
    }


def search_mix(run: Run) -> dict:
    """Closed loop of seeded queries over one built corpus. Each round
    serves one query three ways in turn: WAND over the compressed index,
    flat BM25 over the prepared columnar corpus, and a DSL match scan
    over the pages."""
    s, setup_s = _search_setup(run, SEARCH_DOCS)
    t0 = time.perf_counter()
    for i in range(SEARCH_WARMUP_ROUNDS):
        _search_round(run, s, WARMUP_QUERY_BASE + i, kind="warmup")
    setup_s += time.perf_counter() - t0
    rdds0 = run.status.persisted_rdds()
    run.info["timed_s"] = run.timed(_search_rounds(run, s))
    run.layer["spark.cache_mb"] = run.status.cache_mb()
    t0 = time.perf_counter()
    _check_search(run, s, run.ops_of(SERVERS + ("warmup",)))
    run.info["check_s"] = time.perf_counter() - t0
    if not run.trace:
        return run.result(_end_to_end(run, setup_s))

    _probe_text(run, s.pages)
    _probe_codecs(run, s.idx, [o.query for o in run.ops_of(("wand",))])
    _probe_dedup(run, *_dup_input(run))
    _probe_upsert(run, s)
    _finish_trace(run, rdds0)
    return run.result({})


def near_dup(run: Run) -> dict:
    """Closed loop of dedup passes (exact, then minhash LSH) over a
    corpus where DUP_FRAC of the documents are injected exact or near
    copies; every pass must keep exactly one document per group. Set-up
    is the first (cold) pass and the warm-up passes."""
    df, n_rows, groups = _dup_input(run)
    t0 = time.perf_counter()
    for _ in range(1 + DEDUP_WARMUP_PASSES):
        run.op("warmup", lambda: _dedup_pass(run, df))
    setup_s = time.perf_counter() - t0
    rdds0 = run.status.persisted_rdds()
    run.info["timed_s"] = run.timed(
        (lambda: run.op("dedup", lambda: _dedup_pass(run, df)) for _ in itertools.count()))
    run.layer["spark.cache_mb"] = run.status.cache_mb()
    for o in run.ops_of(("dedup", "warmup")):
        if o.ok and not oracles.dedup_ok(o.result, n_rows, groups):
            run.fail(f"dedup kept {len(o.result)} of {n_rows} rows, {len(groups)} groups")
    if not run.trace:
        return run.result(_end_to_end(run, setup_s))

    _probe_dedup(run, df, n_rows, groups)
    # the search layers: a few queries per server over a built corpus
    s, _ = _search_setup(run, SEARCH_DOCS)
    probes = [o for j in range(2) for o in _search_round(run, s, PROBE_QUERY_BASE + j)]
    _check_search(run, s, probes)
    _probe_text(run, s.pages)
    _probe_codecs(run, s.idx, [o.query for o in probes])
    _probe_upsert(run, s)
    _finish_trace(run, rdds0)
    return run.result({})


WORKLOADS = {"search_mix": search_mix, "near_dup": near_dup}

_QUERY_SPLIT = {"query_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "jobs_per_query": "count",
                "tasks_per_query": "count", "rows_read_per_query": "count"}
LAYER_UNITS = {
    "functions.text.extract_s": "s",
    "functions.text.tokenize_s": "s",
    **{f"index.build.{k}_s": "s" for k in ("docs", "chunks", "ledger", "merge")},
    "index.build.docs_per_s": "1/s",
    "index.build.bytes_per_input_byte": "ratio",
    "index.build.jobs": "count",
    "index.build.tasks": "count",
    "index.build.task_cpu_s": "s",
    "index.build.gc_s": "s",
    "index.build.shuffle_write_mb": "MB",
    "index.build.spill_mb": "MB",
    "index.codecs.decode_mpostings_per_s": "Mpostings/s",
    "index.codecs.bytes_per_posting": "B",
    **{f"query.wand.{k}": u for k, u in _QUERY_SPLIT.items()},
    "query.wand.driver_ms": "ms",
    "query.wand.submit_to_first_task_ms": "ms",
    "query.wand.task_cpu_ms_per_query": "ms",
    "query.wand.shuffle_mb_per_query": "MB",
    "query.wand.prepare_serving_s": "s",
    "query.wand.repin_s": "s",
    **{f"query.bm25.{k}": u for k, u in _QUERY_SPLIT.items()},
    "query.bm25.prepare_s": "s",
    **{f"plans.dsl.{k}": u for k, u in _QUERY_SPLIT.items()},
    "plans.dsl.rows_examined_per_result": "count",
    "streaming.incremental.apply_delta_s": "s",
    "streaming.incremental.compact_s": "s",
    "streaming.incremental.jobs_per_epoch": "count",
    "streaming.incremental.bytes_written_per_doc": "B",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.kept_per_candidate": "ratio",
    "operators.dedup.shuffle_write_mb": "MB",
    "operators.dedup.jobs": "count",
    "spark.cache_mb": "MB",
    "spark.persisted_rdds_growth": "count",
    "trace.overhead_ms": "ms",
}
