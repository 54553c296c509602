"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship BM25 query on sf0.001.
`queries()` — one entry per implemented operator (SURVEY.md §2);
each callable takes (spark, sf_dir) → DataFrame.
`oracle_sql()` — DuckDB-equivalent ANSI SQL per query (omitted for
non-SQL-expressible ops → driver records a rows-only check).

Column names are aliased identically on both sides; float columns are
rounded to fixed decimals on both sides so value-hashes compare.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import ela_lib_spark  # noqa: F401  (repo root on sys.path)
from ela_lib_spark import BM25_B, BM25_K1
from ela_lib_spark.functions.text import tokenize_col
from ela_lib_spark.session import spread

# Tokenizer contract shared with DuckDB oracles (functions/text.py).
_TOK_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

BM25_TERMS = ["merge", "spark"]
MSM_TERMS = ["merge", "spark", "hash"]  # m-of-n query (min_match=2)
MATCH_AND_TERMS = ["vector", "hash"]
MATCH_OR_TERMS = ["window", "sort"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _t(spark, sf_dir, name) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ensure_pkg(spark: SparkSession) -> None:
    """Executors need the package when the driver didn't use get_spark."""
    try:
        from ela_lib_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass


# --------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: closed-form BM25 top-10 over sf0.001 documents."""
    return q_bm25_flat(spark, "/root/testdata/sf0.001")


# ------------------------------------------------------------- queries


def q_count_docs(spark, sf_dir):
    return _docs(spark, sf_dir).agg(F.count("*").alias("n"))


def q_lang_dist(spark, sf_dir):
    return _docs(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n"))


def q_token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = tokenize_col(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )


def q_term_df(spark, sf_dir):
    """Document frequency per term (corpus-stats aggregation A5)."""
    d = spread(_docs(spark, sf_dir), ["doc_id", "text"])
    ex = d.select(F.explode(F.array_distinct(tokenize_col(F.col("text")))).alias("term"))
    return ex.groupBy("term").agg(F.count("*").cast("long").alias("df"))


_FLAT_CACHE: dict = {}


def _flat_corpus(spark, sf_dir):
    """The flat BM25 corpus (query/bm25.prepare_flat), prepared once
    per (session, sf_dir): the serving path must not rebuild the corpus
    per query."""
    from ela_lib_spark.query.bm25 import prepare_flat

    # applicationId is unique per SparkContext — id(spark) could be
    # reused by a later session at the same address
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FLAT_CACHE:
        _FLAT_CACHE[key] = prepare_flat(_docs(spark, sf_dir).select(
            "doc_id", tokenize_col(F.col("text")).alias("tokens")))
    return _FLAT_CACHE[key]


def _bm25_flat_df(spark, sf_dir, terms, mode="OR", k=10, min_match=None):
    from ela_lib_spark.query.bm25 import bm25_topk_flat

    c = _flat_corpus(spark, sf_dir)
    top = bm25_topk_flat(c["postings"], None, c["n_docs"], c["avg_dl"], terms,
                         mode, k, min_match=min_match)
    return top.select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_flat(spark, sf_dir):
    return _bm25_flat_df(spark, sf_dir, BM25_TERMS, "OR", 10)


def q_bm25_msm(spark, sf_dir):
    """m-of-n ranked retrieval: >= 2 of 3 query terms must match (the
    original WAND formulation generalizing OR/AND)."""
    return _bm25_flat_df(spark, sf_dir, MSM_TERMS, "OR", 10, min_match=2)


_WAND_CACHE: dict = {}


def q_bm25_wand(spark, sf_dir):
    """Full engine path: SPIMI build → compressed blocks → block-max
    WAND — over the documents table (url := doc_id)."""
    from ela_lib_spark.index.build import build_index, load_index
    from ela_lib_spark.query.wand import wand_topk

    _ensure_pkg(spark)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _WAND_CACHE:
        pages = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("url"), "text"
        )
        out = tempfile.mkdtemp(prefix="ela_wand_idx_")
        build_index(spark, pages, out, n_buckets=4, n_shards=2)
        _WAND_CACHE[key] = load_index(spark, out)
    idx = _WAND_CACHE[key]
    top = wand_topk(idx, BM25_TERMS, "OR", 10)
    ds = idx["doc_stats"].select(
        F.col("doc_id").alias("internal_id"), F.col("url").cast("long").alias("orig_id")
    )
    return (
        top.join(ds, top.doc_id == ds.internal_id)
        .select(F.col("orig_id").alias("doc_id"), F.round("score", 4).alias("score"))
    )


def q_match_and(spark, sf_dir):
    # NOT spread (r6 A/B): tokenize+array_contains over the scan beats
    # paying a text shuffle first (0.80 s vs 0.99 s at sf1.0)
    d = _docs(spark, sf_dir)
    toks = tokenize_col(F.col("text"))
    cond = F.array_contains(toks, MATCH_AND_TERMS[0]) & F.array_contains(
        toks, MATCH_AND_TERMS[1]
    )
    return d.filter(cond).select("doc_id")


def q_match_or(spark, sf_dir):
    from ela_lib_spark.plans.dsl import dsl_filter

    d = _docs(spark, sf_dir)
    q = {
        "bool": {
            "should": [
                {"match": {"text": MATCH_OR_TERMS[0]}},
                {"match": {"text": MATCH_OR_TERMS[1]}},
            ]
        }
    }
    return dsl_filter(d, q, key_col="doc_id").select("doc_id")


def q_terms_filter(spark, sf_dir):
    """ES `terms`-on-_id pushdown (reference config.yaml:93)."""
    from ela_lib_spark.plans.dsl import dsl_filter

    d = _docs(spark, sf_dir)
    q = {
        "bool": {
            "must": [
                {"terms": {"lang": ["en", "de"]}},
                {"range": {"n_chars": {"gte": 200, "lt": 2000}}},
            ]
        }
    }
    return dsl_filter(d, q, key_col="doc_id").select("doc_id", "lang", "n_chars")


def q_range_filter_events(spark, sf_dir):
    from ela_lib_spark.plans.dsl import dsl_filter

    e = _t(spark, sf_dir, "events")
    q = {"bool": {"must": [{"range": {"value": {"gte": 10.0, "lt": 50.0}}}]}}
    return (
        dsl_filter(e, q, key_col="event_id")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def _orders_src_tgt(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    src = o.filter(F.col("o_orderkey") % 7 != 0)
    tgt = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return src, tgt


def q_diff_classify(spark, sf_dir):
    """The reference's flagship op: full-outer hash-diff classify
    (migrator.go:777-910) as one join."""
    from ela_lib_spark.operators.diff import classify_diff

    src, tgt = _orders_src_tgt(spark, sf_dir)
    cls = classify_diff(src, tgt, key="o_orderkey")
    return cls.groupBy("diff_class").agg(F.count("*").alias("cnt"))


def q_sync_diff_result(spark, sf_dir):
    """sync_diff: emulated MERGE; verify resulting table ≡ source by
    re-classifying (all 'same')."""
    from ela_lib_spark.operators.diff import classify_diff, sync_diff_apply

    src, tgt = _orders_src_tgt(spark, sf_dir)
    new_tgt = sync_diff_apply(src, tgt, key="o_orderkey")
    return (
        classify_diff(src, new_tgt, key="o_orderkey")
        .groupBy("diff_class")
        .agg(F.count("*").alias("cnt"))
    )


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


def q_nation_revenue(spark, sf_dir):
    """Star join with broadcast dims — revenue per nation."""
    c = _t(spark, sf_dir, "customer")
    # NOT spread (r6 A/B): the broadcast-probe pipeline over the scan
    # beats paying a repartition shuffle first (0.79 s vs 1.74 s sf1.0)
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def q_dedup_exact(spark, sf_dir):
    from ela_lib_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir), key="doc_id", text_col="text").select(
        "doc_id"
    )


def q_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard similarity join over documents."""
    from ela_lib_spark.operators.dedup import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(
        _docs(spark, sf_dir), key="doc_id", text_col="text",
        shingle_n=3, threshold=0.12,
    )
    return p.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def q_cosine_topk(spark, sf_dir):
    from ela_lib_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


def q_quality(spark, sf_dir):
    from ela_lib_spark.functions.analysis import alpha_ratio, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
    )


def q_text_stats(spark, sf_dir):
    """Token-count / quality primitives (whitespace + BPE-ish counts,
    mean token length, punctuation and stopword ratios) — all JVM
    column expressions, fully DuckDB-expressible."""
    from ela_lib_spark.functions.analysis import (
        bpe_ish_token_count,
        mean_token_len,
        punct_ratio,
        stopword_ratio,
        whitespace_token_count,
    )

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        F.round(mean_token_len(F.col("text")), 4).alias("mean_tok_len"),
        F.round(punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


def q_events_hourly(spark, sf_dir):
    # NOT spread (r6 A/B): the map side is date_trunc + partial agg —
    # cheaper than shuffling the (ts, type, value) columns (0.41 s vs
    # 1.71 s at sf1.0)
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per order-priority (window top-k)."""
    from pyspark.sql import Window as W

    o = spread(_t(spark, sf_dir, "orders"),
               ["o_orderkey", "o_orderpriority", "o_totalprice"])
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


# ----------------------------------------- non-SQL-expressible (rows-only)


def q_minhash_dedup(spark, sf_dir):
    from ela_lib_spark.operators.dedup import dedup_minhash_lsh

    _ensure_pkg(spark)
    return dedup_minhash_lsh(
        _docs(spark, sf_dir), key="doc_id", text_col="text", threshold=0.5
    ).select("doc_id")


def q_simhash_pairs(spark, sf_dir):
    from ela_lib_spark.operators.dedup import simhash_near_dup_pairs, simhash_signatures

    _ensure_pkg(spark)
    sigs = simhash_signatures(_docs(spark, sf_dir), key="doc_id")
    return simhash_near_dup_pairs(sigs, key="doc_id", max_hamming=3)


def q_ann_srp(spark, sf_dir):
    from ela_lib_spark.operators.similarity import ann_topk_srp

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    return ann_topk_srp(emb.filter(F.col("vec_id") != 0), qvec, k=10, n_planes=10)


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via SRP bucket pruning (pinned
    numpy oracle in tests/test_pinned_oracles.py)."""
    from ela_lib_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.25, n_planes=4)


def q_knn_join(spark, sf_dir):
    """Batch kNN join: 5 query vectors × corpus, top-5 neighbors each
    (pinned numpy oracle)."""
    from ela_lib_spark.operators.similarity import knn_join_srp

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    c = emb.filter(F.col("vec_id") >= 5)
    return knn_join_srp(q, c, dim=64, k=5, n_planes=8, probe_hamming=1)


def q_ann_ivf(spark, sf_dir):
    """IVF-ANN: deterministic coarse quantizer + probe-list rerank
    (pinned numpy oracle)."""
    from ela_lib_spark.operators.similarity import ann_topk_ivf

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    return ann_topk_ivf(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, n_lists=16, n_probe=4
    )


def q_winnow_overlap(spark, sf_dir):
    """Winnowing passage-overlap pairs (pinned pure-Python oracle)."""
    from ela_lib_spark.operators.dedup import winnow_overlap_pairs

    _ensure_pkg(spark)
    return winnow_overlap_pairs(
        _docs(spark, sf_dir), key="doc_id", text_col="text", min_common=2
    )


def q_lang_detect(spark, sf_dir):
    from ela_lib_spark.functions.analysis import detect_lang

    _ensure_pkg(spark)
    d = _docs(spark, sf_dir)
    return d.select("doc_id", detect_lang(F.col("text")).alias("detected"))


def q_doc_fingerprint(spark, sf_dir):
    """Analyzed-stream fingerprint (md5 variant — DuckDB-checkable; the
    xxhash64 variant is pinned by tests/test_pinned_oracles.py)."""
    from ela_lib_spark.functions.analysis import doc_fingerprint_md5

    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint_md5(F.col("text")).alias("fp")
    )


def q_image_features(spark, sf_dir):
    from ela_lib_spark.functions.multimodal import extract_image_features, synth_media_df

    _ensure_pkg(spark)
    return extract_image_features(synth_media_df(spark, 64)).select(
        "media_id", "width", "height", "sha256"
    )


def q_image_decode(spark, sf_dir):
    """REAL PNG decode (stdlib zlib + full filter reconstruction —
    ela_lib_spark/functions/multimodal.py:decode_png) over
    deterministic fixture PNGs whose scanlines cycle all five PNG
    filter types; the oracle recomputes every statistic from the pixel
    FORMULA without ever touching the codec."""
    from ela_lib_spark.functions.multimodal import (
        decode_image_features,
        synth_png_media_df,
    )

    _ensure_pkg(spark)
    return decode_image_features(synth_png_media_df(spark, 48))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_count_docs": q_count_docs,
        "q_lang_dist": q_lang_dist,
        "q_token_stats": q_token_stats,
        "q_term_df": q_term_df,
        "q_bm25_flat": q_bm25_flat,
        "q_bm25_msm": q_bm25_msm,
        "q_bm25_wand": q_bm25_wand,
        "q_match_and": q_match_and,
        "q_match_or": q_match_or,
        "q_terms_filter": q_terms_filter,
        "q_range_filter_events": q_range_filter_events,
        "q_diff_classify": q_diff_classify,
        "q_sync_diff_result": q_sync_diff_result,
        "q_tpch_q1": q_tpch_q1,
        "q_nation_revenue": q_nation_revenue,
        "q_dedup_exact": q_dedup_exact,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_cosine_topk": q_cosine_topk,
        "q_quality": q_quality,
        "q_events_hourly": q_events_hourly,
        "q_topk_per_group": q_topk_per_group,
        "q_lang_detect": q_lang_detect,
        "q_doc_fingerprint": q_doc_fingerprint,
        "q_text_stats": q_text_stats,
        # DuckDB-gated since r3: SRP bucket assignment re-expressed in
        # SQL with the shared deterministic plane constants
        "q_ann_srp": q_ann_srp,
        "q_embed_near_dup": q_embed_near_dup,
        "q_knn_join": q_knn_join,
        "q_image_features": q_image_features,
        "q_image_decode": q_image_decode,
        # rows-only (xxhash64/k-means kernels DuckDB can't express);
        # each pinned by an independent pure-Python oracle in
        # tests/test_pinned_oracles.py AND by committed fixtures that
        # tools/check_entry.py re-verifies (tests/fixtures/)
        "q_minhash_dedup": q_minhash_dedup,
        "q_simhash_pairs": q_simhash_pairs,
        "q_winnow_overlap": q_winnow_overlap,
        "q_ann_ivf": q_ann_ivf,
    }


# ---------------------------------------------------------- oracle SQL

def _bm25_sql(terms: list[str], k: int = 10, min_match: int = 1) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    having = f"HAVING count(*) >= {min_match}" if min_match > 1 else ""
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOK_SQL} AS t FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(len(t)) AS avg_dl FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(t) AS term FROM toks
  ) WHERE term IN ({in_list})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), dl AS (
  SELECT doc_id, len(t) AS dl FROM toks
)
SELECT tf.doc_id AS doc_id,
       round(sum(
         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * {BM25_K1 + 1.0} * tf.tf
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avg_dl))
       ), 4) AS score
FROM tf
JOIN dfreq USING (term)
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
{having}
ORDER BY sum(
         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * {BM25_K1 + 1.0} * tf.tf
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avg_dl))
       ) DESC, tf.doc_id ASC
LIMIT {k}
"""


_BM25_SQL = _bm25_sql(BM25_TERMS)

_DIFF_SQL_BODY = """
WITH src AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
), tgt AS (
  SELECT * REPLACE (
    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
    AS o_totalprice)
  FROM orders WHERE o_orderkey % 5 <> 0
), cls AS (
  SELECT CASE
    WHEN t.o_orderkey IS NULL THEN 'create'
    WHEN s.o_orderkey IS NULL THEN 'delete'
    WHEN s.o_totalprice <> t.o_totalprice THEN 'update'
    ELSE 'same' END AS diff_class
  FROM src s FULL OUTER JOIN tgt t USING (o_orderkey)
)
"""


def _lang_detect_sql() -> str:
    """DuckDB twin of functions/analysis.detect_lang: whitespace-split
    lowercase tokens (first 200), stopword hit-count per language,
    argmax with first-max tie-break over sorted language codes."""
    from ela_lib_spark.functions.analysis import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)  # ['de', 'en', 'es', 'fr']
    counts = ",\n".join(
        "    len(list_filter(t, x -> x IN ({}))) AS c_{}".format(
            ", ".join(f"'{w}'" for w in sorted(LANG_STOPWORDS[lg])), lg
        )
        for lg in langs
    )
    # first-max over langs order == numpy argmax over sorted columns
    tie = []
    for i, lg in enumerate(langs[:-1]):
        later = " AND ".join(f"c_{lg} >= c_{o}" for o in langs[i + 1:])
        tie.append(f"WHEN {later} THEN '{lg}'")
    gmax = ", ".join(f"c_{lg}" for lg in langs)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:200] AS t
  FROM documents
), cnt AS (
  SELECT doc_id, t,
{counts}
  FROM toks
)
SELECT doc_id,
       CASE WHEN t IS NULL THEN NULL
            WHEN greatest({gmax}) = 0 THEN 'und'
            {' '.join(tie)}
            ELSE '{langs[-1]}' END AS detected
FROM cnt
"""


def _srp_planes_lits(n_planes: int, dim: int) -> list[str]:
    """SQL DOUBLE[] literals of the SRP planes (same deterministic
    numpy stream both sides use; repr() round-trips float64 exactly)."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((n_planes, dim))
    return [
        "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        for p in planes
    ]


def _srp_bucket_sql(vec_expr: str, n_planes: int, dim: int) -> str:
    """DuckDB twin of operators/similarity._srp_bucket_expr: bit i set
    iff dot(vec, plane_i) >= 0."""
    lits = _srp_planes_lits(n_planes, dim)
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({vec_expr}, {lits[i]}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"({bits})"


def _ann_srp_sql(n_planes: int = 10, dim: int = 64, k: int = 10) -> str:
    """Multi-probe SRP-LSH ANN: candidates within hamming<=1 of the
    query bucket (== the probe set), exact-cosine rerank."""
    b = _srp_bucket_sql("e", n_planes, dim)
    return f"""
WITH qv AS (
  SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0
), qb AS (
  SELECT {b} AS bk FROM qv
), cand AS (
  SELECT vec_id, e, {b} AS bk FROM (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0
  )
)
SELECT cand.vec_id AS vec_id,
       round(list_cosine_similarity(cand.e, qv.e), 6) AS cosine
FROM cand, qv, qb
WHERE bit_count(xor(cand.bk::BIGINT, qb.bk::BIGINT)) <= 1
ORDER BY list_cosine_similarity(cand.e, qv.e) DESC, cand.vec_id ASC
LIMIT {k}
"""


def _embed_near_dup_sql(n_planes: int = 4, dim: int = 64,
                        threshold: float = 0.25) -> str:
    """Same-bucket SRP pairs, exact cosine >= threshold (on the rounded
    value, matching the Spark operator's filter order)."""
    b = _srp_bucket_sql("e", n_planes, dim)
    return f"""
WITH bk AS (
  SELECT vec_id, e, {b} AS bucket FROM (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  )
)
SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
       round(list_cosine_similarity(l.e, r.e), 6) AS cosine
FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE round(list_cosine_similarity(l.e, r.e), 6) >= {threshold}
"""


def _knn_join_sql(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    """Batch kNN join: hamming(q_bucket, c_bucket) <= 1 is exactly the
    multi-probe bucket equi-join (one flip mask matches per pair)."""
    b = _srp_bucket_sql("e", n_planes, dim)
    return f"""
WITH qs AS (
  SELECT vec_id AS q_id, e, {b} AS bk FROM (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 5
  )
), cs AS (
  SELECT vec_id, e, {b} AS bk FROM (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5
  )
), pairs AS (
  SELECT q_id, cs.vec_id AS vec_id,
         list_cosine_similarity(qs.e, cs.e) AS cos_raw
  FROM qs JOIN cs ON bit_count(xor(qs.bk::BIGINT, cs.bk::BIGINT)) <= 1
), ranked AS (
  SELECT q_id, vec_id, cos_raw,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_raw DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT q_id, vec_id, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def _image_features_sql(n: int = 64) -> str:
    """Oracle for the multimodal image plumbing: width/height are SQL
    arithmetic over the deterministic synth formula; the payload sha256
    is pinned by an INDEPENDENT pure-Python hashlib computation at
    SQL-generation time (DuckDB's sha256 only takes VARCHAR, and a
    BLOB→VARCHAR cast escapes bytes, so the digest itself cannot be
    recomputed in SQL)."""
    import hashlib
    import struct as _struct

    rows = []
    for i in range(n):
        if i % 4 not in (0, 1):  # only kind == image
            continue
        w, h = 64 + (i % 8) * 16, 48 + (i % 5) * 16
        payload = _struct.pack("<II", w, h) + bytes(
            (i * 7 + j) % 256 for j in range(120)
        )
        rows.append(f"({i}, '{hashlib.sha256(payload).hexdigest()}')")
    values = ",\n    ".join(rows)
    return f"""
WITH hashes(media_id, sha256) AS (
  VALUES
    {values}
)
SELECT media_id,
       (64 + (media_id % 8) * 16)::INT AS width,
       (48 + (media_id % 5) * 16)::INT AS height,
       sha256
FROM hashes
"""


def _image_decode_sql(n: int = 48) -> str:
    """Independent oracle for the real PNG decode: width/height/
    channels/mean recomputed from the pixel FORMULA (plain scalar
    Python at SQL-generation time — no numpy, no codec, no shared code
    with decode_png), emitted as a VALUES table. A decoder bug
    anywhere (chunk walk, inflate framing, any of the five filter
    reconstructions) shifts mean_byte and breaks the hash match."""
    rows = []
    for i in range(n):
        color_type = (0, 2, 6)[i % 3]
        c = {0: 1, 2: 3, 6: 4}[color_type]
        w, h = 16 + (i % 5) * 8, 12 + (i % 4) * 6
        total = 0
        for y in range(h):
            for x in range(w):
                for s in range(c):
                    total += (x * 3 + y * 7 + s * 5 + i * 11) % 256
        mean = round(total / (w * h * c), 6)
        rows.append(f"({i}, {w}, {h}, {c}, {mean})")
    values = ",\n    ".join(rows)
    return f"""
WITH px(media_id, width, height, n_channels, mean_byte) AS (
  VALUES
    {values}
)
SELECT media_id, width::INT AS width, height::INT AS height,
       n_channels::INT AS n_channels, mean_byte::DOUBLE AS mean_byte
FROM px
"""


def _text_stats_sql() -> str:
    from ela_lib_spark.functions.analysis import LANG_STOPWORDS

    sw = ", ".join(f"'{w}'" for w in sorted(LANG_STOPWORDS["en"]))
    return f"""
WITH t AS (
  SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents
)
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT
    AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
    AS bpe_tokens,
  round(CASE WHEN len(toks) > 0
    THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
    ELSE 0.0 END, 4) AS mean_tok_len,
  round(CASE WHEN length(text) > 0
    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
         / length(text)
    ELSE 0.0 END, 4) AS punct_ratio,
  round(CASE WHEN len(toks) > 0
    THEN len(list_filter(toks, x -> x IN ({sw}))) * 1.0 / len(toks)
    ELSE 0.0 END, 4) AS stopword_ratio
FROM t
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q_count_docs": "SELECT count(*) AS n FROM documents",
        "q_lang_dist": "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
        "q_token_stats": f"""
            SELECT doc_id, len({_TOK_SQL})::BIGINT AS n_tokens,
                   len(list_distinct({_TOK_SQL}))::BIGINT AS n_unique
            FROM documents""",
        "q_term_df": f"""
            SELECT term, count(*)::BIGINT AS df FROM (
              SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS term FROM documents
            ) GROUP BY term""",
        "q_bm25_flat": _BM25_SQL,
        "q_bm25_msm": _bm25_sql(MSM_TERMS, min_match=2),
        "q_bm25_wand": _BM25_SQL,
        "q_match_and": f"""
            SELECT doc_id FROM (
              SELECT doc_id, {_TOK_SQL} AS t FROM documents
            ) WHERE list_contains(t, '{MATCH_AND_TERMS[0]}')
              AND list_contains(t, '{MATCH_AND_TERMS[1]}')""",
        "q_match_or": f"""
            SELECT doc_id FROM (
              SELECT doc_id, {_TOK_SQL} AS t FROM documents
            ) WHERE list_contains(t, '{MATCH_OR_TERMS[0]}')
               OR list_contains(t, '{MATCH_OR_TERMS[1]}')""",
        "q_terms_filter": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE lang IN ('en', 'de') AND n_chars >= 200 AND n_chars < 2000""",
        "q_range_filter_events": """
            SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events WHERE value >= 10.0 AND value < 50.0
            GROUP BY event_type""",
        "q_diff_classify": _DIFF_SQL_BODY
        + "SELECT diff_class, count(*) AS cnt FROM cls GROUP BY diff_class",
        "q_sync_diff_result": """
            SELECT 'same' AS diff_class, count(*) AS cnt
            FROM orders WHERE o_orderkey % 7 <> 0""",
        "q_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "q_nation_revenue": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "q_dedup_exact": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY text""",
        "q_jaccard_pairs": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))
                  ELSE [] END) AS g
              FROM (SELECT doc_id, {_TOK_SQL} AS t FROM documents)
            ), ex AS (
              SELECT doc_id, unnest(g) AS s FROM sh
            ), common AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
              FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY l.doc_id, r.doc_id
            )
            SELECT a, b, round(c * 1.0 / (la.n + lb.n - c), 4) AS jaccard
            FROM common
            JOIN (SELECT doc_id, len(g) AS n FROM sh) la ON common.a = la.doc_id
            JOIN (SELECT doc_id, len(g) AS n FROM sh) lb ON common.b = lb.doc_id
            WHERE c * 1.0 / (la.n + lb.n - c) >= 0.12""",
        "q_cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6)
                   AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0))
                     DESC, vec_id ASC
            LIMIT 10""",
        "q_quality": f"""
            SELECT doc_id, len({_TOK_SQL})::BIGINT AS n_tokens,
                   round(CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                          / length(text)
                     ELSE 0.0 END, 4) AS alpha_ratio
            FROM documents""",
        "q_events_hourly": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS h, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2""",
        "q_lang_detect": _lang_detect_sql(),
        "q_text_stats": _text_stats_sql(),
        # SRP-LSH family: plane constants are the shared deterministic
        # numpy stream; assignment + probe + rerank re-expressed in SQL
        "q_ann_srp": _ann_srp_sql(),
        "q_embed_near_dup": _embed_near_dup_sql(),
        "q_knn_join": _knn_join_sql(),
        "q_image_features": _image_features_sql(),
        "q_image_decode": _image_decode_sql(),
        "q_doc_fingerprint": f"""
            SELECT doc_id,
                   md5(coalesce(array_to_string({_TOK_SQL}, chr(31)), ''))
                     AS fp
            FROM documents""",
        "q_topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey ASC)
                     AS rk
              FROM orders) WHERE rk <= 3""",
    }
