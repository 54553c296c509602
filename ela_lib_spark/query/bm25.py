"""Closed-form BM25 over a prepared flat corpus — built-in Spark SQL,
planned as SQL text (zero Python in the plan). It doubles as the
SQL-expressible oracle surface (DuckDB runs the equivalent SQL); the
block-max WAND executor (query/wand.py) is the scale path.

`prepare_flat` owns the corpus format, as `wand.prepare_serving` owns
the WAND serving cache: postings (term, doc_id, tf, doc_len, df),
cached, hash-partitioned by doc_id into FLAT_PARTITIONS and
term-sorted within each partition. The partitioning satisfies each
query's groupBy(doc_id), so a query runs one job with no shuffle; the
term sort lets the term filter prune cached batches by their stats.
`bm25_topk_flat` scores that one shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ela_lib_spark import BM25_B, BM25_K1
from ela_lib_spark.errors import FlatCorpusError
from ela_lib_spark.functions.hashing import sql_in, sql_lit

FLAT_PARTITIONS = 8


def flat_postings(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, tokens:array) → (term, doc_id, tf). explode + count —
    Catalyst does partial aggregation map-side."""
    ex = tokens_df.select("doc_id", F.explode("tokens").alias("term"))
    return ex.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))


def doc_lens(tokens_df: DataFrame) -> DataFrame:
    return tokens_df.select(
        "doc_id", F.size("tokens").cast("long").alias("doc_len")
    )


def prepare_flat(tokens_df: DataFrame) -> dict:
    """(doc_id, tokens:array) → {postings, n_docs, avg_dl}, the flat
    corpus (layout in the module docstring). doc_len and df are corpus
    invariants, so queries neither join nor count them. The postings
    cache is built here, not at query time; the caller unpersists it."""
    dl = doc_lens(tokens_df)
    fp = flat_postings(tokens_df)
    dfs = fp.groupBy("term").agg(F.count("*").alias("df"))
    postings = (
        fp.join(dl, "doc_id").join(dfs, "term")
        .repartition(FLAT_PARTITIONS, "doc_id")
        .sortWithinPartitions("term").cache()
    )
    postings.count()
    stats = dl.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avg")).first()
    return {"postings": postings, "n_docs": int(stats.n),
            "avg_dl": float(stats.avg)}


def bm25_score_sql(tf: str, doc_len: str, df: str, n_docs: int, avg_dl: float) -> str:
    """One posting's BM25 contribution as SQL text over the SQL
    expressions `tf` (double), `doc_len` and `df`."""
    lit = sql_lit
    idf = f"ln(1.0D + ({lit(float(n_docs))} - {df} + 0.5D) / ({df} + 0.5D))"
    norm = (f"({tf} + {lit(BM25_K1)} * ({lit(1.0 - BM25_B)}"
            f" + {lit(BM25_B)} * {doc_len} / {lit(float(avg_dl))}))")
    return f"{idf} * {lit(BM25_K1 + 1.0)} * {tf} / {norm}"


def bm25_topk_flat(
    postings: DataFrame,
    doc_stats: None,
    n_docs: int,
    avg_dl: float,
    terms: list[str],
    mode: str = "OR",
    k: int = 10,
    min_match: int | None = None,
) -> DataFrame:
    """Top-k BM25 with built-ins only, over postings that carry
    `doc_len` and `df` (prepare_flat's shape): filter terms → score →
    groupBy(doc_id) → threshold → top-k. `min_match=m` requires ≥ m
    distinct matched terms per doc; AND requires all of them.
    `doc_stats` must be None: doc lengths ride in the postings."""
    if doc_stats is not None:
        raise FlatCorpusError(
            "doc_stats must be None: doc_len rides in prepare_flat's postings")
    missing = sorted({"doc_len", "df"} - set(postings.columns))
    if missing:
        raise FlatCorpusError(
            f"flat postings lack {missing}; build them with prepare_flat")
    need = (len(set(terms)) if mode.upper() == "AND"
            else max(1, int(min_match or 1)))
    having = f"HAVING count(1) >= {need} " if need > 1 else ""
    score = bm25_score_sql("CAST(tf AS DOUBLE)", "doc_len", "df", n_docs, avg_dl)
    # Planned as SQL text: each wrapped Column call costs the driver
    # several py4j round trips. `p` must be a frame derived from the
    # postings, never the cached frame itself: spark.sql drops the temp
    # view it registers for `p`, and dropping a view of a cached frame
    # uncaches it.
    hits = postings.where(sql_in("term", terms))
    return postings.sparkSession.sql(
        f"SELECT doc_id, sum({score}) AS score FROM {{p}} GROUP BY doc_id "
        f"{having}ORDER BY score DESC, doc_id LIMIT {int(k)}", p=hits)
