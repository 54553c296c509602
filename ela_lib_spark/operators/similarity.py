"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side `aggregate`/`zip_with` dot
  product — no Python in the plan, SQL-expressible for the oracle.
- LSH-bucketed ANN (signed random projections): scale path — buckets
  prune the candidate set; rerank within buckets is exact cosine.
- batch kNN join (query set × corpus) via multi-probe bucket equi-join.

Ordering contract: top-k ranks use the UNROUNDED cosine (key
tie-break); rounding applies only to the projected output column —
matching the DuckDB oracle's ORDER BY.

Plane projections: for small dim×n_planes the bucket id is a pure
column expression (codegen); above `_UDF_PLANES_THRESHOLD` multiply-
adds it switches to an Arrow pandas-UDF matmul (one BLAS call per
batch) — literal-array expression trees blow up the plan at dim ≥ 768.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_UDF_PLANES_THRESHOLD = 2048  # dim * n_planes above which matmul-UDF wins


def _dot_with_lit(vec_col, q: list[float]) -> Column:
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, qlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(vec_col) -> Column:
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_sim_col(vec_col, q: list[float]) -> Column:
    qn = float(np.sqrt(np.dot(q, q)))
    return _dot_with_lit(vec_col, q) / (_norm(vec_col) * F.lit(qn))


def _topk_by_cosine(scored: DataFrame, key: str, k: int,
                    round_to: int = 6) -> DataFrame:
    return (
        scored.orderBy(F.desc("_cos_raw"), F.asc(key))
        .limit(k)
        .select(key, F.round("_cos_raw", round_to).alias("cosine"))
    )


def cosine_topk(
    df: DataFrame, q: list[float], k: int = 10,
    vec_col: str = "embedding", key: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine — the correctness baseline.
    Whole-corpus scan, but embarrassingly parallel: per-partition
    top-k then global limit (Spark's TakeOrdered does exactly this)."""
    scored = df.select(key, cosine_sim_col(F.col(vec_col), q).alias("_cos_raw"))
    return _topk_by_cosine(scored, key, k)


def srp_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _srp_bucket_expr(vec_col, planes: np.ndarray) -> Column:
    """Bucket id as a pure column expression (small dim×planes only)."""
    bits = []
    for i, p in enumerate(planes):
        dot = _dot_with_lit(vec_col, [float(x) for x in p])
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _stack_vectors(vecs: pd.Series) -> np.ndarray:
    """An Arrow batch of array<double> vectors as one (batch × dim) matrix."""
    return np.vstack([np.asarray(v, np.float64) for v in vecs])


def _srp_bucket_udf(planes: np.ndarray):
    """Arrow pandas UDF: one (batch × dim) @ (dim × planes) matmul."""
    pt = np.ascontiguousarray(planes.T)
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = _stack_vectors(vecs)
        signs = (m @ pt) >= 0
        return pd.Series(signs @ weights)

    return bucket


def srp_bucket_col(vec_col, planes: np.ndarray) -> Column:
    n_planes, dim = planes.shape
    if n_planes * dim > _UDF_PLANES_THRESHOLD:
        return _srp_bucket_udf(planes)(vec_col)
    return _srp_bucket_expr(vec_col, planes)


def _probe_buckets(qbits: int, n_planes: int, probe_hamming: int) -> list[int]:
    probes = [qbits]
    if probe_hamming >= 1:
        probes += [qbits ^ (1 << i) for i in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            qbits ^ (1 << i) ^ (1 << j)
            for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    return probes


_ANN_META = "_ann_meta.json"


def write_ann_corpus(
    df: DataFrame, path: str, dim: int, *, kind: str = "srp",
    key: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 12, seed: int = 42,
    n_lists: int = 16, sample_n: int = 100_000,
) -> dict:
    """Materialize the ANN corpus PARTITIONED by its coarse assignment
    (`_bucket` for SRP-LSH, `_list` for IVF) — the at-scale layout the
    query paths need: a probe then reads n_probe/n_buckets of the data
    via parquet partition pruning instead of recomputing assignments
    over the full corpus per query (VERDICT r2 #3).

    The quantizer parameters (planes are regenerated from (dim,
    n_planes, seed); IVF centroids are stored verbatim) live in a tiny
    `_ann_meta.json` beside the data, so queries need no side channel.
    Assignment is computed ONCE here, at write time — amortized over
    every subsequent query."""
    import json
    import os

    if kind == "srp":
        planes = srp_planes(dim, n_planes, seed)
        out = df.select(key, vec_col).withColumn(
            "_bucket", srp_bucket_col(F.col(vec_col), planes)
        )
        part_col = "_bucket"
        meta = {"kind": "srp", "dim": dim, "n_planes": n_planes,
                "seed": seed, "key": key, "vec_col": vec_col}
    elif kind == "ivf":
        centroids = ivf_train_centroids(df, dim, n_lists, key, vec_col,
                                        sample_n)
        out = df.select(key, vec_col).withColumn(
            "_list", ivf_assign_col(F.col(vec_col), centroids)
        )
        part_col = "_list"
        meta = {"kind": "ivf", "dim": dim, "n_lists": n_lists, "key": key,
                "vec_col": vec_col, "centroids": centroids.tolist()}
    else:
        raise ValueError(f"unknown ANN corpus kind {kind!r}")
    out.write.mode("overwrite").partitionBy(part_col).parquet(path)
    with open(os.path.join(path, _ANN_META), "w") as f:
        json.dump(meta, f)
    return meta


def load_ann_corpus(spark, path: str) -> tuple[DataFrame, dict]:
    """Open a materialized ANN corpus: (partition-column DataFrame,
    quantizer meta). The returned frame's `_bucket`/`_list` column is a
    parquet PARTITION column — filters on it prune directories, never
    touching non-probed vectors (asserted in tests/test_plans.py)."""
    import json
    import os

    with open(os.path.join(path, _ANN_META)) as f:
        meta = json.load(f)
    return spark.read.parquet(path), meta


def ann_topk_srp(
    df: DataFrame | tuple, q: list[float], k: int = 10,
    vec_col: str = "embedding", key: str = "vec_id",
    n_planes: int = 12, probe_hamming: int = 1, seed: int = 42,
) -> DataFrame:
    """ANN: scan only buckets within `probe_hamming` bit flips of the
    query's bucket (multi-probe SRP-LSH), exact rerank inside.

    `df` is either a DataFrame (assignment computed inline — ad-hoc /
    test path) or a `(spark, corpus_path)` tuple naming a corpus
    materialized by `write_ann_corpus(kind="srp")` — then the probe
    filter lands on the `_bucket` PARTITION column and prunes whole
    directories (the 100-TB path; plan-asserted in test_plans)."""
    if isinstance(df, tuple):
        spark, path = df
        corpus, meta = load_ann_corpus(spark, path)
        assert meta["kind"] == "srp", "corpus was written with kind=ivf"
        n_planes, seed = meta["n_planes"], meta["seed"]
        key, vec_col = meta["key"], meta["vec_col"]
        planes = srp_planes(meta["dim"], n_planes, seed)
        qbits = int(sum((1 << i) for i, p in enumerate(planes)
                        if np.dot(p, q) >= 0))
        probes = _probe_buckets(qbits, n_planes, probe_hamming)
        cand = corpus.filter(F.col("_bucket").isin(probes))
    else:
        planes = srp_planes(len(q), n_planes, seed)
        qbits = int(sum((1 << i) for i, p in enumerate(planes)
                        if np.dot(p, q) >= 0))
        probes = _probe_buckets(qbits, n_planes, probe_hamming)
        bucketed = df.withColumn(
            "_bucket", srp_bucket_col(F.col(vec_col), planes)
        )
        cand = bucketed.filter(F.col("_bucket").isin(probes))
    scored = cand.select(key, cosine_sim_col(F.col(vec_col), q).alias("_cos_raw"))
    return _topk_by_cosine(scored, key, k)


def knn_join_srp(
    queries: DataFrame, corpus: DataFrame | tuple, dim: int, k: int = 10,
    q_key: str = "q_id", c_key: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 12, probe_hamming: int = 1, seed: int = 42,
) -> DataFrame:
    """Batch kNN join: for every query row, its top-k corpus neighbors
    by cosine — (q_id, vec_id, cosine, rank).

    Plan shape: each side computes SRP buckets; queries explode to
    their multi-probe bucket set; ONE equi-join on bucket prunes the
    cross product to same/near-bucket pairs; exact cosine + window
    top-k per query. Shuffles move (bucket, key, vec) rows — never the
    all-pairs product.

    `corpus` may be a `(spark, corpus_path)` tuple naming a corpus
    materialized by `write_ann_corpus(kind="srp")`: the join then reads
    the STORED `_bucket` partition column (zero per-query assignment
    work over the corpus), and because `_bucket` is a partition column
    joined against a small query side, Spark's dynamic partition
    pruning skips unprobed directories."""
    from pyspark.sql import Window

    corpus_meta = None
    if isinstance(corpus, tuple):
        spark, path = corpus
        corpus, corpus_meta = load_ann_corpus(spark, path)
        assert corpus_meta["kind"] == "srp", "corpus was written with kind=ivf"
        dim, n_planes = corpus_meta["dim"], corpus_meta["n_planes"]
        seed, c_key = corpus_meta["seed"], corpus_meta["key"]
        vec_col = corpus_meta["vec_col"]
    planes = srp_planes(dim, n_planes, seed)
    # flip masks = the hamming ball around 0 (XOR'd per query below)
    flips = F.array(*[F.lit(x) for x in
                      _probe_buckets(0, n_planes, probe_hamming)])
    qb = queries.select(
        F.col(q_key), F.col(vec_col).alias("_qv"),
        srp_bucket_col(F.col(vec_col), planes).alias("_qbucket"),
    ).select(
        q_key, "_qv",
        F.explode(F.transform(flips, lambda f: F.col("_qbucket").bitwiseXOR(f)))
        .alias("_bucket"),
    )
    if corpus_meta is not None:  # stored assignment: no recompute
        cb = corpus.select(
            F.col(c_key), F.col(vec_col).alias("_cv"), "_bucket"
        )
    else:
        cb = corpus.select(
            F.col(c_key), F.col(vec_col).alias("_cv"),
            srp_bucket_col(F.col(vec_col), planes).alias("_bucket"),
        )
    dot = F.aggregate(F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0),
                      lambda acc, v: acc + v)
    cos = (dot / (_norm(F.col("_qv")) * _norm(F.col("_cv")))).alias("_cos_raw")
    pairs = (
        qb.join(cb, "_bucket")
        .select(q_key, c_key, cos)
        .groupBy(q_key, c_key)  # a pair can match via several probes
        .agg(F.first("_cos_raw").alias("_cos_raw"))
    )
    w = Window.partitionBy(q_key).orderBy(F.desc("_cos_raw"), F.asc(c_key))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_key, c_key, F.round("_cos_raw", 6).alias("cosine"), "rank")
    )


def ivf_train_centroids(
    df: DataFrame, dim: int, n_lists: int = 16,
    key: str = "vec_id", vec_col: str = "embedding",
    sample_n: int = 100_000, iters: int = 10,
    sample_bytes: int = 256 << 20,
) -> np.ndarray:
    """Deterministic driver-side Lloyd k-means for the IVF coarse
    quantizer (the classic IVF recipe: train on a bounded sample —
    ~256×n_lists vectors suffice — never on the full corpus).

    The sample is capped by BYTES, not just rows: at dim=768 a 100k-row
    sample is ~600 MB of float64 on the driver; `sample_bytes` (default
    256 MB) shrinks the row cap to sample_bytes/(8·dim), floored at
    32×n_lists so the quantizer still trains.

    Determinism: the sample is the `sample_n` smallest keys
    (TakeOrdered — a distributed top-k, not a full sort), init is the
    first n_lists sample vectors, iterations are a fixed count, and an
    emptied cluster keeps its previous centroid. No RNG → the same
    centroids at any parallelism, which resume and the pinned oracle
    both rely on."""
    rows_by_bytes = max(32 * n_lists, sample_bytes // (8 * dim))
    sample_n = min(sample_n, int(rows_by_bytes))
    rows = (
        df.select(key, vec_col).orderBy(key).limit(sample_n).collect()
    )
    x = np.array([list(r[1]) for r in rows], np.float64)
    cent = x[:n_lists].copy()
    for _ in range(iters):
        # ||x-c||² = ||c||² - 2 x·c (+ ||x||², rank-constant): one matmul
        d2 = (cent ** 2).sum(axis=1)[None, :] - 2.0 * (x @ cent.T)
        assign = d2.argmin(axis=1)
        for c in range(n_lists):
            m = assign == c
            if m.any():
                cent[c] = x[m].sum(axis=0) / m.sum()
    return cent


def ivf_assign_col(vec_col, centroids: np.ndarray):
    """list id = argmin_c ||v - c||² — one Arrow matmul per batch
    (||v-c||² = ||v||² - 2·v·c + ||c||²; ||v||² is rank-constant)."""
    ct = np.ascontiguousarray(centroids.T)
    c2 = (centroids ** 2).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = _stack_vectors(vecs)
        scores = c2[None, :] - 2.0 * (m @ ct)
        return pd.Series(scores.argmin(axis=1).astype(np.int32))

    return assign(vec_col)


def ann_topk_ivf(
    df: DataFrame | tuple, q: list[float], k: int = 10,
    vec_col: str = "embedding", key: str = "vec_id",
    n_lists: int = 16, n_probe: int = 4, sample_n: int = 100_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: probe the n_probe inverted lists whose centroids are
    nearest the query, exact-cosine rerank inside.

    `df` is either a DataFrame (quantizer trained + assignment computed
    inline) or a `(spark, corpus_path)` tuple naming a corpus
    materialized by `write_ann_corpus(kind="ivf")` — then the stored
    centroids pick the probe lists and the filter lands on the `_list`
    PARTITION column: a probe reads n_probe/n_lists of the data via
    directory pruning, nothing is recomputed per query (the 100-TB
    path; plan-asserted in test_plans)."""
    if isinstance(df, tuple):
        spark, path = df
        corpus, meta = load_ann_corpus(spark, path)
        assert meta["kind"] == "ivf", "corpus was written with kind=srp"
        centroids = np.asarray(meta["centroids"], np.float64)
        key, vec_col = meta["key"], meta["vec_col"]
        qv = np.asarray(q, np.float64)
        d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
        probes = [int(i) for i in np.argsort(d2)[:n_probe]]
        cand = corpus.filter(F.col("_list").isin(probes))
    else:
        if centroids is None:
            centroids = ivf_train_centroids(
                df, len(q), n_lists, key, vec_col, sample_n
            )
        qv = np.asarray(q, np.float64)
        d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
        probes = [int(i) for i in np.argsort(d2)[:n_probe]]
        assigned = df.withColumn(
            "_list", ivf_assign_col(F.col(vec_col), centroids)
        )
        cand = assigned.filter(F.col("_list").isin(probes))
    scored = cand.select(key, cosine_sim_col(F.col(vec_col), q).alias("_cos_raw"))
    return _topk_by_cosine(scored, key, k)


def embedding_near_dup_pairs(
    df: DataFrame, dim: int, key: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_planes: int = 8, seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup: SRP bucket equi-join prunes pairs,
    exact cosine verifies. Same-bucket constraint trades recall for a
    shuffle that moves (bucket, key, vec) instead of all pairs.

    `dim` is required (no driver-side df.first() probe — that's an
    eager corpus action in an otherwise lazy API)."""
    planes = srp_planes(dim, n_planes, seed)
    b = df.select(key, vec_col).withColumn("_bucket", srp_bucket_col(F.col(vec_col), planes))
    l = b.select(F.col(key).alias("a"), F.col(vec_col).alias("va"), "_bucket")
    r = b.select(F.col(key).alias("b"), F.col(vec_col).alias("vb"), "_bucket")
    pairs = l.join(r, "_bucket").filter(F.col("a") < F.col("b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0),
                      lambda acc, v: acc + v)
    cos = dot / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
        .distinct()
    )
