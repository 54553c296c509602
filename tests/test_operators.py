"""Dedup, similarity, diff, DSL, export/import, analysis, multimodal."""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from ela_lib_spark.functions.analysis import detect_lang, doc_fingerprint, quality_score, token_count
from ela_lib_spark.functions.hashing import shingle_col
from ela_lib_spark.functions.multimodal import extract_image_features, synth_media_df
from ela_lib_spark.functions.text import tokenize_col
from ela_lib_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_minhash_lsh,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
)
from ela_lib_spark.operators.diff import classify_diff, diff_result, sync_diff_apply
from ela_lib_spark.operators.similarity import ann_topk_srp, cosine_topk
from ela_lib_spark.plans.dsl import DslError, dsl_filter, dsl_to_column
from ela_lib_spark.sources.ndjson import export_index, import_index
from tests.conftest import jobs_in


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup of 1
        (4, "completely different content about spark engines", "en"),
        (5, "der schnelle braune fuchs springt und ist nicht da", "de"),
        (6, "le renard brun rapide saute par dessus le chien", "fr"),
        (7, "data engines spark completely different thoughts", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact(docs):
    kept = sorted(r.doc_id for r in dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 5, 6, 7]


def test_minhash_lsh_dedup(docs):
    kept = sorted(
        r.doc_id
        for r in dedup_minhash_lsh(docs, threshold=0.5, num_bands=32).collect()
    )
    # 2 is an exact dup (jaccard 1.0) → removed; 3 differs by one token
    assert 1 in kept and 2 not in kept
    assert {4, 5, 6, 7} <= set(kept)


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.a, r.b): r.jaccard for r in
             ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0


def test_simhash_near_dups(spark, docs):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 10
    near = base.replace("echo", "zulu", 1)
    far = "completely unrelated words about distributed query planning " * 10
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    sigs = simhash_signatures(df)
    sig = {r.doc_id: r.simhash for r in sigs.collect()}
    true_ham = bin((sig[1] ^ sig[3]) & (2**64 - 1)).count("1")
    pairs = {(r.a, r.b): r.hamming for r in
             simhash_near_dup_pairs(sigs, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0  # identical text → identical simhash
    # candidate generation guarantees recall for hamming ≤ 3 (4-chunk pigeonhole)
    if true_ham <= 3:
        assert pairs.get((1, 3)) == true_ham
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)], "a long, b long"
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20


def test_shingles_short_docs(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(shingle_col(tokenize_col(F.col("text")), 3).alias("sh")).collect()
    assert list(out[0].sh) == []
    assert list(out[1].sh) == ["a b c", "b c d"]


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = vecs[0].tolist()
    got = [r.vec_id for r in cosine_topk(df, q, k=5).collect()]
    sims = vecs @ np.array(q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    # ranks use the UNROUNDED cosine (rounding is output-only)
    want = list(np.lexsort((np.arange(50), -sims))[:5])
    assert got == want


def test_ann_srp_recall(spark):
    # planted near-neighbors: 9 noisy copies of the query among 300
    # isotropic distractors — the regime ANN is for
    rng = np.random.default_rng(9)
    q = rng.standard_normal(16)
    planted = q[None, :] + 0.15 * rng.standard_normal((9, 16))
    distract = rng.standard_normal((291, 16))
    vecs = np.vstack([planted, distract])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {r.vec_id for r in cosine_topk(df, q.tolist(), k=9).collect()}
    assert exact == set(range(9))  # sanity: planted docs are the true top-9
    approx = {r.vec_id for r in
              ann_topk_srp(df, q.tolist(), k=9, n_planes=8, probe_hamming=2).collect()}
    assert len(exact & approx) >= 7  # high recall on genuine neighbors


def test_embedding_near_dup_pairs(spark):
    from ela_lib_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(21)
    base = rng.standard_normal((40, 12))
    dup = base[5] + 0.01 * rng.standard_normal(12)  # near-dup of vec 5
    vecs = np.vstack([base, dup[None, :]])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.a, r.b): r.cosine for r in
             embedding_near_dup_pairs(df, dim=12, threshold=0.98, n_planes=6).collect()}
    assert (5, 40) in pairs and pairs[(5, 40)] > 0.99


def test_knn_join_srp(spark):
    rng = np.random.default_rng(33)
    corpus = rng.standard_normal((200, 16))
    queries = corpus[[3, 57, 120]] + 0.05 * rng.standard_normal((3, 16))
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries)],
        "q_id long, embedding array<double>",
    )
    from ela_lib_spark.operators.similarity import knn_join_srp

    out = knn_join_srp(qdf, cdf, dim=16, k=5, n_planes=8, probe_hamming=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    # each query's rank-1 neighbor is its planted source vector
    for qi, src in enumerate([3, 57, 120]):
        got = [v for _, v in sorted(by_q[qi])]
        assert got[0] == src, (qi, got)
        assert len(got) <= 5 and len(set(got)) == len(got)


def test_dsl_clauses(spark, docs):
    assert dsl_filter(docs, {"term": {"lang": "de"}}, "doc_id").count() == 1
    assert dsl_filter(docs, {"ids": {"values": [1, 2]}}, "doc_id").count() == 2
    assert dsl_filter(docs, {"terms": {"_id": [1, 5, 6]}}, "doc_id").count() == 3
    assert dsl_filter(docs, {"match": {"text": "FOX! cat"}}, "doc_id").count() == 3
    assert dsl_filter(
        docs,
        {"bool": {"must": [{"term": {"lang": "en"}}],
                  "must_not": [{"match": {"text": "spark"}}]}},
        "doc_id",
    ).count() == 3
    assert dsl_filter(docs, {"range": {"doc_id": {"gte": 2, "lt": 4}}}, "doc_id").count() == 2
    with pytest.raises(DslError):
        dsl_to_column({"fuzzy": {"text": "x"}})
    assert dsl_filter(docs, {"prefix": {"lang": "e"}}, "doc_id").count() == 5
    assert dsl_filter(docs, {"wildcard": {"lang": "?e"}}, "doc_id").count() == 1
    assert dsl_filter(
        docs, {"match_phrase": {"text": "Quick brown FOX"}}, "doc_id"
    ).count() == 3
    assert dsl_filter(
        docs, {"match_phrase": {"text": "fox over"}}, "doc_id"
    ).count() == 0  # non-consecutive tokens don't phrase-match
    # ES bool semantics: with must present, should is scoring-only
    # (minimum_should_match defaults to 0) — docs 1,2,3 all match
    assert dsl_filter(
        docs,
        {"bool": {"must": [{"match": {"text": "fox"}}],
                  "should": [{"match": {"text": "cat"}}]}},
        "doc_id",
    ).count() == 3
    # ...but with no must/filter, should requires ≥1 match
    assert dsl_filter(
        docs, {"bool": {"should": [{"match": {"text": "cat"}}]}}, "doc_id"
    ).count() == 1
    # explicit minimum_should_match=1 restores filtering behavior
    assert dsl_filter(
        docs,
        {"bool": {"must": [{"match": {"text": "fox"}}],
                  "should": [{"match": {"text": "cat"}}],
                  "minimum_should_match": 1}},
        "doc_id",
    ).count() == 1


def test_diff_and_sync_diff(spark, docs):
    src = docs
    tgt = (
        docs.filter(F.col("doc_id") != 1)  # 1 missing → create
        .withColumn(
            "text",
            F.when(F.col("doc_id") == 4, F.lit("mutated")).otherwise(F.col("text")),
        )
        .unionByName(
            spark.createDataFrame([(99, "extra row", "en")],
                                  "doc_id long, text string, lang string")
        )
    )
    res = diff_result(classify_diff(src, tgt, key="doc_id"))
    assert res == {
        "same": 5, "update": 1, "create": 1, "delete": 1,
        "total": 8, "percent_same": 62.5,
    }
    merged = sync_diff_apply(src, tgt, key="doc_id")
    assert diff_result(classify_diff(src, merged, key="doc_id"))["same"] == 7


def test_export_import_roundtrip(spark, docs, tmp_root):
    import os

    d = os.path.join(tmp_root, "export_docs")
    man = export_index(docs, d, "docs", key="doc_id")
    assert man["total"] == 7 and man["index"] == "docs"
    back, man2 = import_index(spark, d)
    assert back.columns == docs.columns
    res = diff_result(classify_diff(docs, back, key="doc_id"))
    assert res["same"] == 7 and res["total"] == 7


def test_analysis_functions(spark, docs):
    out = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
        doc_fingerprint(F.col("text")).alias("fp"),
        detect_lang(F.col("text")).alias("lg"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n == 9
    assert by_id[1].fp == by_id[2].fp  # identical analyzed stream
    assert by_id[1].lg == "en"
    assert by_id[5].lg == "de"
    assert by_id[6].lg == "fr"
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_winnow_fingerprints_shared_passage(spark):
    from ela_lib_spark.functions.analysis import winnow_fingerprints

    passage = "shared passage tokens alpha bravo charlie delta echo foxtrot golf"
    rows = [
        (1, "unique prefix one two three " + passage),
        (2, passage + " and a completely different ending here now"),
        (3, "nothing in common with the others at all whatsoever today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: set(r.fingerprints) for r in
          winnow_fingerprints(df, k=5, w=4).collect()}
    # docs 1 and 2 share a ≥(k+w-1)-token passage → guaranteed overlap
    assert fp[1] & fp[2]
    assert not (fp[1] & fp[3]) and not (fp[2] & fp[3])
    # determinism
    fp2 = {r.doc_id: set(r.fingerprints) for r in
           winnow_fingerprints(df, k=5, w=4).collect()}
    assert fp == fp2


def test_multimodal_plumbing(spark):
    media = synth_media_df(spark, 32)
    feats = extract_image_features(media).collect()
    assert len(feats) == media.filter(F.col("kind") == "image").count()
    f0 = feats[0]
    assert f0.width > 0 and f0.height > 0 and len(f0.feature) == 16
    assert len(f0.sha256) == 64


def test_common_compare_cols_schema_intersection(spark):
    """F5: classify_diff with cols=None hashes only the shared,
    same-typed columns — a source-only column can't force 'update'."""
    from ela_lib_spark.operators.diff import common_compare_cols

    src = spark.createDataFrame(
        [(1, "a", 0.5), (2, "b", 0.7)], "id long, name string, extra double"
    )
    tgt = spark.createDataFrame([(1, "a"), (2, "x")], "id long, name string")
    assert common_compare_cols(src, tgt, key="id") == ["name"]
    res = diff_result(classify_diff(src, tgt, key="id"))
    assert res["same"] == 1 and res["update"] == 1 and res["total"] == 2


def test_export_type_modes(spark, docs, tmp_root):
    """T5: bulk _type surgery — add / keep (passthrough) / delete."""
    import json as json_mod
    import os

    from pyspark.sql import functions as F2

    def wire_lines(d):
        out = []
        for fn in sorted(os.listdir(os.path.join(d, "data"))):
            if fn.startswith("part-") and not fn.endswith(".crc"):
                with open(os.path.join(d, "data", fn)) as f:
                    out += [json_mod.loads(ln) for ln in f if ln.strip()]
        return out

    d_add = os.path.join(tmp_root, "exp_add")
    export_index(docs, d_add, "x", key="doc_id", doc_type="page")
    assert {ln["_type"] for ln in wire_lines(d_add)} == {"page"}

    d_del = os.path.join(tmp_root, "exp_del")
    export_index(docs, d_del, "x", key="doc_id", type_mode="delete")
    assert all("_type" not in ln for ln in wire_lines(d_del))
    back, _ = import_index(spark, d_del)  # wire _type absent → still round-trips
    assert diff_result(classify_diff(docs, back, key="doc_id"))["same"] == 7

    d_keep = os.path.join(tmp_root, "exp_keep")
    typed = docs.withColumn(
        "_type", F2.when(F2.col("doc_id") % 2 == 0, "even").otherwise("odd")
    )
    export_index(typed, d_keep, "x", key="doc_id", type_mode="keep")
    assert {ln["_type"] for ln in wire_lines(d_keep)} == {"even", "odd"}
    back2, _ = import_index(spark, d_keep)  # _type is wire metadata
    assert diff_result(classify_diff(docs, back2, key="doc_id"))["same"] == 7


def test_ann_ivf_planted_neighbor(spark):
    """IVF recall: a vector nearly identical to the query must surface
    as the top-1 result through the probe-list path."""
    import numpy as np

    from ela_lib_spark.operators.similarity import ann_topk_ivf

    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 16))
    q = rng.standard_normal(16)
    base[42] = q + rng.standard_normal(16) * 0.01  # planted near-dup
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    got = ann_topk_ivf(df, [float(v) for v in q], k=5, n_lists=8, n_probe=3)
    rows = got.collect()
    assert rows[0].vec_id == 42
    assert rows[0].cosine > 0.99


def test_export_num_files(spark, docs, tmp_root):
    """S14: the size-batched sink worker maps to an explicit file
    fan-out — num_files controls the part-file count."""
    import os

    d = os.path.join(tmp_root, "exp_nf")
    man = export_index(docs, d, "x", key="doc_id", num_files=3)
    assert len(man["files"]) == 3
    back, _ = import_index(spark, d)
    assert back.count() == 7


def test_classify_diff_empty_intersection_raises(spark):
    """ADVICE r2: an empty comparable-column intersection must raise,
    not silently hash each side's own full column set."""
    import pytest

    from ela_lib_spark.errors import SettingsError
    from ela_lib_spark.operators.diff import classify_diff, content_hash

    src = spark.createDataFrame([(1, "a")], "k long, only_src string")
    tgt = spark.createDataFrame([(1, 2.0)], "k long, only_tgt double")
    with pytest.raises(SettingsError, match="no identically-typed"):
        classify_diff(src, tgt, key="k").collect()
    with pytest.raises(SettingsError):
        content_hash(src, "k", cols=[])


def test_ivf_driver_sample_capped_by_bytes(spark):
    """VERDICT r2 #7: at dim=768 the k-means training sample must be
    capped by BYTES, not rows — a byte budget of 8*768*50 B must train
    on exactly the same (floored) sample as an explicit row cap."""
    import numpy as np

    from ela_lib_spark.operators.similarity import ivf_train_centroids

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(768).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    dim, n_lists = 768, 4
    floor = 32 * n_lists  # 128 rows — the train-ability floor
    capped = ivf_train_centroids(
        emb, dim, n_lists=n_lists, sample_n=100_000,
        sample_bytes=8 * dim * 50,  # asks for 50 rows → floored to 128
    )
    explicit = ivf_train_centroids(emb, dim, n_lists=n_lists, sample_n=floor)
    assert capped.shape == (n_lists, dim)
    np.testing.assert_array_equal(capped, explicit)
    # default budget (256 MB) would hold ~43k dim-768 rows — far below
    # the r2 default of 100k rows (~600 MB), the reviewed risk
    assert (256 << 20) // (8 * dim) < 100_000


def test_connected_components_paths_agree(spark):
    """The driver union-find short-circuit (small graphs) and the
    iterative min-label propagation must produce identical labels;
    the cap routes between them. The chain 0-100-101-…-130-5 has
    diameter 32, so the iterative path must run until no label
    changes, not for a fixed number of rounds."""
    from ela_lib_spark.operators.dedup import connected_components

    chain = [0, *range(100, 131), 5]
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 1)]
        + list(zip(chain[:-1], chain[1:])),
        "a long, b long",
    )
    drv = sorted(map(tuple, connected_components(edges).collect()))
    it = sorted(map(tuple, connected_components(
        edges, driver_max_edges=0).collect()))  # force iterative
    over_cap = sorted(map(tuple, connected_components(
        edges, driver_max_edges=3).collect()))  # 38 edges > cap → iterative
    assert drv == it == over_cap
    assert drv == sorted([(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                          (20, 20), (21, 20), (22, 20)]
                         + [(n, 0) for n in chain])



def test_spread_input_runs_no_job(spark, docs, tmp_path):
    """The spread is decided from the plan: asking an AQE-shuffled
    input for its partition count would execute the upstream stages."""
    from ela_lib_spark.session import spread

    docs.write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    with jobs_in(spark) as probe:
        dedup_exact(df).select("doc_id", "text").rdd.getNumPartitions()
    assert probe  # the old decision's cost; also shows the counter sees jobs
    with jobs_in(spark) as jobs:
        out = spread(dedup_exact(df), ["doc_id", "text"])
    assert jobs == []
    # a few rows behind a shuffle: AQE would coalesce them to one task
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5, 6, 7]


def test_signature_udfs_built_once_per_context(spark, monkeypatch):
    """minhash/simhash signatures reuse one pandas UDF per SparkContext
    (building one pickles the kernel and registers a JVM function), and
    build a new one for a different application."""
    from pyspark import SparkContext

    from ela_lib_spark.functions import hashing
    from ela_lib_spark.operators import dedup

    built = []

    def counting(make):
        def fn(*params):
            built.append(make.__name__)
            return make(*params)
        fn.__name__ = make.__name__
        return fn

    monkeypatch.setattr(dedup, "_UDFS", {})
    monkeypatch.setattr(dedup, "make_minhash_udf", counting(hashing.make_minhash_udf))
    monkeypatch.setattr(dedup, "make_simhash_udf", counting(hashing.make_simhash_udf))
    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    for _ in range(2):
        assert dedup.minhash_signatures(df, num_hashes=8).count() == 2
        assert dedup.simhash_signatures(df).count() == 2
    assert sorted(built) == ["make_minhash_udf", "make_simhash_udf"]
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "another-app"))
    dedup.minhash_signatures(df, num_hashes=8)
    dedup.simhash_signatures(df)
    assert len(built) == 4 and len(dedup._UDFS) == 2


def test_dedup_operators_leave_no_session_cache(spark, docs):
    """Every frame a dedup operator pins is either checkpointed (read
    by the lazy result) or persisted and released before it returns,
    so repeated calls on distinct inputs add no CacheManager entry."""
    from ela_lib_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        winnow_overlap_pairs,
    )

    ops = {
        "lsh_candidate_pairs": lambda d: lsh_candidate_pairs(minhash_signatures(d)),
        "simhash_near_dup_pairs": lambda d: simhash_near_dup_pairs(simhash_signatures(d)),
        "winnow_overlap_pairs": winnow_overlap_pairs,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "dedup_minhash_lsh": dedup_minhash_lsh,
    }
    cm = spark._jsparkSession.sharedState().cacheManager()
    # the shared test session may hold other tests' caches
    n_before = cm.numCachedEntries()
    leaked = {}
    for i, (name, op) in enumerate(ops.items()):
        n = cm.numCachedEntries()
        op(docs.filter(F.col("doc_id") != i)).collect()
        leaked[name] = cm.numCachedEntries() - n
    assert leaked == dict.fromkeys(ops, 0)
    assert cm.isEmpty() == (n_before == 0)


def test_near_dup_pass_plans_in_few_py4j_calls(spark, tmp_path):
    """A warm exact + minhash-LSH pass plans its wide expressions as SQL
    text: each Column call costs ~10 py4j round trips under Spark 4, and
    building the band hashes Column by Column sent ~3,500 commands per
    pass. A warm pass sends 365 commands besides proxy releases, which
    py4j_calls leaves out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import py4j_calls

    rng = np.random.default_rng(7)
    texts = [" ".join(f"w{t}" for t in rng.integers(0, 5000, rng.integers(120, 200)))
             for _ in range(450)]
    for j, src in enumerate(rng.choice(450, 50, replace=False).tolist()):
        toks = texts[src].split(" ")
        if j % 2:  # a near copy: one token replaced
            toks[int(rng.integers(1, len(toks) - 1))] = f"edit{j}"
        texts.append(" ".join(toks))
    path = str(tmp_path / "dups.parquet")
    pq.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}), path)
    df = spark.read.parquet(path)

    def one_pass():
        return {r.doc_id for r in dedup_minhash_lsh(dedup_exact(df)).select("doc_id").collect()}

    assert len(one_pass()) == 450  # cold: worker start-up, JIT
    with jobs_in(spark) as jobs, py4j_calls() as sent:
        kept = one_pass()
    assert len(kept) == 450
    assert len(sent) <= 450, collections.Counter(sent).most_common(8)
    assert len(jobs) <= 16


def test_materialized_rowcount_needs_a_full_cache(spark):
    from ela_lib_spark.operators.dedup import _materialized_rowcount

    df = spark.range(0, 1000, 1, 4).persist()
    try:
        df.limit(1).collect()  # builds only part of the cache
        assert _materialized_rowcount(df) == 1000
        with jobs_in(spark) as jobs:  # now fully built: read without a job
            assert _materialized_rowcount(df) == 1000
        assert jobs == []
    finally:
        df.unpersist()


def test_union_find_labels_broadcast_only_under_budget(spark, monkeypatch):
    from ela_lib_spark.operators import dedup

    keys = [f"{'k' * 200}{i:03d}" for i in range(20)]
    edges = spark.createDataFrame([(keys[i], keys[i + 1]) for i in range(0, 20, 2)],
                                  "a string, b string")
    corpus = spark.createDataFrame([(k,) for k in keys], "doc_id string")

    def anti_join_plan():
        comps = dedup.connected_components(edges)
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id"))
        out = corpus.join(losers, "doc_id", "left_anti")
        return out._jdf.queryExecution().executedPlan().toString(), out

    plan, out = anti_join_plan()
    assert "BroadcastHashJoin" in plan
    assert sorted(r.doc_id for r in out.collect()) == keys[0::2]
    # ~8 KB of string labels against a 4 KB budget: shuffle join instead
    monkeypatch.setattr(dedup, "BROADCAST_MAX_BYTES", 4096)
    plan, out = anti_join_plan()
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    assert sorted(r.doc_id for r in out.collect()) == keys[0::2]

def test_png_codec_roundtrip_all_filters():
    """decode_png inverts encode_png across every filter type and
    color type (gray/RGB/RGBA) — each scanline-reconstruction path
    (None/Sub/Up/Average/Paeth) is exercised bit-exactly. The pixels
    come from an arithmetic formula, so the companion driver oracle
    (q_image_decode) independently cross-checks the decoder against
    statistics computed without the codec."""
    from ela_lib_spark.functions.multimodal import (
        _PNG_CHANNELS,
        decode_png,
        encode_png,
        synth_png_pixels,
    )

    for i in range(12):
        ct, px = synth_png_pixels(i)
        for filts in ([0], [1], [2], [3], [4], None):
            w, h, c, out = decode_png(encode_png(px, ct, filts))
            assert (out == px).all()
            assert c == _PNG_CHANNELS[ct]
            assert (h, w * c) == px.shape


def test_png_unsupported_variants_raise_typed():
    import struct as _s
    import zlib as _z

    import pytest as _pt

    from ela_lib_spark.functions.multimodal import (
        PNG_MAGIC,
        UnsupportedMediaError,
        _decode_image_impl,
        decode_png,
    )

    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))

    # palette (color type 3) PNG header → typed error, not a stub
    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
    pal_png = PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with _pt.raises(UnsupportedMediaError):
        decode_png(pal_png)
    # JPEG magic → typed error pointing at the PIL swap-in
    with _pt.raises(UnsupportedMediaError):
        _decode_image_impl(b"\xff\xd8\xff\xe0JFIF\x00")


def test_decode_image_features_matches_formula(spark):
    """End-to-end Spark decode: mapInPandas over real PNG payloads →
    stats equal the pure-formula recomputation (no codec involved)."""
    from ela_lib_spark.functions.multimodal import (
        decode_image_features,
        synth_png_media_df,
        synth_png_pixels,
    )

    got = {
        r.media_id: r
        for r in decode_image_features(synth_png_media_df(spark, 12)).collect()
    }
    assert len(got) == 12
    for i in range(12):
        ct, px = synth_png_pixels(i)
        c = {0: 1, 2: 3, 6: 4}[ct]
        r = got[i]
        assert (r.width, r.height, r.n_channels) == (px.shape[1] // c,
                                                     px.shape[0], c)
        assert abs(r.mean_byte - px.mean()) < 1e-5
