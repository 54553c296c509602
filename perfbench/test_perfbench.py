"""Tests of the benchmark's own helpers.

    python -m pytest perfbench -q

The status-store test starts the same Spark session as tests/conftest.py,
so a root-level pytest run launches the JVM with the suite's settings.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, oracles, stats
from perfbench.tracing import Tracer


# ------------------------------------------------------------ generator


def test_corpus_is_deterministic_per_seed():
    assert gen.corpus(7, 50) == gen.corpus(7, 50)
    assert gen.corpus(7, 50)[1] != gen.corpus(8, 50)[1]


def test_query_stream_is_deterministic_and_cycles_shapes():
    qs = [gen.query(3, i) for i in range(2 * len(gen.SHAPES))]
    assert qs == [gen.query(3, i) for i in range(2 * len(gen.SHAPES))]
    assert [q["shape"] for q in qs] == list(gen.SHAPES) * 2
    assert qs != [gen.query(4, i) for i in range(2 * len(gen.SHAPES))]
    for q in qs:
        assert len(set(q["terms"])) == len(q["terms"])
        assert (q["min_match"] == 2) == (q["shape"] == "msm")


def test_upsert_batches_are_deterministic_and_mix_recrawls_with_new_urls():
    base = [gen.url(5, i) for i in range(100)]
    a = list(gen.upsert_batches(5, base, 3, 20, 0.4))
    assert a == list(gen.upsert_batches(5, base, 3, 20, 0.4))
    for urls, texts in a:
        assert len(urls) == len(set(urls)) == len(texts) == 20
    assert sum(u in base for u in a[0][0]) == 8


def test_dup_corpus_groups_are_exact_or_near_copies():
    texts, groups = gen.dup_corpus(9, 200, 0.1)
    assert (texts, groups) == gen.dup_corpus(9, 200, 0.1)
    assert len(texts) == 200 and len(groups) == 20
    for j, (src, copy) in enumerate(groups):
        a, b = texts[src].split(" "), texts[copy].split(" ")
        assert len(a) == len(b) >= 120
        assert sum(x != y for x, y in zip(a, b)) == (j % 2)


def test_pages_table_holds_the_extraction_invariant(tmp_path):
    urls, texts = gen.corpus(1, 30)
    table = gen.pages_table(urls, texts, 0)
    path = str(tmp_path / "p.parquet")
    assert gen.write_table(table, path) > 0
    assert pq.read_table(path).column("text").to_pylist() == texts
    with pytest.raises(ValueError):
        gen.pages_table(["u"], ["two  spaces"], 0)  # extraction collapses whitespace


# ------------------------------------------------------------ tracing


def test_self_time_subtracts_child_coverage():
    t = Tracer(True)
    with t.span("parent", request="r1"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    parent = next(s for s in t.spans if s["name"] == "parent")
    kids = [s for s in t.spans if s["name"] == "child"]
    assert all(k["parent"] == parent["id"] and k["request"] == "r1" for k in kids)
    covered = sum(k["end"] - k["start"] for k in kids) * 1e3
    dur = (parent["end"] - parent["start"]) * 1e3
    assert t.self_ms()[parent["id"]] == pytest.approx(dur - covered)


def test_covered_merges_overlapping_intervals():
    assert stats.covered([(5, 6), (0, 2), (1, 3), (4, None)]) == 4
    assert stats.covered([]) == 0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


# ------------------------------------------------------------ oracles


def test_same_ranking():
    want = [(3, 2.5), (1, 1.0), (2, 1.0)]
    assert oracles.same_ranking(want, want, exact=True)
    assert not oracles.same_ranking([(3, 2.5), (2, 1.0), (1, 1.0)], want, exact=True)
    assert oracles.same_ranking([(3, 2.5 + 1e-13), (1, 1.0), (2, 1.0)], want, exact=False)
    assert not oracles.same_ranking([(3, 2.5 + 1e-13)], [(3, 2.5)], exact=True)


def test_dedup_ok_needs_one_row_per_group_and_every_single():
    groups = [(0, 3), (1, 4)]
    assert oracles.dedup_ok({0, 1, 2}, 5, groups)
    assert oracles.dedup_ok({3, 1, 2}, 5, groups)
    assert not oracles.dedup_ok({0, 3, 1, 2}, 5, groups)
    assert not oracles.dedup_ok({0, 1}, 5, groups)


def test_match_expected():
    sets = {"a": {"x", "y"}, "b": {"x"}, "c": {"z"}}
    q_and = {"terms": ["x", "y"], "mode": "AND"}
    q_or = {"terms": ["y", "z"], "mode": "OR", "min_match": 2}
    assert oracles.match_expected(sets, q_and) == {"a"}
    assert oracles.match_expected(sets, q_or) == {"a", "c"}
    assert oracles.match_dsl(q_and) == {"bool": {"must": [{"match": {"text": "x"}},
                                                          {"match": {"text": "y"}}]}}


# ------------------------------------------------------- status store


@pytest.fixture(scope="module")
def spark():
    from ela_lib_spark.session import get_spark

    # the JVM a session launches outlives it and later sessions reuse it,
    # so this one must be launched exactly as tests/conftest.py does
    s = get_spark("ela-lib-spark-tests", master="local[8]", shuffle_partitions=8,
                  driver_memory="8g")
    yield s
    s.stop()


def test_status_reader_counts_a_tiny_job(spark, tmp_path):
    from perfbench.status import StatusReader

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [i % 3 for i in range(30)]}), path)
    reader = StatusReader(spark)
    rdds0 = reader.persisted_rdds()
    spark.sparkContext.setJobGroup("pb-test", "tiny")
    rows = spark.read.parquet(path).groupBy("k").count().collect()
    spark.sparkContext._jsc.clearJobGroup()
    assert len(rows) == 3
    reader.flush()
    w = reader.work_by_group()["pb-test"]
    assert w.jobs >= 1 and w.tasks >= 1 and w.stages >= 1
    assert w.input_records == 30
    assert w.shuffle_write_mb > 0 and w.cpu_s > 0
    assert all(lo is not None and hi >= lo for lo, hi in w.intervals)

    cached = spark.range(1000).cache()
    cached.count()
    assert reader.persisted_rdds() == rdds0 + 1
    assert reader.cache_mb() > 0
    cached.unpersist()
