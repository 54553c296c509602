from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ela_lib_spark.session import get_spark  # noqa: E402

@contextmanager
def py4j_calls():
    """Collects the py4j commands the block sends to the JVM (one
    entry per round trip, the command's first line: `c` a method call,
    `r` a reflection lookup, …). Proxy releases (`m`) are left out:
    py4j's finalizer thread sends them when it wakes, for garbage of
    any earlier call, so they do not measure the block."""
    from py4j.clientserver import ClientServerConnection

    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        head = command.split("\n", 1)[0]
        if head != "m":
            sent.append(head)
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        ClientServerConnection.send_command = send


@contextmanager
def jobs_in(spark):
    """Collects the ids of the Spark jobs the block runs."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


N_TEST_DOCS = 1500
N_BUCKETS = 8
N_SHARDS = 4


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ela-lib-spark-tests", master="local[8]", shuffle_partitions=8,
                  driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root():
    d = tempfile.mkdtemp(prefix="ela_lib_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def pages_path(spark, tmp_root):
    from ela_lib_spark.sources.synth import write_web_pages

    p = os.path.join(tmp_root, "web_pages")
    write_web_pages(spark, N_TEST_DOCS, p, num_partitions=4)
    return p


@pytest.fixture(scope="session")
def index_dir(spark, tmp_root, pages_path):
    from ela_lib_spark.index.build import build_index

    out = os.path.join(tmp_root, "index")
    pages = spark.read.parquet(pages_path)
    build_index(spark, pages, out, n_buckets=N_BUCKETS, n_shards=N_SHARDS,
                use_html=True)
    return out


@pytest.fixture(scope="session")
def index(spark, index_dir):
    from ela_lib_spark.index.build import load_index

    idx = load_index(spark, index_dir)
    idx["postings"] = idx["postings"].cache()
    idx["postings"].count()
    return idx


@pytest.fixture(scope="session")
def corpus_tokens(spark, index, pages_path):
    """{doc_id: tokens} ground truth, via the same JVM tokenizer +
    doc-id assignment used by the build."""
    from ela_lib_spark.index.build import pages_with_tokens, with_doc_ids

    pages = spark.read.parquet(pages_path)
    rows = (
        with_doc_ids(pages_with_tokens(pages, use_html=True), N_BUCKETS)
        .select("doc_id", "tokens")
        .collect()
    )
    return {r.doc_id: list(r.tokens) for r in rows}
