"""Zip-importer pinning in Spark Python workers (worker_imports.py).

Probe functions are defined inside the tests so they pickle by value:
the test module itself is not importable on the workers. Probes run as
`mapInPandas`, so they share the SQL Python worker pool with the
engine's UDFs (RDD tasks get a pool of their own).
"""

import importlib
import os
import pickle
import subprocess
import sys
import uuid
import zipfile
import zipimport

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ela_lib_spark.worker_imports import pin_zip_importers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_kernels():
    from ela_lib_spark.functions import analysis, hashing, text
    from ela_lib_spark.index import build
    from ela_lib_spark.operators import similarity
    from ela_lib_spark.query import wand
    from ela_lib_spark.streaming import incremental, stateful

    return {
        "minhash": hashing.make_minhash_udf(4).func,
        "simhash": hashing.make_simhash_udf().func,
        "extract_text": text.extract_text.func,
        "tokenize": text.tokenize.func,
        "detect_lang": analysis.detect_lang.func,
        "winnow": analysis.make_winnow_udf().func,
        "srp_bucket": similarity._srp_bucket_udf(np.ones((4, 3))).func,
        "spimi": build._spimi_fn(),
        "merge": build._merge_stream_fn(10.0, "pfor"),
        "wand_shard": wand._shard_topk_fn(["a"], "OR", 10, 100, 10.0, "pfor",
                                          {1: 3}),
        "wand_cogroup": wand._shard_topk_cogroup_fn(["a"], "OR", 10, 100, 10.0,
                                                    "pfor", {1: 3}, 1.0, None),
        "chunk_gc": incremental._chunk_gc_fn(np.zeros(0, np.int64), {}),
        "chunk_gc_cogroup": incremental._chunk_gc_cogroup_fn({}),
        "bloom_dedup": stateful._bloom_fn(4),
        "state_dedup": stateful._dedup_fn,
    }


def test_unpickling_engine_kernels_imports_the_engine():
    """The pin runs when a worker first imports the engine, so every
    kernel must reference an engine module that unpickling imports."""
    blobs = pickle.dumps([(n, cloudpickle.dumps(f)) for n, f in _engine_kernels().items()])
    code = (
        "import pickle, sys\n"
        "for name, blob in pickle.loads(sys.stdin.buffer.read()):\n"
        "    for m in [m for m in sys.modules if m.startswith('ela_lib_spark')]:\n"
        "        del sys.modules[m]\n"
        "    pickle.loads(blob)\n"
        "    print(name, 'ela_lib_spark' in sys.modules)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", code], input=blobs, env=env,
                         capture_output=True, check=True, cwd="/").stdout.decode()
    got = dict(line.split() for line in out.splitlines())
    assert got == {n: "True" for n in _engine_kernels()}


def _run_engine_udf(spark):
    from ela_lib_spark.functions.hashing import make_minhash_udf

    df = spark.createDataFrame([([1, 2, 3],), ([4, 5],)], "sh array<long>")
    df.select(make_minhash_udf(4)(F.col("sh"))).collect()


def test_later_tasks_see_pinned_importers(spark):
    _run_engine_udf(spark)

    def state(batches):
        """One row per task: had an earlier task of this worker imported
        the engine, which archives still have plain zipimporters, and
        what `importlib.invalidate_caches()` costs now."""
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        loaded = "ela_lib_spark" in sys.modules
        if loaded:  # a package directory first imported after the pin
            import pyspark.streaming  # noqa: F401
        plain = sorted({os.path.basename(f.archive)
                        for f in sys.path_importer_cache.values()
                        if type(f) is zipimport.zipimporter})
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        import ela_lib_spark  # noqa: F401 — pins this worker for its later tasks
        yield pd.DataFrame({"loaded": [loaded], "plain": [",".join(plain)], "ms": [ms]})

    probe = spark.range(0, 16, 1, 16).mapInPandas(state, "loaded boolean, plain string, ms double")
    rows = []
    for _ in range(5):  # idle workers are handed out in turn; cycle until reused ones show
        rows += probe.collect()
        if any(r.loaded for r in rows):
            break
    reused = [r for r in rows if r.loaded]
    assert reused, "no task ran in a worker that had imported the engine"
    for r in reused:
        archives = r.plain.split(",")
        assert not [a for a in archives if a == "pyspark.zip" or a.startswith("spark-core")], r
    # ~230 ms per task before pinning (CPython 3.11, Spark 4.1)
    assert min(r.ms for r in reused) < 5.0


def test_zip_added_after_pin_is_importable(spark, tmp_path):
    _run_engine_udf(spark)
    name = f"ela_late_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(batches):
        import importlib

        for pdf in batches:
            yield pdf.assign(v=importlib.import_module(name).VALUE)

    got = spark.range(0, 8, 1, 8).mapInPandas(probe, "id long, v long").collect()
    assert sorted(r.v for r in got) == [7] * 8


def test_pin_is_noop_on_driver(tmp_path):
    name = f"ela_drv_{uuid.uuid4().hex[:12]}"
    path = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 1\n")
    sys.path.insert(0, path)
    try:
        importlib.import_module(name)
        before = {k: type(v) for k, v in sys.path_importer_cache.items()}
        hooks = list(sys.path_hooks)
        assert before[path] is zipimport.zipimporter
        pin_zip_importers()
        assert {k: type(v) for k, v in sys.path_importer_cache.items()} == before
        assert sys.path_hooks == hooks
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        sys.modules.pop(name, None)


def test_shipped_package_zip_is_per_process():
    """Each engine process ships a zip of its own. With one shared path a
    second process rewrites the first one's zip under Spark, which then
    fails the first one's tasks ("exists and does not match contents")."""
    from types import SimpleNamespace

    from ela_lib_spark import session

    added = []
    spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=added.append))
    session._ship_package(spark)
    session._ship_package(spark)  # a repeated get_spark in one process
    code = ("import sys, types\n"
            "sys.path.insert(0, sys.argv[1])\n"
            "from ela_lib_spark import session\n"
            "ctx = types.SimpleNamespace(addPyFile=print)\n"
            "session._ship_package(types.SimpleNamespace(sparkContext=ctx))\n")
    other = subprocess.run([sys.executable, "-c", code, REPO], capture_output=True,
                           text=True, check=True, timeout=300).stdout.strip()
    assert added[0] == added[1] != other
    with zipfile.ZipFile(added[0]) as z:
        assert "ela_lib_spark/session.py" in z.namelist()
