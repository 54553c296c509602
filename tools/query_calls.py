"""Count what it costs the driver to plan one search query: per server
(WAND, flat BM25, DSL match), the median py4j commands sent while
planning (not proxy releases: py4j's finalizer thread sends those for
any earlier garbage), plan ms and exec ms over a seeded query stream,
served as perfbench's `search_mix` serves it (1,500 html docs, 8
buckets, 2 shards, a pinned index, k = 10). py4j commands do not
depend on host speed; compare ms only within one session. Run it with
the tree under test as the working directory:
    python tools/query_calls.py [--seed 1] [--queries 21]
"""

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from conftest import py4j_calls  # noqa: E402

from ela_lib_spark.index.build import build_index, ids_with_tokens, load_index  # noqa: E402
from ela_lib_spark.plans.dsl import dsl_filter  # noqa: E402
from ela_lib_spark.query.bm25 import bm25_topk_flat, prepare_flat  # noqa: E402
from ela_lib_spark.query.wand import prepare_serving, wand_topk  # noqa: E402
from ela_lib_spark.session import get_spark  # noqa: E402
from perfbench import gen, oracles  # noqa: E402


def servers(spark, work: str, seed: int) -> dict:
    pages_path = os.path.join(work, "pages.parquet")
    gen.write_table(gen.pages_table(*gen.corpus(seed, 1500), 0), pages_path)
    pages = spark.read.parquet(pages_path)
    build_index(spark, pages, os.path.join(work, "idx"), n_buckets=8, n_shards=2,
                use_html=True)
    idx = prepare_serving(load_index(spark, os.path.join(work, "idx")))
    flat = prepare_flat(ids_with_tokens(pages, 8).select("doc_id", "tokens"))
    return {
        "wand": lambda q: wand_topk(idx, q["terms"], q["mode"], 10, min_match=q["min_match"]),
        "flat": lambda q: bm25_topk_flat(flat["postings"], None, flat["n_docs"], flat["avg_dl"],
                                         q["terms"], q["mode"], 10, min_match=q["min_match"]),
        "match": lambda q: dsl_filter(pages, oracles.match_dsl(q), key_col="url"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--queries", type=int, default=21, help="timed queries per server")
    args = ap.parse_args()
    spark = get_spark("query_calls", master="local[4]", driver_memory="3g")
    with tempfile.TemporaryDirectory(prefix="query_calls_") as work:
        try:
            plan = servers(spark, work, args.seed)
            stats = {s: {"py4j_plan": [], "plan_ms": [], "exec_ms": []} for s in plan}
            for i in range(-7, args.queries):  # 7 untimed warm-up queries, one per shape
                q = gen.query(args.seed, i + 1_000_000 if i < 0 else i)
                for server, fn in plan.items():
                    t0 = time.perf_counter()
                    with py4j_calls() as sent:
                        df = fn(q)
                    t1 = time.perf_counter()
                    df.collect()
                    if i >= 0:
                        st = stats[server]
                        st["py4j_plan"].append(len(sent))
                        st["plan_ms"].append((t1 - t0) * 1e3)
                        st["exec_ms"].append((time.perf_counter() - t1) * 1e3)
        finally:
            spark.stop()
    for server, st in stats.items():
        print(json.dumps({"server": server, **{
            k: round(statistics.median(v), 1) for k, v in st.items()}}), flush=True)


if __name__ == "__main__":
    main()
