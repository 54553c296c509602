"""Measurement-only scaled testdata generator (NOT driver data).

The driver's round-end bench may run at a larger, driver-generated
scale factor (r5 used sf1.0 = 10x sf0.1), but those tables do not
survive sandbox resets. This tool builds a statistically similar
10x dataset under /tmp for interleaved A/B measurement ONLY — the
frozen bench and the oracle checks never read it.

documents: fresh docs sampled from sf0.1's empirical vocabulary and
length distribution (seeded), plus ~5% near-duplicates (copy of an
earlier doc with a few token edits) so the dedup operators see a
realistic sparse near-dup structure.
orders/events/lineitem/customer: sf0.1 tiled K times with key offsets
that preserve the entry queries' modular/filter structure.

Usage: python tools/make_sfbig.py [out_dir] [K]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def scaled_documents(out_dir: str, k: int, rng: np.random.Generator) -> None:
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    df = t.to_pandas()
    words = []
    for s in df["text"]:
        words.extend(s.split(" "))
    vocab, counts = np.unique(np.array(words), return_counts=True)
    probs = counts / counts.sum()
    lens = df["text"].str.split(" ").str.len().to_numpy()
    langs = df["lang"].to_numpy()
    n = len(df) * k
    texts: list[str] = []
    near_dup = rng.random(n) < 0.05
    for i in range(n):
        if near_dup[i] and texts:
            base = texts[rng.integers(0, len(texts))].split(" ")
            for _ in range(max(1, len(base) // 30)):
                base[rng.integers(0, len(base))] = str(
                    vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(base))
        else:
            ln = int(lens[rng.integers(0, len(lens))])
            texts.append(" ".join(rng.choice(vocab, size=ln, p=probs)))
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i % len(langs)] for i in range(n)], pa.string()),
        "source": pa.array([f"src{i % 64}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))


def tiled(name: str, key_cols: dict[str, int], out_dir: str, k: int) -> None:
    t = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    parts = []
    for i in range(k):
        cols = {}
        for c in t.column_names:
            arr = t[c]
            if c in key_cols and i > 0:
                cols[c] = pc.add(arr, i * key_cols[c])
            else:
                cols[c] = arr
        parts.append(pa.table(cols))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(7)
    scaled_documents(out_dir, k, rng)
    # offsets keep %7/%5/%3 classes roughly balanced (10_500_000 ≡ 0 mod 105)
    tiled("orders", {"o_orderkey": 10_500_000, "o_custkey": 0}, out_dir, k)
    tiled("events", {"event_id": 10_000_000}, out_dir, k)
    tiled("lineitem", {"l_orderkey": 10_500_000}, out_dir, k)
    for small in ("customer", "nation", "region", "supplier", "part",
                  "embeddings"):
        t = pq.read_table(os.path.join(SRC, f"{small}.parquet"))
        pq.write_table(t, os.path.join(out_dir, f"{small}.parquet"))
    print(f"wrote {out_dir} at {k}x sf0.1")


if __name__ == "__main__":
    main()
