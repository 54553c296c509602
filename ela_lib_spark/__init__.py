"""ela_lib_spark — a PySpark-native full-text indexing + retrieval engine.

Re-expresses the capabilities of the reference (CharellKing/ela-lib, an
Elasticsearch migration library / dual-write gateway) Spark-first, and
internalizes the search engine the reference delegates to Lucene:

- SPIMI posting-list construction over partitioned scans
  (reference scan surface: pkg/es/es5.go:106-163 sliced scroll)
- term-partitioned merge with deterministic doc-range salting for
  head-term skew
- delta+varint / PForDelta block compression with per-block max-score
  metadata
- block-max WAND top-k BM25 (k1=1.2, b=0.75), rank-identical to a
  brute-force reference scorer
- migration-surface parity: sync / compare / sync_diff / export / import
  (reference: service/task/migrator.go)
- training-data pipeline operators: dedup (exact/minhash/simhash/jaccard),
  similarity search, text analysis, multimodal plumbing

Everything is DataFrame-first; per-row compute is vectorized Arrow/pandas
UDFs; no per-row Python in hot paths.
"""

from ela_lib_spark.worker_imports import pin_zip_importers

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75

pin_zip_importers()
