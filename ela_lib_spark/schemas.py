"""Fixed declared schemas (SURVEY.md §1.2).

The reference is schemaless (`map[string]interface{}` docs —
/root/reference/pkg/es/es0.go:41-47); our engine inverts that: fixed
columnar schemas, Arrow batches throughout.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input (authoritative shape: BASELINE.json input_hint).
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# docid dictionary + per-doc lengths (Lucene's norms/FieldInvertState analog).
DOC_STATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
)

# The build's one materialized intermediate: doc dictionary + int64
# term-id stream per doc (term_id = xxhash64(term), computed JVM-side).
# doc_stats is a pruned column read of this table.
DOC_TERMS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_len", T.LongType(), False),
        T.StructField("term_ids", T.ArrayType(T.LongType()), False),
    ]
)

# SPIMI per-partition posting chunk (stage 1 output), written and read
# only through index/codecs.encode_chunks/decode_chunks. doc_ids within
# a chunk are strictly increasing; chunks of one (term, shard) group
# may cover interleaved doc ranges (see index/build.chunks_from_docs).
POSTING_CHUNKS = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),  # varint deltas
        T.StructField("tfs", T.BinaryType(), False),  # varint
        T.StructField("dls", T.BinaryType(), False),  # varint doc lengths
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
    ]
)

# Final inverted index: one row per (term, shard, block). Blocks hold up
# to BLOCK_SIZE postings, delta+varint (or PForDelta) encoded, with the
# BM25 upper-bound impact for block-max WAND.
POSTINGS = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("doc_ids_delta", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        # max over block of tf/(tf + k1*(1-b+b*dl/avgdl)); score bound =
        # idf * (k1+1) * block_max_impact. idf needs df, which is not
        # stored: a term's df is the sum of n_docs over its blocks in
        # every postings dir, read per query (query/wand.term_lookup).
        T.StructField("block_max_impact", T.DoubleType(), False),
    ]
)

BLOCK_SIZE = 128
