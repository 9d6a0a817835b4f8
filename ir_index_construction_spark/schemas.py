"""Explicit StructType schemas for every engine table (SURVEY.md §1.3).

The reference is schemaless (its index schema exists only as a comment,
/root/reference/indexer.py:15-41); here every dataflow edge is typed.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# North-rule input table (BASELINE.json input_hint).
DOCUMENTS = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

# Output of the fused extract+tokenize pandas UDF: one row per kept doc.
TOKENIZED = StructType([
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),       # extracted full text (invariant col)
    StructField("dl", IntegerType(), False),        # kept-token count
    StructField("terms", ArrayType(StructType([
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
        StructField("imp", IntegerType(), False),
    ])), False),
])

# Positional variant of TOKENIZED (opt-in: BuildConfig.positions).  Each
# term entry additionally carries its 0-based kept-token ordinals — see
# text/normalize.doc_term_positions for the position convention.
TOKENIZED_POS = StructType([
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),
    StructField("dl", IntegerType(), False),
    StructField("terms", ArrayType(StructType([
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
        StructField("imp", IntegerType(), False),
        StructField("pos", ArrayType(IntegerType()), False),
    ])), False),
])

# Positional postings table (opt-in).  One row per (term, doc) with the
# full ascending position list — parquet's list<int32> delta/RLE encoding
# is the compression layer; the layout is term-sorted within files so the
# phrase scan's IN filter prunes row groups exactly like the index table.
POSITIONS_TABLE = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("positions", ArrayType(IntegerType()), False),
])

# Flat postings (intermediate).
POSTINGS = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("tf", IntegerType(), False),
    StructField("imp", IntegerType(), False),
    StructField("dl", IntegerType(), False),
])

DOCS = StructType([
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("doc_len", IntegerType(), False),
])

DICTIONARY = StructType([
    StructField("term", StringType(), False),
    StructField("df", LongType(), False),
    StructField("cf", LongType(), False),
])

# Per-document crawl metadata (doc_id-keyed sidecar of DOCS): the
# dimension table the metadata query family (filtered search, date
# facets, recency decay) serves from — written by the build's tokenize
# stage and each streaming micro-batch in the same transaction as docs,
# purged with them.  ``source`` is the url host (the collapse key).
DOC_META = StructType([
    StructField("doc_id", LongType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
])

STATS = StructType([
    StructField("n_docs", LongType(), False),
    StructField("avgdl", DoubleType(), False),
    StructField("n_terms", LongType(), False),
])

# Compressed document-sharded index. One row per (shard, term, chunk):
# payload = delta+varbyte blocks of (doc_id gaps, tf, dl, imp);
# block_max rows carry per-block (last_doc, max w, max w*(imp/10)) —
# the second bound drives importance-weighted WAND (codec.py header).
INDEX = StructType([
    StructField("shard", LongType(), False),
    StructField("term", StringType(), False),
    StructField("chunk", IntegerType(), False),
    StructField("df_shard", LongType(), False),     # term df within shard
    StructField("n_postings", IntegerType(), False),  # postings in this chunk
    StructField("first_doc", LongType(), False),
    StructField("last_doc", LongType(), False),
    StructField("payload", BinaryType(), False),
    StructField("block_last_doc", ArrayType(LongType()), False),
    StructField("block_max_score", ArrayType(DoubleType()), False),
    StructField("block_max_wscore", ArrayType(DoubleType()), False),
])

# Phase-1 salted posting runs (intermediate, shuffle-compacting).
SALTED_RUNS = StructType([
    StructField("shard", LongType(), False),
    StructField("term", StringType(), False),
    StructField("salt", IntegerType(), False),
    StructField("n", IntegerType(), False),
    StructField("doc_ids", BinaryType(), False),     # int64 little-endian
    StructField("tfs", BinaryType(), False),         # int32
    StructField("dls", BinaryType(), False),         # int32
    StructField("imps", BinaryType(), False),        # int32
])

CHECKPOINTS = StructType([
    StructField("build_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("status", StringType(), False),
    StructField("committed_at", TimestampType(), False),
])

LINEAGE = StructType([
    StructField("build_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("input_snapshot", StringType(), False),
    StructField("rows_in", LongType(), False),
    StructField("rows_out", LongType(), False),
])

METRICS = StructType([
    StructField("build_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("wall_sec", DoubleType(), False),
    StructField("docs_per_sec", DoubleType(), False),
    StructField("postings_per_sec", DoubleType(), False),
    StructField("bytes_compressed", LongType(), False),
])

# Driver-testdata events table (activity-log shape; TIMESTAMP_NTZ
# matches the parquet files' physical type).
EVENTS = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", TimestampNTZType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])

# One row per compressed-index segment (a contiguous claimed shard
# range encoded in one build pass at one avgdl).  Query-side block-max
# bounds are inflated by max(1, avgdl_now/built_avgdl) per segment,
# which keeps pruning lossless as avgdl drifts under incremental
# appends (w = tf(k1+1)/(tf+k1(1-b)+k1*b*dl/a) grows with a but never
# faster than proportionally, so the ratio is a valid bound factor).
INDEX_SEGMENTS = StructType([
    StructField("segment_id", StringType(), False),
    StructField("min_shard", LongType(), False),
    StructField("max_shard", LongType(), False),
    StructField("built_avgdl", DoubleType(), False),
    StructField("n_docs", LongType(), False),
    StructField("committed_at", TimestampType(), False),
])

TOMBSTONES = StructType([
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("requested_at", TimestampType(), False),
    StructField("reason", StringType(), True),
])

# Streaming micro-batch ledger: one row per committed (stream, batch).
# Written in the SAME transaction as the batch's postings/docs appends,
# so "batch committed" and "batch data visible" are one atomic fact —
# foreachBatch replays after a crash check it and no-op.
STREAM_COMMITS = StructType([
    StructField("stream_id", StringType(), False),
    StructField("batch_id", LongType(), False),
    StructField("n_docs", LongType(), False),
    StructField("committed_at", TimestampType(), False),
])

TOPK = StructType([
    StructField("rank", IntegerType(), False),
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("score", DoubleType(), False),
])

# Result of plans/query.phrase_topk_indexed: TOPK + the phrase's
# occurrence count in the doc.
PHRASE_TOPK = StructType([
    StructField("rank", IntegerType(), False),
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("ptf", LongType(), False),
    StructField("score", DoubleType(), False),
])
