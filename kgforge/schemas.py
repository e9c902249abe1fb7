"""Spark schemas for every stage boundary (checkpointable contracts)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

SENTENCES = StructType([
    StructField("url", StringType(), False),
    StructField("sent_idx", IntegerType(), False),
    StructField("sent_begin", IntegerType(), False),   # char offset into page text
    StructField("sentence", StringType(), False),
    StructField("n_tok", IntegerType(), False),
    StructField("bucket", IntegerType(), False),       # ceil(log2(n_tok+1))
])

ENTITY = StructType([
    StructField("word", StringType(), False),
    StructField("label", StringType(), False),          # PER | ORG | LOC | MISC
    StructField("score", DoubleType(), False),
    StructField("begin", IntegerType(), False),         # char offsets, sentence-local
    StructField("end", IntegerType(), False),
])

# The fused NER/NLI output (stages 2b-4): every entity carries its
# normalized surface and dictionary id (null: unresolved). A kept
# candidate carries only what stage 5 reads: its predicate, its two
# argument words and ids (an unresolved argument's id is its surface node,
# "s:" + norm) and its score.
NER_SCORED = StructType(SENTENCES.fields[:4] + [
    StructField("entities", ArrayType(StructType(ENTITY.fields + [
        StructField("norm", StringType(), False),
        StructField("entity_id", StringType(), True),
    ])), False),
    StructField("cands", ArrayType(StructType([
        StructField("pred", StringType(), False),
        StructField("subj_word", StringType(), False),
        StructField("obj_word", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("subj_id", StringType(), False),
        StructField("obj_id", StringType(), False),
    ])), False),
])

MENTIONS = StructType([
    StructField("url", StringType(), False),
    StructField("sent_idx", IntegerType(), False),
    StructField("sentence", StringType(), False),
    StructField("word", StringType(), False),
    StructField("label", StringType(), False),
    StructField("begin", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("norm", StringType(), False),
])

RESOLVED = StructType(MENTIONS.fields + [
    StructField("entity_id", StringType(), True),       # null => unresolved
])

TRIPLES = StructType([
    StructField("url", StringType(), False),
    StructField("sent_idx", IntegerType(), False),
    StructField("subj_id", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj_id", StringType(), False),
    StructField("subj_word", StringType(), False),
    StructField("obj_word", StringType(), False),
    StructField("score", DoubleType(), False),
])

ALIAS_DICT = StructType([
    StructField("alias", StringType(), False),
    StructField("entity_id", StringType(), False),
    StructField("canonical_name", StringType(), False),
    StructField("desc", StringType(), False),
    StructField("prior", DoubleType(), False),
])

GOLD_TRIPLES = StructType([
    StructField("subj_id", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj_id", StringType(), False),
    StructField("url", StringType(), False),
])
