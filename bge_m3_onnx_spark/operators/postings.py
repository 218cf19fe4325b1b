"""Posting-list construction — the SPIMI map phase, Spark-first.

The reference computes one document's postings at a time: per-token weight →
special-token filter → positive filter → group-by-token MAX dedupe
(/root/reference/samples/python/bge_m3_embedder.py:133-143, the "core reference
semantic" per SURVEY.md §2.4 A2). We transpose that to the distributed relation
``(term, doc_id, tf)`` with plain DataFrame ops so Catalyst gives us map-side
partial aggregation (the SPIMI in-memory inverter) and AQE handles residual skew.

Scale notes (10^12 turns):
* tokenize+explode+groupBy is one shuffle, keyed by (term, doc_id) — high cardinality,
  well-spread; the *hot-term* skew only appears in per-term aggregations (df) and in
  block assembly, both of which are handled without ever grouping a whole term on one
  task (see salted df below and operators/compress.py's range-bucketed blocks).
* doc length (dl) is computed from the token array BEFORE exploding — no second pass
  over postings, no extra shuffle on the fat relation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bge_m3_onnx_spark.functions.tokenizer import (
    term_counts_arrow_kernel,
    token_array_arrow_kernel,
    token_count_arrow_kernel,
)
from bge_m3_onnx_spark.sources.transcripts import doc_id_col

# Output schemas of the mapInArrow kernels — nullability is exactly that of the
# pandas-UDF relations the kernels replaced (schema parity is part of the
# driver's correctness gate).
TOKENIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("terms", ArrayType(StringType(), True), True),
        StructField("dl", IntegerType(), True),
    ]
)

COUNTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField(
            "term_tfs",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType(), False),
                        StructField("tf", IntegerType(), False),
                    ]
                ),
                True,
            ),
            True,
        ),
        StructField("dl", IntegerType(), True),
    ]
)

DOC_LEN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("dl", IntegerType(), True),
    ]
)


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float


def tokenized_docs(transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, terms: array<string>, dl: int) — one Arrow kernel pass over text
    (ASCII rows never touch Python), terms in token order.

    Column pruning: only (conv_id, turn_idx, text) are read; at query time nothing
    rereads text at all.
    """
    kern = token_array_arrow_kernel(cfg.max_tokens, cfg.special_terms)
    return transcripts.select(
        doc_id_col().alias("doc_id"), F.col("text")
    ).mapInArrow(kern, TOKENIZED_SCHEMA)


def counted_docs(transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, term_tfs: array<struct<term,tf>>, dl) — SPIMI in-mapper combining:
    the per-document term counting (reference dedupe semantics A2) happens inside
    the Arrow kernel, so postings derive by a PURE explode with no aggregation
    shuffle. dl = Σtf = token count before dedupe.

    r6: mapInArrow instead of a pandas UDF — the UDF serializer's per-element
    conversion of the returned list-of-tuples column dominated the stage
    (guide §4.2); only (doc_id, text) cross the boundary, and the kernel
    assembles the list<struct> output column directly from numpy offsets."""
    kern = term_counts_arrow_kernel(cfg.max_tokens, cfg.special_terms)
    return transcripts.select(
        doc_id_col().alias("doc_id"), F.col("text")
    ).mapInArrow(kern, COUNTED_SCHEMA)


def doc_len_docs(transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, dl) via the count-only kernel — the LIGHT statistics twin of
    :func:`counted_docs` (identical dl for every input; tests pin it). Use it
    for jobs that need only per-doc counts (ordinal bucket counts, Σdl,
    corpus stats): 4 bytes cross the Arrow boundary per doc instead of the
    full (term, tf) struct array (guide §4.1: pass only what the job needs).
    ASCII rows never touch Python at all (C++ regex count — guide §4.2)."""
    kern = token_count_arrow_kernel(cfg.max_tokens, cfg.special_terms)
    return transcripts.select(
        doc_id_col().alias("doc_id"), F.col("text")
    ).mapInArrow(kern, DOC_LEN_SCHEMA)


def postings_from_counted(counted: DataFrame) -> DataFrame:
    """counted docs → (term, doc_id, tf, dl[, doc_ord]) via explode — shuffle-free."""
    carry = ["dl"] + (["doc_ord"] if "doc_ord" in counted.columns else [])
    return counted.select(
        "doc_id", *carry, F.explode("term_tfs").alias("tt")
    ).select(
        F.col("tt.term").alias("term"),
        "doc_id",
        F.col("tt.tf").alias("tf"),
        *carry,
    )


def build_postings(tokenized: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl[, doc_ord]) — the uncompressed inverted-index relation.

    groupBy(term, doc_id) is the distributed analog of the reference's per-document
    dict-merge dedupe (bge_m3_embedder.py:140-143): repeated tokens in a turn become
    tf (count); zero-tf postings cannot exist (P4). dl (and doc_ord, when present)
    ride along via max() — both are functionally dependent on doc_id, so this adds no
    real aggregation work but saves a doc-stats join at query time (denormalized
    exactly for that reason).
    """
    carry = ["dl"] + (["doc_ord"] if "doc_ord" in tokenized.columns else [])
    aggs = [F.count("*").cast("int").alias("tf")] + [F.max(c).alias(c) for c in carry]
    return (
        tokenized.select("doc_id", *carry, F.explode("terms").alias("term"))
        .groupBy("term", "doc_id")
        .agg(*aggs)
    )


def doc_stats(tokenized: DataFrame) -> DataFrame:
    """(doc_id, dl[, doc_ord]) — from the token arrays, not the exploded relation."""
    cols = ["doc_id", "dl"] + (["doc_ord"] if "doc_ord" in tokenized.columns else [])
    return tokenized.select(*cols)


def corpus_stats(tokenized: DataFrame) -> CorpusStats:
    row = tokenized.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))


def term_stats(postings: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(term, df) — document frequency per term, with EXPLICIT salted
    skew-splitting (north rule: "term-partitioned shuffle with salted
    skew-splitting for hot terms").

    Two-phase aggregation: phase 1 groups by (term, salt) where
    salt = pmod(xxhash64(doc_id), S) — a stopword term with 5·10^11 postings
    lands on S independent reducers instead of one; phase 2 sums the S partial
    rows per term. Catalyst's map-side partial aggregation already bounds the
    damage for plain counts, but the explicit salt makes the skew-split hold for
    ANY per-term aggregate (and with AQE off). Cost for cold terms: one extra
    S-row-per-term pass over a tiny relation.
    """
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(cfg.hot_term_salts)).alias("salt")
    partial = postings.groupBy("term", salt).agg(F.count("*").alias("pdf"))
    return partial.groupBy("term").agg(F.sum("pdf").alias("df"))
