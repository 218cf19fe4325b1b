"""BM25F — field-weighted BM25 over multi-field documents.

The input shape (BASELINE.json input_hint) gives every turn two textual fields:
``text`` (the turn body) and ``tool`` (the tool name, when the turn is a tool
call). A search user expects a hit in the tool field to rank differently from a
hit in prose — Lucene/Elasticsearch model this as BM25F (Robertson & Zaragoza,
"The Probabilistic Relevance Framework: BM25 and Beyond", §6): per-field term
frequencies are length-normalized per field, weighted, and SUMMED into a single
pseudo-frequency before the k1 saturation, so the saturation is per-(term, doc),
not per-field:

    tf̃(t,d)  = Σ_f  w_f · tf_f(t,d) / B_f(d)
    B_f(d)   = (1 − b) + b · dl_f(d) / avgdl_f
    score(q,d) = Σ_{t∈q}  idf(t) · tf̃ · (k1 + 1) / (k1 + tf̃)

idf uses document-level df (term present in ANY field), same Lucene/ATIRE form
as operators/bm25.py. w/k1/b and the saturation shape mirror the single-field
scorer so BM25F with one field at weight 1.0 degenerates to exactly BM25 (a
test asserts this).

Scale shape (10^12 turns):
* field tokenization reuses the SPIMI counting kernel (functions/tokenizer.py
  term_counts_udf) — one Arrow pass per field, postings derive by pure explode,
  NO aggregation shuffle on the fat relation.
* per-field stats (avgdl_f) are a |fields|-row aggregate; document-level df is
  one (term, doc) dedupe + per-term count — the same two-phase shape as the
  single-field term_df (salted variant applies unchanged if a field has hot
  terms).
* query-time: the (query_id, term, idf) relation is broadcast; per-field
  pseudo-frequency summing and the final per-doc score are two hash aggregates
  over the candidate set only (bounded by the pushed ``term IN`` scan).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.tokenizer import term_counts_udf
from bge_m3_onnx_spark.operators.bm25 import idf_col
from bge_m3_onnx_spark.sources.transcripts import doc_id_col

DEFAULT_FIELD_WEIGHTS = {"text": 1.0, "tool": 2.0}


def fielded_counted(
    transcripts: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    fields: tuple[str, ...] = ("text", "tool"),
) -> DataFrame:
    """(doc_id, field, term_tfs: array<struct<term,tf>>, dl) — one SPIMI-counted
    row per (doc, field); dl=0 when the field is null/empty (such rows carry no
    terms and only feed the docs-with-field denominator in :func:`field_stats`)."""
    tok = term_counts_udf(cfg.max_tokens, cfg.special_terms)
    parts = [
        transcripts.select(
            doc_id_col().alias("doc_id"),
            F.lit(fld).alias("field"),
            tok(F.col(fld)).alias("term_tfs"),
        ).withColumn(
            "dl",
            F.aggregate("term_tfs", F.lit(0), lambda acc, x: acc + x["tf"]).cast("int"),
        )
        for fld in fields
    ]
    return reduce(DataFrame.unionByName, parts)


def fielded_postings(fcounted: DataFrame) -> DataFrame:
    """(term, doc_id, field, tf, dl) by pure explode — shuffle-free, unique per
    (term, doc_id, field) because counting happened in-kernel."""
    return fcounted.select("doc_id", "field", "dl", F.explode("term_tfs").alias("tt")).select(
        F.col("tt.term").alias("term"), "doc_id", "field", F.col("tt.tf").alias("tf"), "dl"
    )


def field_stats(fcounted: DataFrame) -> dict[str, float]:
    """{field: avgdl_f} — a |fields|-row aggregate, collected once at build time
    (same driver-scalar discipline as n_docs/avgdl in plans/build_index.py).

    avgdl_f averages over docs that HAVE the field (dl > 0), per Lucene's
    per-field norms (sumTotalTermFreq / docCount-with-field): averaging over all
    docs would over-normalize sparse fields — a field present in 1/3 of docs
    would get avgdl ≈ dl/3, inflating every B_f by ~3× and *penalizing* exactly
    the field hits the weight is meant to boost."""
    rows = (
        fcounted.filter(F.col("dl") > 0)
        .groupBy("field")
        .agg(F.avg("dl").alias("avgdl"))
        .collect()
    )
    return {r["field"]: float(r["avgdl"]) for r in rows}


def doc_level_df(fpostings: DataFrame) -> DataFrame:
    """(term, df) with df = docs containing the term in ANY field."""
    return (
        fpostings.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def _field_norm(avgdl_by_field: dict[str, float], cfg: EngineConfig) -> Column:
    """B_f(d) as a CASE over the field column; avgdl_f == 0 (field empty across
    the corpus) degrades to B_f = 1 (no length normalization)."""
    expr = None
    for fld, avgdl in avgdl_by_field.items():
        norm = (
            F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("dl").cast("double") / F.lit(avgdl)
            if avgdl > 0.0
            else F.lit(1.0)
        )
        expr = F.when(F.col("field") == fld, norm) if expr is None else expr.when(
            F.col("field") == fld, norm
        )
    return expr


def _field_weight(field_weights: dict[str, float]) -> Column:
    expr = None
    for fld, w in field_weights.items():
        expr = F.when(F.col("field") == fld, F.lit(float(w))) if expr is None else expr.when(
            F.col("field") == fld, F.lit(float(w))
        )
    return expr


def score_bm25f(
    fpostings: DataFrame,
    query_terms: DataFrame,
    n_docs: int,
    avgdl_by_field: dict[str, float],
    field_weights: dict[str, float] | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(query_id, doc_id, score). ``query_terms`` = (query_id, term, df) — tiny,
    broadcast. Two hash aggregates over the candidate set: per-(query, term, doc)
    pseudo-frequency sum across fields, then per-(query, doc) saturated-idf sum."""
    fw = field_weights or DEFAULT_FIELD_WEIGHTS
    qt = query_terms.selectExpr(
        "query_id", "term", f"{idf_col('CAST(df AS DOUBLE)', n_docs)} AS idf"
    )
    matched = fpostings.join(F.broadcast(qt), "term")
    contrib = matched.select(
        "query_id",
        "term",
        "doc_id",
        "field",
        "idf",
        (_field_weight(fw) * F.col("tf").cast("double") / _field_norm(avgdl_by_field, cfg)).alias(
            "wtf"
        ),
    )
    # both summations use the sorted-fold discipline of
    # operators/bm25.py:sum_scores_deterministic — scores must not vary with
    # partition arrival order or a tie at the top-k boundary becomes unstable
    per_term = contrib.groupBy("query_id", "term", "doc_id").agg(
        F.array_sort(F.collect_list(F.struct("field", "wtf"))).alias("cs"),
        F.max("idf").alias("idf"),
    ).select(
        "query_id",
        "term",
        "doc_id",
        "idf",
        F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["wtf"]).alias("tfw"),
    )
    sat = F.col("idf") * F.col("tfw") * (cfg.k1 + 1.0) / (F.lit(cfg.k1) + F.col("tfw"))
    from bge_m3_onnx_spark.operators.bm25 import sum_scores_deterministic

    return sum_scores_deterministic(
        per_term.select("query_id", "doc_id", "term", sat.alias("s")),
        ["query_id", "doc_id"],
    )
