"""Query plan: query strings → top-k (query_id, rank, doc_id, score).

Exact path (milestone 1): broadcast the (tiny) query-term table against the postings
relation, BM25-score, window top-k. The WAND path (plans/wand.py) must return
rank-identical results — pruning is lossless; tests assert equality on every fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_literal
from bge_m3_onnx_spark.functions.tokenizer import tokenize_text
from bge_m3_onnx_spark.operators.bm25 import (
    TERM_SORTED_CONTRIBS,
    bm25_term_score,
    fold_contribs,
    idf_col,
    sum_scores_deterministic,
    topk,
    topk_single,
)
from bge_m3_onnx_spark.plans.build_index import InvertedIndex
from bge_m3_onnx_spark.session import shuffle_width_cap

QUERY_TERM_SCHEMA = StructType(
    [
        StructField("query_id", IntegerType(), False),
        StructField("term", StringType(), False),
    ]
)

QUERY_TERM_STATS_SCHEMA = StructType(
    [
        StructField("query_id", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
    ]
)


def query_terms_df(
    spark: SparkSession, queries: dict[int, str], cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Tokenize queries ON THE DRIVER (queries are tiny; same tokenizer as documents)
    and emit the distinct (query_id, term) relation."""
    rows = []
    for qid, qtext in queries.items():
        for term in sorted(set(tokenize_text(qtext, cfg.max_tokens, cfg.special_terms))):
            rows.append((int(qid), term))
    return spark.createDataFrame(rows, QUERY_TERM_SCHEMA)


def run_queries(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: dict[int, str],
    k: int | None = None,
    cfg: EngineConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """``conjunctive=True`` switches to AND semantics: a doc must contain every
    query term (absent-from-corpus terms included → such queries match nothing).
    Same one-job plan; the all-terms filter rides the existing aggregate."""
    cfg = cfg or idx.cfg
    k = k or cfg.default_k
    # Query terms are known on the driver — push them into the postings scan as a
    # literal In() so Parquet partition/row-group pruning fires BEFORE the join
    # (the broadcast join alone leaves the scan with only IsNotNull — EXPLAIN.md).
    term_list = sorted(
        {
            t
            for qtext in queries.values()
            for t in tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)
        }
    )
    # df comes from the index's driver-side memo (one pruned lookup per NEW term,
    # free for repeated terms), so the query plan embeds idf as literals and runs
    # as ONE job: pruned scan → literal-map fan-out → agg → window. The r1 plan
    # paid a terms-aggregation subjob inside every query; the r1-r5 plan still
    # paid a createDataFrame + broadcast-exchange subjob for the tiny
    # (query_id, term, df) relation on EVERY query — all of it driver-known, so
    # it is inlined as map literals instead (r6; the WAND path has used the same
    # trick since r4): explode(element_at(map, term)) IS the inner join against
    # a driver-known relation, with no exchange and a smaller plan tree.
    df_map = idx.df_for_terms(term_list)
    qt_rows = [
        (int(qid), t, int(df_map[t]))
        for qid, qtext in queries.items()
        for t in sorted(set(tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)))
        if t in df_map
    ]
    hit_terms = sorted({t for _, t, _ in qt_rows})
    if not hit_terms:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id string, score double"
        )
    postings = idx.pruned_postings(hit_terms)
    qids_by_term: dict[str, list[int]] = {}
    for qid, t, _ in qt_rows:
        qids_by_term.setdefault(t, []).append(qid)
    # Each literal relation is ONE SQL expression (functions/sql_literal.py):
    # built from per-value F.lit calls it costs a py4j round trip per value.
    qids_map = sql_literal({t: sorted(qs) for t, qs in sorted(qids_by_term.items())})
    # df as a DOUBLE literal per term: idf is then computed with the SAME
    # Spark-side idf_col expression as before (df column cast to double), so
    # scores stay bit-identical to the r5 broadcast-join plan.
    df_lit = sql_literal({t: float(df_map[t]) for t in hit_terms})
    idf = idf_col(f"element_at({df_lit}, term)", idx.n_docs)
    per_term = postings.selectExpr(
        f"explode(element_at({qids_map}, term)) AS query_id",
        "doc_id",
        "term",
        f"{bm25_term_score('tf', 'dl', idf, idx.avgdl, cfg)} AS s",
    )
    # Driver-sized exchange: an explicit hash repartition on the agg keys
    # replaces the session-default exchange — the aggregate reuses this
    # partitioning, so it's the SAME single shuffle, sized to the candidate
    # volume (Σ df, known exactly on the driver) instead of a fixed width.
    per_term = per_term.repartition(_agg_partitions(spark, qt_rows), "query_id", "doc_id")
    if conjunctive:
        n_terms = {
            int(qid): len(set(tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)))
            for qid, qtext in queries.items()
        }
        need = sql_literal({q: n_q for q, n_q in sorted(n_terms.items())})
        # same deterministic term-sorted fold as the disjunctive path; the
        # matched-term count rides as size(cs) — the AND filter adds ZERO
        # extra shuffles over the disjunctive plan.
        scored = (
            per_term.groupBy("query_id", "doc_id")
            .agg(F.expr(f"{TERM_SORTED_CONTRIBS} AS cs"))
            .filter(f"size(cs) = element_at({need}, query_id)")
            .selectExpr("query_id", "doc_id", f"{fold_contribs('cs')} AS score")
        )
    else:
        scored = sum_scores_deterministic(per_term, ["query_id", "doc_id"])
    if len(queries) == 1:
        return topk_single(scored, k)
    return topk(scored, k)


# ~rows of matched postings one aggregate task should own: small enough to stay
# in-memory, large enough that task overhead doesn't dominate (measured: the
# session default of 32 partitions over a few-10^4-row candidate set put 32
# near-empty tasks on the latency path — p50 1.11 s → 0.67 s at sf0.1 with
# driver-sized partitioning).
_AGG_ROWS_PER_TASK = 100_000


def _agg_partitions(spark: SparkSession, qt_rows: list[tuple[int, str, int]]) -> int:
    """Cost-based partition count for the score aggregate, from driver-known df:
    the matched-postings row count is EXACTLY Σ df over the (query, term) pairs
    (inner join on unique (term, doc) postings), so the exchange width scales
    with the actual candidate volume — a stopword query at 10^12 turns still
    fans wide, a selective query pays 1-2 tasks instead of a mostly-empty
    session-default exchange. Never exceeds the session width
    (``shuffle_width_cap``)."""
    total = sum(df for _, _, df in qt_rows)
    cap = shuffle_width_cap(spark)
    need = (total + _AGG_ROWS_PER_TASK - 1) // _AGG_ROWS_PER_TASK
    return max(1, min(cap, need))
