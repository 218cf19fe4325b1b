"""Query plan: query strings → top-k (query_id, rank, doc_id, score).

Exact path: resolve the query terms and their df on the driver, score the
pruned postings through the one BM25 core (operators/bm25.py:term_scores),
window top-k. The WAND path (plans/wand.py) must return rank-identical results
— pruning is lossless; tests assert equality on every fixture.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_literal
from bge_m3_onnx_spark.functions.tokenizer import tokenize_text
from bge_m3_onnx_spark.operators.bm25 import (
    TERM_SORTED_CONTRIBS,
    fold_contribs,
    sum_scores_deterministic,
    term_scores,
    topk,
    topk_single,
)
from bge_m3_onnx_spark.plans.build_index import InvertedIndex
from bge_m3_onnx_spark.session import shuffle_width_cap


def resolve_queries(
    idx: InvertedIndex, queries: dict[int, str], cfg: EngineConfig
) -> tuple[dict[int, list[str]], list[tuple[int, str, int]]]:
    """Tokenize each query ON THE DRIVER (queries are tiny; same tokenizer as
    documents) once, and look its terms' df up in the index's driver-side memo
    (one pruned lookup per NEW term, free for repeated terms). Returns
    ``({query_id: sorted distinct terms}, [(query_id, term, df)])``; the rows
    keep only the terms the index holds (inner-join semantics)."""
    terms_by_qid = {
        int(qid): sorted(set(tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)))
        for qid, qtext in queries.items()
    }
    df_map = idx.df_for_terms(sorted({t for ts in terms_by_qid.values() for t in ts}))
    rows = [(qid, t, df_map[t]) for qid, ts in terms_by_qid.items() for t in ts if t in df_map]
    return terms_by_qid, rows


@dataclass(frozen=True)
class QueryTerms:
    """The driver-side description of a query batch, derived once from its
    (query_id, term, df) rows by :func:`query_terms`."""

    terms_by_qid: dict[int, list[str]]  # in row order
    qids_by_term: dict[str, list[int]]
    df_by_term: dict[str, int]
    sum_df: int  # Σ df over the rows: exactly the postings the batch matches


def query_terms(rows) -> QueryTerms:
    """The :class:`QueryTerms` of (query_id, term, df) rows."""
    terms_by_qid: dict[int, list[str]] = {}
    qids_by_term: dict[str, list[int]] = {}
    df_by_term: dict[str, int] = {}
    sum_df = 0
    for qid, t, df in rows:
        terms_by_qid.setdefault(qid, []).append(t)
        qids_by_term.setdefault(t, []).append(qid)
        df_by_term[t] = df
        sum_df += df
    return QueryTerms(terms_by_qid, qids_by_term, df_by_term, sum_df)


def score_rows(
    spark: SparkSession,
    idx: InvertedIndex,
    q: QueryTerms,
    cfg: EngineConfig | None = None,
    need: dict[int, int] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for the batch ``q``, as ONE job: pruned scan
    → literal-map fan-out → one driver-sized exchange → agg. The batch is
    driver-known, so it enters the plan as map literals: no terms-aggregation
    subjob and no broadcast-exchange subjob per query.

    With ``need`` ({query_id: term count}) a doc must match that many of the
    query's terms (AND semantics): the matched-term count rides the same
    aggregate as size(cs), so the filter adds no shuffle."""
    cfg = cfg or idx.cfg
    if not q.df_by_term:
        return spark.createDataFrame([], "query_id int, doc_id string, score double")
    per_term = term_scores(
        idx.pruned_postings(sorted(q.df_by_term)),
        q.qids_by_term,
        q.df_by_term,
        idx.n_docs,
        idx.avgdl,
        cfg,
        ["doc_id"],
        _agg_partitions(spark, q.sum_df),
    )
    if need is None:
        return sum_scores_deterministic(per_term, ["query_id", "doc_id"])
    # same deterministic term-sorted fold as the disjunctive path
    return (
        per_term.groupBy("query_id", "doc_id")
        .agg(F.expr(f"{TERM_SORTED_CONTRIBS} AS cs"))
        .filter(f"size(cs) = element_at({sql_literal(dict(sorted(need.items())))}, query_id)")
        .selectExpr("query_id", "doc_id", f"{fold_contribs('cs')} AS score")
    )


def score_queries(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: dict[int, str],
    cfg: EngineConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) for every candidate document of ``queries``.
    ``conjunctive=True`` switches to AND semantics: a doc must contain every
    query term (absent-from-corpus terms included → such queries match nothing)."""
    cfg = cfg or idx.cfg
    terms_by_qid, rows = resolve_queries(idx, queries, cfg)
    need = {q: len(ts) for q, ts in terms_by_qid.items()} if conjunctive else None
    return score_rows(spark, idx, query_terms(rows), cfg, need)


def run_queries(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: dict[int, str],
    k: int | None = None,
    cfg: EngineConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k of :func:`score_queries`; one query takes the exchange-free
    :func:`topk_single`."""
    cfg = cfg or idx.cfg
    k = k or cfg.default_k
    scored = score_queries(spark, idx, queries, cfg, conjunctive)
    return topk_single(scored, k) if len(queries) == 1 else topk(scored, k)


# ~rows of matched postings one aggregate task should own: small enough to stay
# in-memory, large enough that task overhead doesn't dominate (measured: the
# session default of 32 partitions over a few-10^4-row candidate set put 32
# near-empty tasks on the latency path — p50 1.11 s → 0.67 s at sf0.1 with
# driver-sized partitioning).
_AGG_ROWS_PER_TASK = 100_000


def _agg_partitions(spark: SparkSession, sum_df: int) -> int:
    """Cost-based partition count for the score aggregate, from driver-known df:
    the matched-postings row count is EXACTLY Σ df over the (query, term) pairs
    (inner join on unique (term, doc) postings), so the exchange width scales
    with the actual candidate volume — a stopword query at 10^12 turns still
    fans wide, a selective query pays 1-2 tasks instead of a mostly-empty
    session-default exchange. Never exceeds the session width
    (``shuffle_width_cap``)."""
    return max(1, min(shuffle_width_cap(spark), -(-sum_df // _AGG_ROWS_PER_TASK)))
