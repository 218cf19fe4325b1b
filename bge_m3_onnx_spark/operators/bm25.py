"""BM25 scoring + deterministic top-k, as native Spark SQL expressions.

score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
idf(t) = ln( (N − df + 0.5) / (df + 0.5) + 1 )        [Lucene/ATIRE variant, ≥ 0]

k1=1.2, b=0.75 fixed by the north rule. All float64. The reference's lexical
matching loop (probe each query term against the document's sparse map and sum —
/root/reference/samples/python/bge_m3_tests.py:151-158 does exactly this probe as a
parity check) becomes a broadcast hash join postings⋈query_terms followed by a
hash aggregation — no per-row Python anywhere.

The score helpers take and return SQL TEXT, not ``Column`` trees:
:func:`idf_col` and :func:`bm25_term_score` compose into one string that the
caller hands to ``F.expr``/``selectExpr`` in a single JVM call, with every
driver-known constant rendered exactly by ``functions/sql_literal.py``. A
``Column`` tree pays one py4j round trip per node and literal instead — the
WAND and exact query plans build these expressions on every request. Both
plans use this ONE score expression and fold, so their scores are
bit-identical by construction. Keep the operation order as written (IEEE
results depend on it), and spell natural log ``ln``: SQL's one-argument
``log`` is computed differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_in, sql_literal


def idf_col(df: str, n_docs: int) -> str:
    """SQL text of idf for the DOUBLE-typed SQL expression ``df``."""
    return (
        f"ln(({sql_literal(float(n_docs))} - ({df}) + 0.5D) / (({df}) + 0.5D) + 1.0D)"
    )


def bm25_term_score(
    tf: str, dl: str, idf: str, avgdl: float, cfg: EngineConfig = DEFAULT_CONFIG
) -> str:
    """SQL text of one term's BM25 contribution; ``tf``, ``dl`` and ``idf``
    are SQL expressions (column names or :func:`idf_col` output)."""
    tf_d = f"CAST({tf} AS DOUBLE)"
    norm = (
        f"{tf_d} + (CAST({dl} AS DOUBLE) * {sql_literal(float(cfg.b))}"
        f" / {sql_literal(float(avgdl))} + {sql_literal(1.0 - cfg.b)})"
        f" * {sql_literal(float(cfg.k1))}"
    )
    return f"({idf}) * {tf_d} * {sql_literal(cfg.k1 + 1.0)} / ({norm})"


# A group's (term, s) contributions sorted by term, and their left fold.
TERM_SORTED_CONTRIBS = "array_sort(collect_list(struct(term, s)))"


def fold_contribs(cs: str) -> str:
    return f"aggregate({cs}, 0.0D, (a, x) -> a + x.s)"


def sum_scores_deterministic(per_term: DataFrame, keys: list[str]) -> DataFrame:
    """per_term (keys..., term, s) → (keys..., score): per-group fold over the
    TERM-SORTED contribution list instead of F.sum.

    Why not F.sum: IEEE addition is order-dependent at the last ulp, and Spark's
    aggregate order follows partition arrival. With k-boundary score ties the
    doc_id tiebreak then hangs on summation noise — measured at 10M docs, the
    exact path and the WAND rescore produced 9.186874808545442 vs
    …5440 for the SAME doc and disagreed on the tied top-k membership. Sorting
    the ≤|q| contributions by term before a left fold makes every path that
    scores a doc produce the bit-identical double, independent of partitioning,
    plan shape, or arrival order. Cost: collect_list of ≤|q| structs per
    candidate doc in place of a plain sum — same single shuffle, partial merge
    still applies, and the fold runs in the aggregate's result expression.
    Keys the caller adds that are functionally dependent on the others
    (WAND's doc_id beside doc_ord) do not change the groups."""
    return per_term.groupBy(*keys).agg(
        F.expr(f"{fold_contribs(TERM_SORTED_CONTRIBS)} AS score")
    )


def score_postings(
    postings: DataFrame,
    query_terms: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(query_id, doc_id, score) for every candidate document.

    ``query_terms`` must be (query_id, term, df) — tiny (queries × terms rows), so it
    is explicitly broadcast: the join against the 10^12-posting relation is a
    broadcast hash join with the term predicate pushed into the index scan (bucketed/
    partitioned by term when materialized — see plans/build_index.py), i.e. partition
    pruning does the heavy lifting and no shuffle of postings happens at query time.
    Deduplicate query terms upstream; repeated terms in a query score once
    (standard BM25 bag-of-words with qtf collapsed, matching the oracle).
    """
    qt = query_terms.selectExpr(
        "query_id", "term", f"{idf_col('CAST(df AS DOUBLE)', n_docs)} AS idf"
    )
    matched = postings.join(F.broadcast(qt), "term")
    per_term = matched.selectExpr(
        "query_id", "doc_id", "term", f"{bm25_term_score('tf', 'dl', 'idf', avgdl, cfg)} AS s"
    )
    return sum_scores_deterministic(per_term, ["query_id", "doc_id"])


def exclude_docs_with_terms(
    scored: DataFrame, postings: DataFrame, terms: list[str]
) -> DataFrame:
    """NOT clause: drop scored candidates that contain ANY of ``terms``.

    The exclusion relation is a pushed ``term IN`` postings scan projected to
    doc_id; the left-anti join runs on doc_id. At scale the scored side is
    candidate-bounded (query terms' postings) while the exclusion side can be a
    hot term's full posting list — AQE picks broadcast vs shuffle per actual
    size, and the anti join never inflates rows. Excluding a term absent from
    the corpus is a no-op (empty anti side), matching boolean semantics.
    """
    if not terms:
        return scored
    ex = postings.filter(sql_in("term", sorted(set(terms)))).select("doc_id").distinct()
    return scored.join(ex, "doc_id", "left_anti")


_RANK = "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)"


def topk_single(scored: DataFrame, k: int = 10) -> DataFrame:
    """Single-query top-k without the full window exchange: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heap + driver merge — no shuffle of
    the candidate set); the rank window then runs over k rows only. Semantics
    identical to :func:`topk` restricted to one query_id (tests assert it)."""
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .selectExpr("query_id", f"{_RANK} AS rank", "doc_id", "score")
    )


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, rank, doc_id, score): rank = row_number over score DESC, doc_id ASC.

    The deterministic doc_id tiebreak makes rank-identity well-defined (the reference
    compares sparse maps order-insensitively — bge_m3_tests.py:146-160 — so the
    tiebreak is our addition, per SURVEY.md §2.5). Per-query partitions are tiny
    (candidate sets), so the window is cheap; the physical plan is a single shuffle
    on query_id which AQE coalesces.
    """
    return (
        scored.selectExpr("query_id", f"{_RANK} AS rank", "doc_id", "score")
        .filter(f"rank <= {int(k)}")
    )
