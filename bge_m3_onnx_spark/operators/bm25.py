"""BM25 scoring + deterministic top-k, as native Spark SQL expressions.

score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
idf(t) = ln( (N − df + 0.5) / (df + 0.5) + 1 )        [Lucene/ATIRE variant, ≥ 0]

k1=1.2, b=0.75 fixed by the north rule. All float64. The reference's lexical
matching loop (probe each query term against the document's sparse map and sum —
/root/reference/samples/python/bge_m3_tests.py:151-158 does exactly this probe as a
parity check) becomes a broadcast hash join postings⋈query_terms followed by a
hash aggregation — no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig


def idf_col(df_col: Column, n_docs: int) -> Column:
    return F.log((F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5) + 1.0)


def bm25_term_score(
    tf: Column, dl: Column, idf: Column, avgdl: float, cfg: EngineConfig = DEFAULT_CONFIG
) -> Column:
    tf_d = tf.cast("double")
    norm = tf_d + cfg.k1 * (1.0 - cfg.b + cfg.b * dl.cast("double") / float(avgdl))
    return idf * tf_d * (cfg.k1 + 1.0) / norm


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
    still applies."""
    return (
        per_term.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("term", "s"))).alias("cs"))
        .select(*keys, F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["s"]).alias("score"))
    )


def score_postings(
    postings: DataFrame,
    query_terms: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
    agg_partitions: int | None = None,
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
    qt = query_terms.select(
        "query_id", "term", idf_col(F.col("df").cast("double"), n_docs).alias("idf")
    )
    matched = postings.join(F.broadcast(qt), "term")
    per_term = matched.select(
        "query_id",
        "doc_id",
        "term",
        bm25_term_score(F.col("tf"), F.col("dl"), F.col("idf"), avgdl, cfg).alias("s"),
    )
    # Driver-sized exchange (plans/query.py:_agg_partitions): an explicit hash
    # repartition on the agg keys replaces the session-default exchange — the
    # aggregate reuses this partitioning, so it's the SAME single shuffle, just
    # sized to the candidate volume instead of a fixed width.
    if agg_partitions is not None:
        per_term = per_term.repartition(agg_partitions, "query_id", "doc_id")
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
    ex = postings.filter(F.col("term").isin(list(set(terms)))).select("doc_id").distinct()
    return scored.join(ex, "doc_id", "left_anti")


def topk_single(scored: DataFrame, k: int = 10) -> DataFrame:
    """Single-query top-k without the full window exchange: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heap + driver merge — no shuffle of
    the candidate set); the rank window then runs over k rows only. Semantics
    identical to :func:`topk` restricted to one query_id (tests assert it)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("query_id", "rank", "doc_id", "score")
    )


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, rank, doc_id, score): rank = row_number over score DESC, doc_id ASC.

    The deterministic doc_id tiebreak makes rank-identity well-defined (the reference
    compares sparse maps order-insensitively — bge_m3_tests.py:146-160 — so the
    tiebreak is our addition, per SURVEY.md §2.5). Per-query partitions are tiny
    (candidate sets), so the window is cheap; the physical plan is a single shuffle
    on query_id which AQE coalesces.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
