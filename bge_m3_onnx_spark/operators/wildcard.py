"""Prefix / wildcard query expansion over the term dictionary.

A fulltext user's ``spar*`` query means "every dictionary term starting with
``spar``, OR-ed together". The reference's vocabulary is the tokenizer's fixed
id space (sparse keys are token ids — samples/python/bge_m3_embedder.py:133-143);
our open vocabulary makes expansion a *dictionary* operation instead: match the
prefix against the (tiny relative to postings) terms relation, then hand the
expanded term set to the ordinary BM25 scorer.

Scale shape (10^12 turns, ~10^8-term vocabulary):
* the terms relation is the small side of the index by 4-5 orders of magnitude;
  a ``startswith`` predicate on a sorted/bucketed terms table is a pushed range
  scan (Parquet min/max on the term column prunes row groups — StartsWith is a
  supported pushdown filter).
* expansion output is bounded and verified: ``max_expansions`` caps the term
  fan-out deterministically (df DESC, term ASC — keep the most selective-to-
  score terms, Lucene's top-terms blended rewrite), so a pathological ``a*``
  cannot turn one query into a 10^6-way OR.
* downstream scoring is the exact path's (plans/query.py:score_rows): the
  capped (query_id, term, df) expansion is collected to the driver and enters
  the plan as literal maps over a pushed ``term IN`` postings scan — one
  aggregate, one top-k window, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand_synonyms(query_terms: DataFrame, synonyms: DataFrame) -> DataFrame:
    """Query-time synonym expansion (Lucene SynonymGraph style, one hop):
    (query_id, term) × (term, syn) → original terms ∪ mapped synonyms, distinct.

    The synonym relation is curated vocabulary — orders of magnitude smaller
    than the index — so the join is a broadcast against the (tiny) query-term
    relation; downstream each expanded term scores with its OWN df/idf through
    the ordinary BM25 plan, which is the standard expand-then-score semantics.
    One hop only, deliberately: transitive closure at query time is unbounded
    and belongs in the curation pipeline, not the query path.
    """
    mapped = (
        query_terms.join(synonyms, "term")
        .select("query_id", F.col("syn").alias("term"))
    )
    return query_terms.select("query_id", "term").unionByName(mapped).distinct()


def expand_prefix(
    terms: DataFrame, prefix: str, query_id: int = 1, max_expansions: int = 64
) -> DataFrame:
    """(term, df) dictionary → (query_id, term, df) for terms starting with
    ``prefix``, capped at ``max_expansions`` by df DESC, term ASC (deterministic).

    Empty prefix is rejected: it would be a full-dictionary match, which is a
    scan, not a query.
    """
    if not prefix:
        raise ValueError("empty prefix")
    matched = terms.filter(F.col("term").startswith(prefix))
    capped = matched.orderBy(F.desc("df"), F.asc("term")).limit(int(max_expansions))
    return capped.select(F.lit(int(query_id)).alias("query_id"), "term", "df")
