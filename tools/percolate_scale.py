"""Percolation at volume — 10^5 saved queries × soak-sized doc stream.

VERDICT r2 #9: the streaming percolation alerting is tested at fixture size;
this proves the shape holds at volume: the saved-query relation (10^5 queries,
~3 terms each → ~3·10^5 broadcast rows) stays a broadcast, the probe side
streams through one tokenize + distinct pass, and the per-(doc, query) count
is one partial+final hash agg — wall time and match volume are recorded for
SCALE.md.

    python tools/percolate_scale.py [n_docs] [n_queries] [json_out]
    # defaults 1,000,000 docs x 100,000 saved queries
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bge_m3_onnx_spark.config import DEFAULT_CONFIG  # noqa: E402
from bge_m3_onnx_spark.operators.percolate import (  # noqa: E402
    percolate,
    prefix_terms_df,
    rarest_terms_df,
)
from bge_m3_onnx_spark.operators.postings import tokenized_docs  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from bge_m3_onnx_spark.sources.transcripts import (  # noqa: E402
    _HOT_TERMS,
    _TAIL_TERMS,
    synth_transcripts_skewed,
)


def synth_saved_queries(n_queries: int) -> list[tuple[int, str, int]]:
    """(query_id, term, n_terms) rows for n_queries deterministic conjunctive
    queries over the skewed corpus vocabulary (tail terms carry 0-15 digit
    suffixes there). ~3 terms per query."""
    vocab = [t + str(s) for t in _TAIL_TERMS for s in range(16)] + _HOT_TERMS
    rows = []
    for qid in range(n_queries):
        n_terms = 2 + (qid % 3)
        terms = sorted({vocab[(qid * 7 + i * 131) % len(vocab)] for i in range(n_terms)})
        rows.extend((qid, t, len(terms)) for t in terms)
    return rows


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    spark = get_spark(app_name="percolate-scale")

    t0 = time.monotonic()
    saved_rows = synth_saved_queries(n_queries)
    saved = spark.createDataFrame(saved_rows, "query_id int, term string, n_terms int")
    t_saved = time.monotonic() - t0

    tr = synth_transcripts_skewed(spark, n_docs // 10, 10)
    toks = tokenized_docs(tr, DEFAULT_CONFIG).select("doc_id", F.explode("terms").alias("term"))

    # materialize the probe tokens ONCE so both paths time matching, not the
    # shared tokenize pass (1M docs × ~50 distinct terms)
    toks = toks.persist()
    n_tok_rows = toks.count()

    # ---- plain path (r3 baseline, re-measured in-run for machine-state parity)
    t0 = time.monotonic()
    matches = percolate(toks, saved, conjunctive=True)
    n_matches = matches.count()
    t_perc = time.monotonic() - t0

    # ---- rarest-term candidate path (VERDICT r3 #5): df from one agg over the
    # probe tokens (in the serving engine this is the index's term relation —
    # driver-free either way), candidates only via each query's min-df term
    t0 = time.monotonic()
    term_df = toks.groupBy("term").agg(F.count("*").alias("df"))
    rarest = rarest_terms_df(saved, term_df).persist()
    rarest.count()
    t_rarest_prep = time.monotonic() - t0
    t0 = time.monotonic()
    fast = percolate(toks, saved, conjunctive=True, rarest=rarest)
    n_matches_fast = fast.count()
    t_fast = time.monotonic() - t0
    assert n_matches_fast == n_matches, (n_matches_fast, n_matches)

    # ---- OR path (VERDICT r4 #6): old plan = distinct (doc,term) + broadcast
    # join + (doc,query) count — the distinct's hash shuffle scatters a doc's
    # tokens, so the count agg ships every matched triple (Σ_q Σ_t df(t) rows).
    # New plan (percolate conjunctive=False) aggregates per-doc matched-term
    # sets first so the count collapses map-side. Same output, measured here
    # on the identical probe/saved relations.
    t0 = time.monotonic()
    or_old = (
        toks.select("doc_id", "term")
        .distinct()
        .join(F.broadcast(saved), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count("*").cast("int").alias("n_matched"))
    )
    n_or_old = or_old.count()
    t_or_old = time.monotonic() - t0
    t0 = time.monotonic()
    or_new = percolate(toks, saved, conjunctive=False)
    n_or_new = or_new.count()
    t_or_new = time.monotonic() - t0
    assert n_or_new == n_or_old, (n_or_new, n_or_old)

    # ---- min_should_match=2 (r5): full-OR output is inherently Σ_q Σ_t df(t)
    # pairs (the 1B rows ARE the cost); msm≥2 is the ES semantic that makes the
    # output meaningful AND prunable — prefix-filter candidates (each query's
    # n_terms-1 rarest terms; the hottest term never fans out), doc-set verify
    # with the TRUE match count. Brute-force equality asserted against the
    # full-OR relation filtered to n_matched ≥ 2.
    t0 = time.monotonic()
    prefix = prefix_terms_df(saved, term_df, 2).persist()
    prefix.count()
    t_prefix_prep = time.monotonic() - t0
    t0 = time.monotonic()
    msm = percolate(toks, saved, conjunctive=False, min_should_match=2, prefix=prefix)
    n_msm = msm.count()
    t_msm = time.monotonic() - t0
    n_msm_brute = or_new.filter(F.col("n_matched") >= 2).count()
    assert n_msm == n_msm_brute, (n_msm, n_msm_brute)

    # alert fan-in shape: distinct alerted queries + per-query doc counts
    t0 = time.monotonic()
    per_q = fast.groupBy("query_id").agg(F.count("*").alias("n_docs"))
    n_alerted = per_q.count()
    top = [r.asDict() for r in per_q.orderBy(F.desc("n_docs"), F.asc("query_id")).limit(3).collect()]
    t_agg = time.monotonic() - t0

    out = {
        "n_docs": n_docs,
        "n_saved_queries": n_queries,
        "saved_rows_broadcast": len(saved_rows),
        "probe_token_rows": n_tok_rows,
        "build_saved_sec": round(t_saved, 1),
        "percolate_plain_sec": round(t_perc, 1),
        "rarest_prep_sec": round(t_rarest_prep, 1),
        "percolate_rarest_sec": round(t_fast, 1),
        "agg_sec": round(t_agg, 1),
        "matches": n_matches,
        "matches_rarest_equal": True,
        "alerted_queries": n_alerted,
        "top_queries": top,
        "docs_per_sec_plain": round(n_docs / t_perc, 1),
        "docs_per_sec_rarest": round(n_docs / t_fast, 1),
        "speedup_rarest_vs_plain": round(t_perc / t_fast, 2),
        "or_matches": n_or_new,
        "or_plain_sec": round(t_or_old, 1),
        "or_docsets_sec": round(t_or_new, 1),
        "docs_per_sec_or_plain": round(n_docs / t_or_old, 1),
        "docs_per_sec_or_docsets": round(n_docs / t_or_new, 1),
        "speedup_or_docsets_vs_plain": round(t_or_old / t_or_new, 2),
        "msm2_matches": n_msm,
        "msm2_matches_brute_equal": True,
        "msm2_prefix_prep_sec": round(t_prefix_prep, 1),
        "msm2_sec": round(t_msm, 1),
        "docs_per_sec_msm2": round(n_docs / t_msm, 1),
        "speedup_msm2_vs_or_plain": round(t_or_old / t_msm, 2),
        "speedup_msm2_vs_or_docsets": round(t_or_new / t_msm, 2),
        "status": "PASS",
    }
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
