"""Measure the exact-vs-WAND crossover to calibrate wand_route_min_postings.

VERDICT r2: the routing threshold (config.py wand_route_min_postings = 2M) was
a guess — at sf0.1 every bench query routes to exact, so nothing measured ever
showed where the crossover actually sits. This tool builds the Zipf-skewed
soak corpus (the regime where block-max pruning genuinely fires), then times
the EXACT one-job path vs the FORCED-WAND path for single queries spanning
Σdf across orders of magnitude, interleaved and warm (best-of-reps per path,
exact first/WAND first alternated so VM drift cancels).

    python tools/wand_calibrate.py [n_turns] [json_out]   # default 10,000,000

Output: one row per query — Σdf, exact sec, wand sec, speedup, pruning stats —
plus the measured break-even Σdf (geometric midpoint between the largest Σdf
where exact wins and the smallest where WAND wins). Paste the table into
SCALE.md and set wand_route_min_postings from the break-even. The session is
get_spark's default (master local[$SPARK_GRAFT_CPUS], else every core, and its
shuffle width); the JSON records the master and the source revision.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bge_m3_onnx_spark.functions.tokenizer import tokenize_text  # noqa: E402
from bge_m3_onnx_spark.plans.build_index import build_index  # noqa: E402
from bge_m3_onnx_spark.plans.query import run_queries  # noqa: E402
from bge_m3_onnx_spark.plans.wand import run_queries_wand  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from bge_m3_onnx_spark.sources.transcripts import synth_transcripts_skewed  # noqa: E402
from tools.revision import source_revision  # noqa: E402

# Queries chosen to span Σdf from ~10^3 (single rare tail variant) to ~10^7
# (every hot stopword) on the skewed corpus. Tail terms there carry hashed
# digit suffixes ("spark3"); hot terms are unsuffixed stopwords. The mixed
# rare+hot shapes ("iceberg3 the") are WAND's real sweet spot: the rare term
# drives θ above anything a stopword-only segment can reach, so pruning skips
# most of the hot term's millions of postings while exact must scan them all.
CAL_QUERIES = [
    "colbert7 onnx3",
    "spark3",
    "spark3 index5 shuffle9",
    "of",
    "iceberg3 of",
    "the",
    "iceberg3 the",
    "spark3 iceberg7 the",
    "a to and of",
    "the a to and of",
]

# --concentrated (VERDICT r4 #1): the shapes the router actually sends to WAND
# above the fitted 12M-Σdf crossover — one heavy term (residual_frac ≤ 0.05),
# Σdf ≥ 15M on a ≥24M-turn corpus — plus two control shapes the router must
# DECLINE (small Σdf; unprunable multi-hot). Run at 24M turns: that keeps
# df("the")/block_size ≈ 160k blocks under the 200k driver-phase-2 cap.
CONCENTRATED_QUERIES = [
    "the",
    "of",
    "iceberg3 the",
    "iceberg3 of",
    "spark3",
    "a to and of",
]


def _time_path(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--concentrated"]
    concentrated = "--concentrated" in sys.argv[1:]
    queries = CONCENTRATED_QUERIES if concentrated else CAL_QUERIES
    n_turns = int(args[0]) if len(args) > 0 else 10_000_000
    json_out = args[1] if len(args) > 1 else None
    spark = get_spark(app_name="wand-calibrate")

    t0 = time.monotonic()
    idx = build_index(
        synth_transcripts_skewed(spark, n_turns // 10, 10),
        with_ordinals=True,
        with_blocks=True,
    )
    idx.postings.count()
    idx.blocks.count()
    build_sec = time.monotonic() - t0
    print(f"built skewed {n_turns}-turn index in {build_sec:.1f}s", flush=True)

    rows = []
    for i, qtext in enumerate(queries):
        terms = sorted(set(tokenize_text(qtext)))
        df_map = idx.df_for_terms(terms)
        sum_df = int(sum(df_map.values()))
        q = {1: qtext}

        def exact():
            return run_queries(spark, idx, q, k=10).collect()

        def wand():
            # NO stats_out in the timed runs: the diagnostic counts are extra
            # jobs (on the distributed branch they recompute phase 2) and
            # would inflate the WAND side.
            return run_queries_wand(spark, idx, q, k=10, force_wand=True).collect()

        def routed():
            # the production entry point: the router itself picks the path
            return run_queries_wand(spark, idx, q, k=10).collect()

        # warm both paths once (the warm WAND run doubles as the stats probe),
        # then alternate measurement order per query. The warm rows also feed
        # the soak-style invariant: routed/forced results must be bit-identical
        # to exact.
        st: dict = {}
        e_rows = exact()
        w_rows = run_queries_wand(spark, idx, q, k=10, force_wand=True, stats_out=st).collect()
        st_r: dict = {}
        r_rows = run_queries_wand(spark, idx, q, k=10, stats_out=st_r).collect()
        _k = lambda r: (r["query_id"], r["rank"], r["doc_id"], r["score"])  # noqa: E731
        assert sorted(map(_k, w_rows)) == sorted(map(_k, e_rows)), f"{qtext}: WAND != exact"
        assert sorted(map(_k, r_rows)) == sorted(map(_k, e_rows)), f"{qtext}: routed != exact"
        if i % 2 == 0:
            t_exact, t_wand = _time_path(exact), _time_path(wand)
        else:
            t_wand, t_exact = _time_path(wand), _time_path(exact)
        t_routed = _time_path(routed)
        rows.append(
            {
                "query": qtext,
                "sum_df": sum_df,
                "exact_sec": round(t_exact, 3),
                "wand_sec": round(t_wand, 3),
                "wand_speedup": round(t_exact / t_wand, 2),
                "router_choice": st_r.get("router_choice"),
                "routed_sec": round(t_routed, 3),
                "routed_speedup_vs_exact": round(t_exact / t_routed, 2),
                "bit_identical": True,
                "blocks_total": st.get("blocks_total"),
                "blocks_surviving": st.get("blocks_surviving"),
                "blocks_extra_decoded": st.get("blocks_extra_decoded"),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    rows.sort(key=lambda r: r["sum_df"])
    exact_wins = [r["sum_df"] for r in rows if r["wand_sec"] >= r["exact_sec"]]
    wand_wins = [r["sum_df"] for r in rows if r["wand_sec"] < r["exact_sec"]]
    if wand_wins and exact_wins and max(exact_wins) < min(wand_wins):
        crossover = int((max(exact_wins) * min(wand_wins)) ** 0.5)
    elif wand_wins:
        # mixed region: first Σdf from which WAND wins consistently
        crossover = int(min(w for w in wand_wins if all(e < w for e in exact_wins) or True))
    else:
        crossover = None
    out = {
        "master": spark.sparkContext.master,
        "source_revision": source_revision(),
        "n_turns": n_turns,
        "build_sec": round(build_sec, 1),
        "rows": rows,
        "exact_wins_max_sumdf": max(exact_wins) if exact_wins else None,
        "wand_wins_min_sumdf": min(wand_wins) if wand_wins else None,
        "crossover_sum_df": crossover,
    }
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
