"""Block-max WAND query path — lossless pruning, distributed-safe.

Classic BMW is a sequential cursor algorithm; a 1000-executor engine needs a
set-oriented formulation. Three phases, with a provably safe pruning rule
(rank-identity preserved — tests assert equality with the exact path on every
fixture):

  Phase 1 (θ estimation, lossless: θ ≤ the true k-th best): block maxima,
    metadata only, no block read. θ = max over the query's terms t of the
    k-th largest block_max_score of t, minus a 1e-6 pad. On every index,
    fresh or merged, each block max is the exact score of one real posting
    (a merge recomputes kept blocks' maxima, streaming/incremental.py), a
    term's blocks hold disjoint docs, and every BM25 term contribution is
    ≥ 0 — so k distinct docs score at least that much. A term with < k blocks
    contributes nothing; a query where no term has k blocks gets θ = −inf (no
    pruning). This is the "safe cutoff from summary statistics before
    touching the payload" idea of External Merge Sort for Top-K Queries
    (SIGMOD 2020), with the block-max list as the histogram. Those summaries
    are fixed for the life of an index generation, so on driver phase 2 they
    come from a per-index driver memo (InvertedIndex.block_meta_for_terms,
    beside the df memo): only terms the index has not served before are
    scanned, and a batch of seen terms runs no metadata job at all. The
    distributed branch collects each term's top-k blocks instead, every
    time, and never touches the memo.

  Phase 2 (block pruning): ordinal-aligned segment bound. Each term's blocks tile
    the doc-ordinal axis (block_id = ord // range_t), so the metadata upper bound
    at ordinal x is s_q(x) = Σ_{t ∈ q} block_max(t, x // range_t) — piecewise
    constant between block starts. A block survives iff a segment it overlaps has
    s_q ≥ θ. Completeness: score(d) ≤ s_q(ord(d)), so a top-k doc's segment clears
    θ and every block containing d overlaps it. This strictly dominates the classic
    block_max(t,b) + Σ_{t'≠t} global_max(t') bound (which prunes nothing when term
    maxima come from docs that cannot co-occur, e.g. short single-term spikes).

  Phase 3 (MaxScore candidates + two-stage exact rescore — r3): partition each
    query's terms by θ: sorted by global max ascending, the maximal prefix whose
    cumulative Σmax stays below θ is NON-ESSENTIAL (those terms alone cannot
    lift any doc to θ — Turtle & Flood's MaxScore, set-oriented). Candidates
    are the docs of ESSENTIAL surviving blocks only; 3a scores each candidate
    over the surviving essential postings and filters on s_ess(d) +
    Σ_{non-ess} tmax ≥ θ; 3b reads non-essential blocks only for the filtered
    candidates (covering blocks: block_id = doc_ord // block_range(term) is a
    pure function of stored ranges), rescores exactly, then the deterministic
    top-k window. For "rare_term the"-shaped queries this is the difference
    between scoring ~all of "the" and scoring a handful of its blocks: the
    rare term's wide ordinal tiles otherwise carry its high max into every
    segment.
    3a reads no block beyond the survivors, after either phase-2 branch. Both
    cut each query's segments at every block start of its terms (the
    distributed branch's classic-bound pre-filter drops only segments below
    θ), so inside a segment each term has exactly one block. A doc d whose
    score reaches the k-th has a surviving segment, so every essential block
    holding d survived and its essential score over the surviving postings is
    exact. A candidate missing an essential block sits in a pruned segment:
    its true score is below θ − 1e-6, under the k-th, and its partial score
    is lower still. The candidates are therefore the surviving essential
    postings themselves, read once, with no candidate shuffle and no
    covering-block joins (the exact cutoff from summaries needs no second
    pass over the data).

  Reading a block: every phase reads a block's postings from the postings
    relation by (term, block_id = floor(doc_ord / STORED range)), the key the
    build cut it by, so no Python task runs on the query path. A merge keeps
    an untouched term's postings and blocks together and a compaction re-cuts
    both, so those rows equal the block's varbyte payload on every index
    (tests/test_compress.py). Key sets are metadata-sized and broadcast;
    posting rows are first shuffled by the score aggregation.

Driver/executor split: per-query scalars (term maxima, Σmax, θ, essential sets)
are O(|q|·terms) rows derived on the driver from ONE metadata lookup — the
memoized per-term block rows on driver phase 2 (a collect only for unseen
terms), the per-term top-k collect on the distributed branch — and re-enter
the plan as literal relations, each ONE SQL expression rendered by
functions/sql_literal.py (one JVM call per relation, not one per value), so the
distributed plan sees only: one metadata scan with a pushed bound filter,
block-filtered postings scans, hash aggregations, one tiny window. Postings
carry dl and doc_id, so no phase joins the docs table: the fold groups by
(query_id, doc_ord, doc_id) — doc_id is a function of doc_ord — and the top-k
ranks (score DESC, doc_id ASC) on those rows directly.

Routing (r2, calibrated r3): WAND's driver round-trips (2 jobs, 1 once the
index's memo holds the batch's terms) only pay off when pruning skips far more
scoring work than the round-trips cost. Σ df over the query terms is known on
the driver after the FIRST metadata lookup; below
``cfg.wand_route_min_postings`` the plan delegates to the exact one-job broadcast
path (plans/query.py), which scans those same Σ df postings outright. Stopword
queries at 10^12 scale clear the threshold instantly and take the pruning path.
The threshold comes from tools/wand_calibrate.py's measured exact-vs-WAND
crossover (WAND_CAL_r03.json / SCALE.md).

Result: a lazy plan, with the same contract as ``run_queries``. The call runs
the driver-side phases (and a metadata collect only for terms the memo lacks);
each action on the returned frame then runs phase 3 and the top-k as ONE Spark
job (plus the broadcast subjobs of phase 3b's joins, on a batch with a
non-essential term). Nothing is cached or checkpointed, so no cache outlives
the call, and a second action runs the query again: release the index only
after the last action on the frame.

Phase 3 uses the ``block_range`` stored IN the block rows (not recomputed from
current corpus stats), so blocks written under an older (N, df) — kept across an
incremental merge — still map candidate ordinals to the right block_id.

At 10^12 scale: the blocks and postings scans are term-pruned by the bucketed
layout (pushed isin); the postings scan covers the query terms' postings and
filters them to the wanted blocks in whole-stage codegen. Phase 1 reads only
metadata; phase 3 scores only surviving + covering blocks.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_in, sql_literal
from bge_m3_onnx_spark.functions.tokenizer import tokenize_text
from bge_m3_onnx_spark.operators.bm25 import bm25_term_score, idf_col, sum_scores_deterministic, topk
from bge_m3_onnx_spark.plans.build_index import InvertedIndex, block_meta_rows
from bge_m3_onnx_spark.session import shuffle_width_cap

_KEYS = ["term", "block_id"]

# Target scored postings per task for the post-phase-2 width bump (see the
# scoring-volume-aware width note in _run_queries_wand_forced). Module-level so
# experiments/tests can pin it.
_SCORE_ROWS_PER_TASK = 100_000
# Query postings (Σdf) per partition of every WAND exchange's base width (see
# run_queries_wand), capped by the session width. Module-level so tests can
# pin it low and drive widths above 1 on small indexes.
_POSTINGS_PER_PARTITION = 1_000_000
# Estimated metadata rows (Σ_t blocks of t) up to which phase 2 runs on the
# driver. Module-level so tests can pin it to 0 and force the distributed
# branches.
_PHASE2_DRIVER_CAP = 200_000


def _block_max_theta(
    blk_lists: dict[str, list[tuple[int, float]]],
    terms_by_qid: dict[int, list[str]],
    k: int,
) -> dict[int, float]:
    """Metadata-only θ per query (module docstring, phase 1): the max over the
    query's terms of the term's k-th largest block max, minus a 1e-6 pad (the
    block maxima were computed by the build's NumPy kernel and can sit an ulp
    above the query plan's score of the same posting). Valid because every
    block max is the exact score of a real posting, on fresh and merged
    indexes alike. ``blk_lists`` may hold just each term's top-k blocks.
    Queries where no term has k blocks get −inf: no pruning, still exact."""
    import heapq

    kth = {
        t: heapq.nlargest(k, (m for _, m in pairs))[-1]
        for t, pairs in blk_lists.items()
        if len(pairs) >= k
    }
    theta = {}
    for qid, qterms in terms_by_qid.items():
        vals = [kth[t] for t in qterms if t in kth]
        theta[qid] = max(vals) - 1e-6 if vals else float("-inf")
    return theta


def _block_of(ords: str, rng: str) -> str:
    """SQL text of the block key of an ordinal under a term's STORED range: the
    build's own ``floor(doc_ord / block_range)`` (operators/compress.py), so it
    also maps ordinals into blocks a merge kept from older corpus stats."""
    return f"CAST(floor({ords} / {rng}) AS BIGINT) AS block_id"


def _blocks_of(postings: DataFrame, keys: DataFrame) -> DataFrame:
    """The rows of ``postings`` (keyed by ``block_id``) that fall in the
    (term, block_id) ``keys``. The key side is metadata-sized and BROADCAST:
    posting rows are never shuffled before the score aggregation."""
    return postings.join(F.broadcast(keys.select(*_KEYS)), _KEYS, "left_semi")


def _fmt_plan(df: DataFrame) -> str:
    """Formatted physical plan of ``df`` (the ``capture_plans`` audit hook)."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_runs(plan: str, node: str) -> bool:
    """True iff the formatted plan ``plan`` runs a ``node`` operator of its
    own. Nodes listed below an ``InMemoryRelation`` are the lineage of a cached
    relation (e.g. the index build's encode kernel and ordinal window) and are
    skipped. The plan audits (tests, tools/explain_audit.py) use it to check
    that no WAND plan runs a ``MapInArrow`` Python task."""
    tree = plan.split("\n\n")[0].splitlines()[1:]
    cached_col = None
    for line in tree:
        col = len(line) - len(line.lstrip(" :+-*"))
        if cached_col is not None and col > cached_col:
            continue
        cached_col = col if "InMemoryRelation" in line else None
        if node in line:
            return True
    return False


def planner_exchanges(plan: str, *sources: DataFrame) -> list[str]:
    """The ``Arguments`` lines of the planner-inserted (ENSURE_REQUIREMENTS)
    Exchanges in the formatted plan ``plan``. Such an exchange takes the
    session's ``spark.sql.shuffle.partitions``, where every WAND exchange is
    given the query's width. Exchanges listed in the plans of ``sources``
    (e.g. the cached build lineage of an in-memory index's relations) are not
    the query's own and are left out. The plan audits (tests,
    tools/explain_audit.py) check that no WAND plan has one."""

    def inserted(p: str) -> set[str]:
        return {
            line for line in p.splitlines()
            if line.startswith("Arguments: ") and "ENSURE_REQUIREMENTS" in line
        }

    theirs = set().union(*(inserted(_fmt_plan(rel)) for rel in sources))
    return sorted(inserted(plan) - theirs)


def plan_reads(plan: str, rel: DataFrame) -> bool:
    """True iff the formatted plan ``plan`` scans the source of relation
    ``rel``: its cached relation (named by its attribute ids) or the files of
    its Parquet layout. The plan audits use it to check that no WAND plan reads
    the docs relation."""
    lines = _fmt_plan(rel).splitlines()
    for i, line in enumerate(lines):
        if line.startswith("Location: "):
            return line in plan
        if line.endswith(") InMemoryRelation") and lines[i + 1].startswith("Arguments: ["):
            return lines[i + 1].split("], ")[0] + "]" in plan
    raise ValueError("relation has neither a cached nor a file source")


def _phase2_driver(
    blk_lists: dict[str, tuple[tuple[int, float], ...]],
    range_by_term: dict[str, int],
    terms_by_qid: dict[int, list[str]],
    theta: dict[int, float],
    ess_by_qid: dict[int, list[str]],
) -> dict[str, list[int]]:
    """Phase 2 (ordinal-aligned segment pruning) computed on the driver.

    Same semantics as the distributed branch (see the phase-2 comment in
    ``_run_queries_wand_forced``): for each query, candidate boundaries are the
    block starts of its terms; the metadata upper bound at boundary x is
    Σ_t block_max(t, x // range_t) (terms with no block at x contribute 0); a
    segment survives iff its bound clears θ (1e-6 pad — only ADMITS blocks,
    lossless); the surviving block keys are the ESSENTIAL terms' blocks at the
    surviving boundaries, restricted to blocks that exist. Inputs are the rows
    θ was computed from — every block of every query term, sorted by block_id,
    from the index's block-metadata memo (Σ_t n_blocks(t) rows, gated by the
    caller to stay driver-sized). Term iteration is sorted so the float
    accumulation order is deterministic run-to-run.

    Returns {term: sorted surviving block_ids} unioned across queries."""
    import numpy as np

    arrs: dict[str, tuple] = {}
    for t, pairs in blk_lists.items():
        arrs[t] = (
            np.array([b for b, _ in pairs], dtype=np.int64),
            np.array([m for _, m in pairs], dtype=np.float64),
        )
    keys: dict[str, set] = {}
    for qid, qterms in sorted(terms_by_qid.items()):
        th = theta.get(qid, float("-inf"))
        ts = sorted(t for t in set(qterms) if t in arrs)
        if not ts:
            continue
        xs = np.unique(
            np.concatenate([arrs[t][0] * int(range_by_term[t]) for t in ts])
        )
        s = np.zeros(len(xs), dtype=np.float64)
        for t in ts:
            bids, bms = arrs[t]
            q = xs // int(range_by_term[t])
            pos = np.minimum(np.searchsorted(bids, q), len(bids) - 1)
            s += np.where(bids[pos] == q, bms[pos], 0.0)
        surv_x = xs[s >= th - 1e-6]
        if not len(surv_x):
            continue
        for t in ess_by_qid.get(qid, []):
            if t not in arrs:
                continue
            bids, _ = arrs[t]
            q = np.unique(surv_x // int(range_by_term[t]))
            pos = np.minimum(np.searchsorted(bids, q), len(bids) - 1)
            exist = q[bids[pos] == q]
            if len(exist):  # an essential term may have no block left at all
                keys.setdefault(t, set()).update(int(v) for v in exist)
    return {t: sorted(v) for t, v in keys.items()}


def run_queries_wand(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: dict[int, str],
    k: int | None = None,
    cfg: EngineConfig | None = None,
    force_wand: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """Top-k BM25 per query, rank-identical and bit-identical to
    ``run_queries`` (module docstring), as a lazy frame on either path: each
    action on it runs the query again, as with ``run_queries``, so the index
    must stay alive (not ``release``d) until the last action.

    ``stats_out`` (diagnostic): when a dict is passed, it is filled with
    ``routed`` and ``router_choice`` ("exact" or "wand") and, on the WAND path,
    with deterministic, machine-independent evidence of what the pruning did
    (the extra count jobs run inside the call, only when requested):

    - ``theta``: {query_id: θ}; ``essential_terms``: {query_id: [terms]};
    - ``phase2``: "driver" when phase 2 ran in NumPy over the collected
      metadata, "distributed" when the batch's estimated block rows exceeded
      ``_PHASE2_DRIVER_CAP`` and it ran as Spark jobs;
    - ``blocks_total``, ``blocks_surviving``, ``blocks_extra_decoded`` (extra
      blocks READ beyond the survivors — phase 3b's non-essential blocks; the
      key name predates reading blocks from the postings relation);
    - ``n_candidates``, ``n_strong``;
    - ``block_meta_collected``: the number of query terms whose block metadata
      this call scanned — on driver phase 2 the terms the index's memo did not
      hold yet (0 on a full hit), on the distributed branch every term;
    - ``t_theta_sec`` (the metadata lookup: ~0 on a full memo hit) and
      ``t_final_sec`` (everything after inside the call: plan construction
      and the diagnostic counts, not the query's own job, which runs at the
      caller's first action).

    With ``stats_out["capture_plans"]`` set it also records the formatted
    plans ``plan_theta``, ``plan_surviving`` and ``plan_final``."""
    assert idx.blocks is not None, "index has no compressed blocks; build with with_blocks=True"
    cfg = cfg or idx.cfg
    k = k or cfg.default_k

    # idf per (query, term) — tiny, resolved through the index's driver-side df
    # memo (one pruned lookup per new term; free on repeats) and re-injected as
    # literal relations.
    all_qterms = sorted(
        {
            t
            for qtext in queries.values()
            for t in tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)
        }
    )
    df_map = idx.df_for_terms(all_qterms)
    qt_rows = [
        {"query_id": int(qid), "term": t, "df": int(df_map[t])}
        for qid, qtext in queries.items()
        for t in sorted(set(tokenize_text(qtext, cfg.max_tokens, cfg.special_terms)))
        if t in df_map
    ]
    # ---- routing (calibrated, WAND_CAL_r04.json): take the exact one-job plan
    # unless BOTH hold —
    #   (a) Σdf ≥ wand_route_min_postings: below the measured ~10-12M crossover
    #       pruning cannot recoup WAND's machinery constant;
    #   (b) every query in the batch is PRUNABLE-shaped: residual df
    #       (Σdf - heaviest term's df, per query) ≤ 5% of the query's Σdf.
    #       Multi-hot-term queries keep ~73% of blocks above θ at every corpus
    #       size (measured: "a to and of" 0.32x, "the a to and of" 0.13x, and
    #       69k extra non-essential blocks decoded for "spark3 iceberg7 the") —
    #       those shapes NEVER benefit, so Σdf alone must not route them here.
    # (force_wand exists for tests/bench that measure the pruning machinery.)
    def _batch_prunable() -> bool:
        by_q: dict[int, list[int]] = {}
        for r in qt_rows:
            by_q.setdefault(r["query_id"], []).append(r["df"])
        return all(
            sum(dfs) - max(dfs) <= cfg.wand_route_max_residual_frac * sum(dfs)
            for dfs in by_q.values()
            if sum(dfs) > 0
        )

    if not force_wand and (
        sum(r["df"] for r in qt_rows) < cfg.wand_route_min_postings
        or not _batch_prunable()
    ):
        from bge_m3_onnx_spark.plans.query import run_queries

        if stats_out is not None:
            # historical flag: True == "routed AWAY to the exact path";
            # router_choice is the unambiguous spelling (WAND_CAL artifacts)
            stats_out["routed"] = True
            stats_out["router_choice"] = "exact"
        return run_queries(spark, idx, queries, k=k, cfg=cfg)
    if stats_out is not None:
        stats_out["routed"] = False
        stats_out["router_choice"] = "wand"
    # Size EVERY internal shuffle from driver-known Σdf: WAND's phases are
    # metadata-sized jobs, and running their ~dozen shuffles at the session
    # default (e.g. 64) puts hundreds of near-empty tasks on the latency path —
    # measured ~10 s of fixed machinery cost at 100k turns before this. Each
    # exchange takes the width as an argument; the session conf is only read,
    # so queries sharing a session never change each other's widths.
    # Width from Σdf/_POSTINGS_PER_PARTITION (1M), not Σdf/100k: WAND's
    # shuffles carry METADATA and PRUNED postings, which are normally ≪ Σdf —
    # the exact path's rows-per-task model over-parallelizes every tiny stage
    # here (worst case, an unprunable stopword batch, still gets ~1M scored
    # postings per task).
    width = max(
        1, min(shuffle_width_cap(spark), sum(r["df"] for r in qt_rows) // _POSTINGS_PER_PARTITION)
    )
    return _run_queries_wand_forced(spark, idx, queries, k, cfg, qt_rows, width, stats_out)


def _run_queries_wand_forced(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: dict[int, str],
    k: int,
    cfg: EngineConfig,
    qt_rows: list[dict],
    width: int,
    stats_out: dict | None,
) -> DataFrame:
    if not qt_rows:
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", IntegerType()),
                    StructField("rank", IntegerType()),
                    StructField("doc_id", StringType()),
                    StructField("score", DoubleType()),
                ]
            ),
        )
    n, avgdl = idx.n_docs, idx.avgdl
    qt_stats_rows = [(r["query_id"], r["term"], int(r["df"])) for r in qt_rows]
    qterms_list = sorted({t for _, t, _ in qt_stats_rows})

    # ---- driver-known LITERAL relations ----
    # Every relation already known on the driver (query terms, df, θ, ranges,
    # maxima, essential sets, surviving blocks) enters the plan as a literal,
    # never as a createDataFrame side: explode(element_at(map, key)) IS the
    # inner join against a driver-known relation, with no exchange and no
    # subjob (the r3 profile, WAND_CAL_r03.json, found ~25 such broadcast
    # subjobs per batch). Each literal relation is ONE SQL expression rendered
    # by functions/sql_literal.py and parsed in one JVM call: built from
    # per-value F.lit calls, the same maps, Column trees and IN lists cost ~1,500
    # py4j round trips per request, most of a warm request's driver time.
    # (Measured anti-optimization note: coalesce(1) on parallelized tiny
    # relations REGRESSED the machinery 3x — literals sidestep that entirely.)
    _terms_by_qid: dict[int, list[str]] = {}
    _qids_by_term: dict[str, list[int]] = {}
    _df_by_term: dict[str, int] = {}
    for _q, _t, _d in qt_stats_rows:
        _terms_by_qid.setdefault(int(_q), []).append(_t)
        _qids_by_term.setdefault(_t, []).append(int(_q))
        _df_by_term[_t] = int(_d)

    def _list_map(by_key: dict) -> str:
        """{key: [values]} as one SQL map literal, keys and values sorted."""
        return sql_literal({key: sorted(vs) for key, vs in sorted(by_key.items())})

    all_qids_map = _list_map(_qids_by_term)
    q2terms_lit = _list_map(_terms_by_qid)
    # df as a DOUBLE literal per term: idf is then computed with the SAME
    # Spark-side idf_col expression the exact path uses — java.lang.Math.log
    # and Python math.log can disagree at the last ulp, and WAND's
    # rank-identity with the exact plan must not depend on libm flavor.
    df_map_lit = sql_literal({t: float(d) for t, d in sorted(_df_by_term.items())})
    score_sql = bm25_term_score(
        "tf", "dl", idf_col(f"element_at({df_map_lit}, term)", n), avgdl, cfg
    )

    def _score_postings_lit(postings: DataFrame, qids_map: str) -> DataFrame:
        """block postings (term, doc_id, doc_ord, tf, dl) × literal query-term
        map → per-doc sums, via explode instead of a broadcast join. doc_id
        rides along as a group key (it is a function of doc_ord), so no phase
        ever joins the docs relation. Summation stays the term-sorted
        deterministic fold shared with the exact path, over ``width``
        partitions hashed on (query_id, doc_ord): the fold and phase 3b's
        joins on those keys reuse that one exchange."""
        per_term = postings.selectExpr(
            f"explode(element_at({qids_map}, term)) AS query_id",
            "doc_ord",
            "doc_id",
            "term",
            f"{score_sql} AS s",
        ).repartition(width, "query_id", "doc_ord")
        return sum_scores_deterministic(per_term, ["query_id", "doc_ord", "doc_id"])

    # every block's postings ("Reading a block", module docstring); block_id
    # is attached once the stored ranges are known
    qpostings = idx.pruned_postings(qterms_list)
    # ---- driver-side phase 2 gate (r4) ----
    # Phase 2 is pure metadata math over Σ_t n_blocks(t) rows — bounded and
    # driver-estimable BEFORE any job (df is known; block_range_for_term is
    # the deterministic cut rule). When it fits, θ and phase 2 read the
    # same memoized per-block metadata, in NumPy on the driver: the r4 profile
    # showed the distributed phase-2/3 tree cost ~2.9 s of pure Catalyst
    # planning plus ~10 broadcast-exchange subjobs per batch — none of
    # which touches data that isn't already driver-sized.
    # Per-term non-empty block count is bounded by BOTH the postings count d
    # (each non-empty block holds ≥1 posting) and the ordinal-space tiling
    # ceil(n / range) (blocks tile [0, n)). ceil(d / range) alone assumes
    # ~range postings per block and underestimates by ~n/d for mid-frequency
    # terms whose postings are spread one-per-block — at df=10^9 over n=10^12
    # that reads ~8k where the actual count is ~8M, letting the cap pass and
    # the collect pull millions of rows to the driver.
    # A merge keeps untouched terms' blocks at the range they were cut at,
    # floor(n_cut·block_size/df) ≤ the current range, over ordinals
    # [0, n_cut): at most ~1/block_size more blocks than this estimate.
    _est_blocks = sum(
        min(d, -(-n // max(cfg.block_range_for_term(d, n), 1)))
        for d in _df_by_term.values()
    )
    _driver_phase2 = _est_blocks <= _PHASE2_DRIVER_CAP
    if stats_out is not None:
        stats_out["phase2"] = "driver" if _driver_phase2 else "distributed"

    # The query terms' block metadata, the only blocks relation the query
    # reads, coalesced to the Σdf-sized width (the source keeps the
    # BUILD's partitioning). Driver phase 2 takes each term's rows from
    # the index's driver memo (InvertedIndex.block_meta_for_terms), which
    # collects only the terms it has not seen, in one scan of this same
    # plan: a batch of seen terms runs no metadata job at all. The
    # relation itself is built only where something reads it: the
    # distributed phases (the θ collect, then the final job, which re-scans
    # the pruned metadata), or stats_out's plan capture and block counts.
    qmeta = None
    if not _driver_phase2 or stats_out is not None:
        qmeta = idx.pruned_block_meta(qterms_list).coalesce(width)

    # ---- phase 1: θ, the per-term maxima and the stored ranges from ONE
    # metadata lookup (r2 measured ~9 s of fixed machinery cost, much of
    # it driver job latency) ----
    # Metadata-only θ (module docstring): driver phase 2 reads every
    # query-term block row anyway; the distributed branch collects only
    # each term's top-k and neither reads nor fills the memo. θ, tmax and
    # ranges come from the same rows — no block read, no rescore.
    if _driver_phase2:
        if stats_out is not None and stats_out.get("capture_plans"):
            stats_out["plan_theta"] = _fmt_plan(qmeta)
        _t0_theta = time.monotonic()
        meta, n_scanned = idx.block_meta_for_terms(qterms_list, _PHASE2_DRIVER_CAP, width)
        by_term = {t: pairs for t, (_, pairs) in meta.items()}
        range_by_term = {t: rng for t, (rng, _) in meta.items()}
    else:
        # Each term's top-k blocks by block max, as a two-phase (salted)
        # top-k: past the driver cap a 10^12-scale stopword term has
        # millions of block-metadata rows, and a plain partitionBy(term)
        # window would funnel them through ONE task. Phase A takes top-k
        # per (term, salt) — 32-way parallel per term; phase B re-ranks
        # the ≤ 32·k survivors per term. Each window's exchange is an
        # explicit repartition at the width.
        order = (F.desc("block_max_score"), F.asc("block_id"))
        w_pre = Window.partitionBy("term", "__salt").orderBy(*order)
        w_top = Window.partitionBy("term").orderBy(*order)
        theta_df = (
            qmeta.withColumn("__salt", F.pmod(F.xxhash64("block_id"), F.lit(32)))
            .repartition(width, "term", "__salt")
            .withColumn("rk", F.row_number().over(w_pre))
            .filter(F.col("rk") <= k)
            .repartition(width, "term")
            .withColumn("rk", F.row_number().over(w_top))
            .filter(F.col("rk") <= k)
            .select("term", "block_id", "block_range", "block_max_score")
        )
        if stats_out is not None and stats_out.get("capture_plans"):
            stats_out["plan_theta"] = _fmt_plan(theta_df)
        _t0_theta = time.monotonic()
        by_term, range_by_term = block_meta_rows(theta_df.collect())
        n_scanned = len(qterms_list)
    _t_theta = time.monotonic() - _t0_theta
    _t0_final = time.monotonic()
    tmax = {t: max(m for _, m in pairs) for t, pairs in by_term.items()}
    theta = _block_max_theta(by_term, _terms_by_qid, k)
    _blk_lists = by_term if _driver_phase2 else {}

    # ---- phase 2: ordinal-aligned segment pruning (exact, lossless) ----
    # Every term's blocks TILE the doc-ordinal axis (block_id = ord // range), so
    # the tightest metadata upper bound at ordinal x is
    #     s_q(x) = Σ_{t ∈ q} block_max(t, x // range_t)
    # — piecewise constant, changing only at block starts. A block of t survives
    # for q iff some segment it overlaps has s_q ≥ θ_q. This strictly dominates
    # the classic  block_max(t,b) + Σ_{t'≠t} global_max(t')  bound (which prunes
    # NOTHING when per-term maxima come from short spike docs that cannot
    # co-occur: global maxima sum to far above any real doc's score).
    # Safety: score(d) ≤ s_q(ord(d)) for every doc d, so any top-k doc's segment
    # clears θ and every block containing d overlaps that segment.
    # All joins below are EQUI-joins on metadata relations (O(Σ blocks · |q|)):
    # boundaries → active block per (boundary, term) via x // range — no range
    # join, no window, safe for stopword terms with millions of blocks.
    if not tmax:  # no query term has any block → empty result
        return spark.createDataFrame(
            [],
            "query_id int, rank int, doc_id string, score double",
        )
    theta_map = sql_literal(
        {
            qid: float(theta.get(qid, float("-inf")))
            for qid in sorted({q for q, _, _ in qt_stats_rows})
        }
    )
    # the stored ranges stay BIGINT, as the build's .cast("long") made them
    range_map = (
        f"CAST({sql_literal(dict(sorted(range_by_term.items())))} AS MAP<STRING, BIGINT>)"
    )
    range_of_term = f"element_at({range_map}, term)"
    # the query terms' postings keyed by their block under the stored range
    qpost = qpostings.selectExpr(
        "term", "doc_id", "doc_ord", "tf", "dl", _block_of("doc_ord", range_of_term)
    )
    if not _blk_lists:
        block_meta = qmeta.selectExpr(
            "term", "block_id", "block_id * block_range AS x", "block_max_score"
        )
        # Same 1e-6 pad as the driver branch: θ is a block max from the
        # build's NumPy kernel, which can sit an ulp above the query
        # plan's score of the same posting, and the distributed sum's
        # order is nondeterministic at the last ulp. The pad only admits
        # blocks — lossless.
        theta_padded = f"element_at({theta_map}, query_id) - {sql_literal(1e-6)}"
        # distinct segment boundaries per query (starts of any query term's blocks),
        # PRE-FILTERED by the classic bound before the ×|q| fan-out (r2 advisor: a
        # stopword term contributes millions of boundaries, and expanding every one
        # against every query term made the metadata job O(|boundaries|·|q|)).
        # For a boundary x contributed by term t:
        #     s_q(x) ≤ block_max(t, x) + Σ_{t'≠t} global_max(t')   (classic bound)
        # so s_q(x) ≥ θ implies EVERY contributing term's classic bound clears θ —
        # filtering on min(classic) ≥ θ is lossless and removes the fan-out for
        # segments only a weak stopword block opened.
        tmax_map = sql_literal({t: float(m) for t, m in sorted(tmax.items())})
        qsum_map = sql_literal(
            {
                qid: float(sum(tmax.get(t, 0.0) for q2, t, _ in qt_stats_rows if q2 == qid))
                for qid in sorted({q for q, _, _ in qt_stats_rows})
            }
        )
        bounds = (
            block_meta.selectExpr(
                "term",
                "x",
                "block_max_score",
                f"explode(element_at({all_qids_map}, term)) AS query_id",
            )
            .repartition(width, "query_id", "x")
            .groupBy("query_id", "x")
            .agg(
                F.expr(
                    f"min(block_max_score + element_at({qsum_map}, query_id)"
                    f" - element_at({tmax_map}, term)) AS classic_bound"
                )
            )
            .filter(f"classic_bound >= {theta_padded}")
            .select("query_id", "x")
        )
        # active block of EVERY query term at each boundary; inner join drops terms
        # with no block there (they contribute 0 to the sum — correct). Both
        # sides are hashed at the width: a side left to the planner would
        # take the session's.
        active = (
            bounds.selectExpr(
                "query_id", "x", f"explode(element_at({q2terms_lit}, query_id)) AS term"
            )
            .selectExpr("query_id", "x", "term", _block_of("x", range_of_term))
            .repartition(width, *_KEYS)
            .join(
                block_meta.select(*_KEYS, "block_max_score").repartition(width, *_KEYS),
                _KEYS,
            )
        )
        surviving_x = (
            active.repartition(width, "query_id", "x")
            .groupBy("query_id", "x")
            .agg(F.expr("sum(block_max_score) AS s"))
            .filter(f"s >= {theta_padded}")
        )
    # ---- MaxScore essential-term partition (driver-side, from θ + tmax) ----
    # Sort each query's terms by global max ascending; the maximal prefix whose
    # cumulative Σtmax stays BELOW θ is NON-ESSENTIAL: those terms alone cannot
    # lift any doc to θ, so every top-k doc contains ≥1 essential term.
    # Candidates therefore come from ESSENTIAL surviving blocks only, and
    # non-essential terms are read later, only for candidates that can still
    # clear θ. This is what makes mixed rare+hot queries cheap: for
    # "rare_term the", θ (driven by the rare term's idf) exceeds tmax("the"),
    # so "the" is non-essential and its millions of postings are read only
    # for the handful of rare-term candidates within reach of θ — the
    # ordinal-tiled segment bound alone cannot do this, because the rare term's
    # wide tiles carry its high max into every segment (measured: 618/682
    # blocks survived for "iceberg3 the"; with MaxScore only the rare term's
    # blocks are candidate sources).
    qids = sorted({q for q, _, _ in qt_stats_rows})
    ess_pairs_rows: list[tuple[int, str]] = []
    ness_pairs_rows: list[tuple[int, str]] = []
    ness_sum: dict[int, float] = {}
    for qid in qids:
        tq = sorted((tmax.get(t, 0.0), t) for q2, t, _ in qt_stats_rows if q2 == qid and t in tmax)
        th = theta.get(qid, float("-inf"))
        cum, n_ness = 0.0, 0
        for m, t in tq:
            if cum + m < th:
                cum += m
                n_ness += 1
            else:
                break
        # ≥1 essential term always: if θ equals Σ tmax (one doc attains every
        # term's max) a one-ulp difference between this ascending Python sum
        # and Spark's deterministic fold could classify EVERY term
        # non-essential, leaving no candidate source and silently returning
        # zero rows (ADVICE r3). Keeping the max-tmax term essential is always
        # sound — MaxScore only requires the non-essential prefix sum < θ.
        if n_ness == len(tq) and tq:
            n_ness -= 1
            cum -= tq[-1][0]
        ness_sum[qid] = cum
        ness_pairs_rows += [(qid, t) for _, t in tq[:n_ness]]
        ess_pairs_rows += [(qid, t) for _, t in tq[n_ness:]]
    ness_map = sql_literal({qid: float(ness_sum[qid]) for qid in qids})
    # essential/non-essential sets as LITERALS (driver-computed above):
    # term → qids it is essential for; qid → its essential terms. With the
    # range map, the covering-block derivations below are pure
    # projections, not joins.
    _ess_by_term: dict[str, list[int]] = {}
    _ess_by_qid: dict[int, list[str]] = {}
    for _q, _t in ess_pairs_rows:
        _ess_by_term.setdefault(_t, []).append(_q)
        _ess_by_qid.setdefault(_q, []).append(_t)
    _ness_by_qid: dict[int, list[str]] = {}
    for _q, _t in ness_pairs_rows:
        _ness_by_qid.setdefault(_q, []).append(_t)
    ess_qids_map = _list_map(_ess_by_term)
    q2ess_terms_lit = _list_map(_ess_by_qid)

    def _covering_keys(docs: DataFrame, q2terms: str) -> DataFrame:
        """(term, block_id) of every block that can hold a posting of a
        (query_id, doc_ord) row for the query's ``q2terms`` terms: block_id
        = doc_ord // the term's STORED range — valid even for blocks kept
        across incremental merges under older corpus stats."""
        return (
            docs.selectExpr("doc_ord", f"explode(element_at({q2terms}, query_id)) AS term")
            .selectExpr("term", _block_of("doc_ord", range_of_term))
            .repartition(width, *_KEYS)
            .dropDuplicates(_KEYS)
        )

    # back to block keys: the boundary x lies in block x // range_t of each
    # ESSENTIAL term (candidate sources; non-essential blocks are never
    # candidate sources — see the MaxScore argument above)
    _full_survival = False
    _surv_expr = None  # literal surviving-block predicate, else surviving_keys
    if _blk_lists:
        # ---- phase 2 on the driver (NumPy over the collected metadata) ----
        # Semantics identical to the distributed branch below: per query,
        # boundaries = block starts of its terms; upper bound at x =
        # Σ_t block_max(t, x // range_t); blocks of ESSENTIAL terms that
        # overlap a surviving segment are candidate sources. The surviving
        # filter carries a 1e-6 pad (admits blocks — lossless; the
        # distributed sum's order is nondeterministic at the same ulp).
        surv_by_term = _phase2_driver(
            _blk_lists, range_by_term, _terms_by_qid, theta, _ess_by_qid
        )
        _n_keys = sum(len(v) for v in surv_by_term.values())
        # Full-survival detection (r6, driver-side — the metadata is already
        # here): when EVERY block of EVERY essential term survived phase 2
        # (the unprunable regime — e.g. forced WAND on a corpus where each
        # block max equals θ), the surviving set is exactly "all blocks of
        # the essential terms", so the block-key filter collapses to a
        # term IN predicate.
        _ess_terms_all = sorted(
            {t for ts in _ess_by_qid.values() for t in ts if t in _blk_lists}
        )
        _full_survival = bool(_ess_terms_all) and all(
            len(surv_by_term.get(t, ())) == len(_blk_lists[t])
            for t in _ess_terms_all
        )
        # literal-IN only while the predicate stays small: a measured 15k-key
        # isin (unprunable stopword batch) bloated every task binary to ~1MB
        # and wrecked codegen — past the cap a broadcast semi-join against a
        # driver-built relation is one cheap subjob instead.
        if _full_survival:
            _surv_expr = sql_in("term", _ess_terms_all)
        elif _n_keys <= 2_000:
            # literal IN-filters: no join, no broadcast-exchange subjob
            _surv_expr = " OR ".join(
                f"(term = {sql_literal(_t2)} AND {sql_in('block_id', _ids)})"
                for _t2, _ids in sorted(surv_by_term.items())
            ) or "false"
        else:
            surviving_keys = spark.createDataFrame(
                [(t2, int(b2)) for t2, ids2 in sorted(surv_by_term.items()) for b2 in ids2],
                "term string, block_id long",
            )
    else:
        surviving_keys = (
            surviving_x.selectExpr(
                "x", f"explode(element_at({q2ess_terms_lit}, query_id)) AS term"
            )
            .selectExpr("term", _block_of("x", range_of_term))
            .repartition(width, *_KEYS)
            .dropDuplicates(_KEYS)
        )
    if _surv_expr is not None:
        surviving = qpost.filter(_surv_expr)
    else:
        surviving = _blocks_of(qpost, surviving_keys)

    def _not_surv(keys: DataFrame) -> DataFrame:
        if _surv_expr is not None:
            return keys.filter(f"NOT ({_surv_expr})")
        return keys.join(F.broadcast(surviving_keys), _KEYS, "left_anti")

    # ---- scoring-volume-aware width (r6: partitioning from data size) ----
    # The Σdf-sized width suits the METADATA jobs, but would single-thread
    # the unprunable/forced regime, where phase 3 scores ~every posting of
    # the query terms. After driver-side phase 2 the survival is KNOWN:
    # widen phase 3's exchanges to the estimated volume. Posting rows are
    # filtered in the scan's own partitions.
    if _blk_lists:
        if _full_survival:
            _est_rows = sum(_df_by_term.get(t, 0) for t in _ess_terms_all)
        else:
            _est_rows = _n_keys * cfg.block_size
        width = max(
            width,
            min(spark.sparkContext.defaultParallelism, _est_rows // _SCORE_ROWS_PER_TASK),
        )

    # ---- phase 3a: candidates + exact ESSENTIAL score ----
    # The candidates are the surviving essential postings themselves: after
    # either phase-2 branch, every essential block of a doc that can reach
    # the k-th survived (module docstring, phase 3), so its s_ess over the
    # surviving postings is exact.
    s_ess = _score_postings_lit(surviving, ess_qids_map)

    # ---- θ-filter before the non-essential completion ----
    # score(d) = s_ess(d) + s_ness(d) ≤ s_ess(d) + Σ_{t non-ess} tmax(t), so a
    # candidate below θ on that bound can never reach the top-k; only the
    # survivors pay the non-essential read. ε pads the float comparison
    # (scores are O(10); 1e-6 admits a few extra candidates, never drops one).
    _strong_cond = (
        f"score + element_at({ness_map}, query_id)"
        f" >= element_at({theta_map}, query_id) - {sql_literal(1e-6)}"
    )

    # ---- phase 3b: non-essential completion for the strong candidates ----
    # Skipped entirely when no query has a non-essential term (the common
    # WAND-routed shape — stopword-heavy queries where every term is
    # essential): the 3b subplan otherwise adds ~6 broadcast-exchange subjobs
    # and real Catalyst planning time for provably-empty relations, and
    # s_ess IS the full exact score.
    # 3b reads the surviving postings twice and ``strong`` three times;
    # nothing is cached, so the reads re-scan the pruned postings (themselves
    # cached or bucket-pruned). ``doc_ord IS NOT NULL`` is the filter the
    # optimizer infers for strong's doc_ord joins below; stated here, it gives
    # all three readers the same phase-3a subtree, so ReuseExchange runs its
    # scan and fold once per job instead of twice.
    non_keys = None
    if ness_pairs_rows:
        strong = s_ess.filter(f"({_strong_cond}) AND doc_ord IS NOT NULL").select(
            "query_id", "doc_ord"
        )
        needed_non = _covering_keys(strong, _list_map(_ness_by_qid))
        # a term can be essential for one query and non-essential for another —
        # excluding every surviving block already read keeps postings
        # duplicate-free (a duplicated posting would double-count in the fold)
        non_keys = _not_surv(needed_non)
        full = surviving.unionByName(_blocks_of(qpost, non_keys))
        strong_ords = strong.select("doc_ord").repartition(width, "doc_ord").distinct()
        scored = _score_postings_lit(full.join(strong_ords, "doc_ord"), all_qids_map)
        scored = scored.join(strong, ["query_id", "doc_ord"], "left_semi")
    else:
        # every term essential → s_ess is already the exact full score for
        # every candidate, and the left-semi of s_ess against its own
        # θ-filter IS that filter — apply it directly: no broadcast-join
        # subjob (r6; plan: 1 join removed).
        scored = s_ess.filter(_strong_cond)

    # doc_id came with the postings: the top-k reads no docs relation. At
    # width 1 the fold's exchange already left every scored row in ONE
    # partition, which the rank window's per-query distribution accepts as
    # is; a wider fold is hashed on (query_id, doc_ord) and needs its own
    # per-query exchange at the width.
    final_df = topk(scored if width == 1 else scored.repartition(width, "query_id"), k)
    if stats_out is not None:
        if stats_out.get("capture_plans"):
            # plan-audit hook (tools/explain_audit.py)
            stats_out["plan_surviving"] = _fmt_plan(surviving)
            stats_out["plan_final"] = _fmt_plan(final_df)
        # Diagnostic counts: each one is a job of its own that recomputes its
        # relation (nothing is cached), and none sits in the returned plan.
        # block totals/survivors are DRIVER-KNOWN when phase 2 ran on the
        # driver (the metadata was collected): no count job at all; the
        # .count() fallbacks serve the distributed-phase-2 path only.
        if _blk_lists:
            stats_out["blocks_total"] = sum(len(v) for v in _blk_lists.values())
            stats_out["blocks_surviving"] = (
                sum(len(_blk_lists[t]) for t in _ess_terms_all)
                if _full_survival
                else sum(len(v) for v in surv_by_term.values())
            )
        else:
            stats_out["blocks_total"] = qmeta.count()
            stats_out["blocks_surviving"] = qmeta.join(surviving_keys, _KEYS, "left_semi").count()
        # extra blocks READ (phase 3b's); key relations may name absent
        # blocks: count via qmeta
        stats_out["blocks_extra_decoded"] = (
            qmeta.join(non_keys, _KEYS, "left_semi").count() if non_keys is not None else 0
        )
        # the candidates are s_ess's (query_id, doc_ord) pairs, the strong
        # ones those passing the θ-filter: both in one phase-3a job
        counts = s_ess.selectExpr("count(*) AS n", f"count_if({_strong_cond}) AS n_strong").first()
        stats_out["n_candidates"] = counts["n"]
        stats_out["n_strong"] = counts["n_strong"]
        stats_out["essential_terms"] = {
            qid: sorted(t for q2, t in ess_pairs_rows if q2 == qid) for qid in qids
        }
        stats_out["theta"] = dict(theta)
        stats_out["block_meta_collected"] = n_scanned
        stats_out["t_theta_sec"] = round(_t_theta, 3)
        stats_out["t_final_sec"] = round(time.monotonic() - _t0_final, 3)
    return final_df
