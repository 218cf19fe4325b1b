"""WAND path must be rank-identical AND score-equal to the exact path on every
fixture query — block-max pruning is lossless (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bge_m3_onnx_spark.plans.build_index import build_index
from bge_m3_onnx_spark.plans.query import run_queries
from bge_m3_onnx_spark.plans.wand import plan_reads, plan_runs, run_queries_wand


@pytest.fixture(scope="module")
def built(spark, tiny_transcripts):
    return build_index(tiny_transcripts, with_blocks=True)


@pytest.fixture(scope="module")
def skewed(spark):
    """Fresh index over a corpus with realistic score variance (spiky tf,
    varied dl) — the flat fixture corpus cannot discriminate pruning."""
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts_skewed

    return build_index(
        synth_transcripts_skewed(spark, n_convs=2000, turns_per_conv=10), with_blocks=True
    )


def _collect(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def test_wand_matches_exact(spark, built, query_set):
    # force_wand: the fixture corpus is far below the routing threshold, and this
    # test exists to prove the PRUNING machinery lossless, not the router.
    k = 10
    exact = _collect(run_queries(spark, built, query_set, k=k))
    wand = _collect(run_queries_wand(spark, built, query_set, k=k, force_wand=True))
    assert set(exact) == set(wand)
    for qid in exact:
        e, w = exact[qid], wand[qid]
        assert [(r, d) for r, d, _ in e] == [(r, d) for r, d, _ in w], f"query {qid}"
        for (_, _, se), (_, _, sw) in zip(e, w):
            assert abs(se - sw) < 1e-9


def test_wand_matches_exact_small_k(spark, built, query_set):
    # k=1 → aggressive θ → heaviest pruning; still must be identical
    subset = {q: query_set[q] for q in (1, 3, 9, 11)}
    exact = _collect(run_queries(spark, built, subset, k=1))
    wand = _collect(run_queries_wand(spark, built, subset, k=1, force_wand=True))
    assert set(exact) == set(wand)
    for qid in exact:
        assert [(r, d) for r, d, _ in exact[qid]] == [(r, d) for r, d, _ in wand[qid]]


def test_wand_stats_report_pruning(spark, built, query_set):
    """stats_out fills deterministic block counts; the pruning invariants hold
    (surviving ≤ total; rescored ≤ total) and routing is reported."""
    stats: dict = {}
    res = run_queries_wand(
        spark, built, {1: query_set[1]}, k=1, force_wand=True, stats_out=stats
    )
    res.collect()
    assert stats["routed"] is False
    assert 0 < stats["blocks_surviving"] <= stats["blocks_total"]
    # phase 3 never re-reads a block phase 2 already read
    assert 0 <= stats["blocks_extra_decoded"] <= stats["blocks_total"] - stats["blocks_surviving"]
    routed: dict = {}
    run_queries_wand(spark, built, {1: query_set[1]}, k=1, stats_out=routed).collect()
    assert routed["routed"] is True


def test_wand_actually_prunes_on_skewed_corpus(spark, skewed):
    """On a corpus with realistic score variance (spiky tf, varied dl) the
    segment bound must skip most blocks for a hot single-term query — AND stay
    lossless. The flat fixture corpus can't discriminate (every block max == θ),
    which is exactly why this fixture exists."""
    idx = skewed
    stats: dict = {}
    wand = _collect(
        run_queries_wand(spark, idx, {1: "the"}, k=10, force_wand=True, stats_out=stats)
    )
    exact = _collect(run_queries(spark, idx, {1: "the"}, k=10))
    assert [(r, d) for r, d, _ in wand[1]] == [(r, d) for r, d, _ in exact[1]]
    for (_, _, sw), (_, _, se) in zip(wand[1], exact[1]):
        assert abs(sw - se) < 1e-9
    assert stats["blocks_surviving"] + stats["blocks_extra_decoded"] < 0.25 * stats["blocks_total"], stats


def test_wand_routes_small_queries_to_exact(spark, built, query_set):
    # Σ df of the fixture queries is tiny → the default path must route to the
    # one-job exact plan and still return identical results.
    import dataclasses

    assert built.cfg.wand_route_min_postings > 0
    subset = {q: query_set[q] for q in (1, 3)}
    routed = _collect(run_queries_wand(spark, built, subset, k=5))
    exact = _collect(run_queries(spark, built, subset, k=5))
    assert routed == exact
    # and with both routing gates open the machinery path runs — same results.
    cfg0 = dataclasses.replace(
        built.cfg, wand_route_min_postings=0, wand_route_max_residual_frac=1.0
    )
    machinery = _collect(run_queries_wand(spark, built, subset, k=5, cfg=cfg0))
    assert [(r, d) for v in machinery.values() for r, d, _ in v] == [
        (r, d) for v in exact.values() for r, d, _ in v
    ]


def test_wand_routes_unprunable_shapes_to_exact(spark, built, query_set):
    """Residual-df gate (WAND_CAL_r04): a multi-hot-term query keeps most
    blocks above θ at every corpus size, so even above the Σdf threshold the
    router must send it to the exact plan; a concentrated (single-hot-term)
    query with the same Σdf stays on the WAND path."""
    import dataclasses

    cfg0 = dataclasses.replace(built.cfg, wand_route_min_postings=0)
    stats: dict = {}
    # fixture query 2 is multi-term over a tiny corpus — every term carries
    # comparable df, residual ≫ 5% → routed (exact) despite min_postings=0.
    res = run_queries_wand(spark, built, {1: query_set[2]}, k=5, cfg=cfg0, stats_out=stats)
    res.collect()
    assert stats["routed"] is True
    # a single-term query has residual 0 → prunable → machinery runs.
    stats2: dict = {}
    res2 = run_queries_wand(spark, built, {1: "the"}, k=5, cfg=cfg0, stats_out=stats2)
    res2.collect()
    assert stats2["routed"] is False


def test_wand_scores_bit_identical_to_exact(spark):
    """Rank-identity must not hang on IEEE summation order: both paths use the
    term-sorted deterministic fold (operators/bm25.py:sum_scores_deterministic)
    and the same Spark-side idf expression, so scores are BIT-identical — no
    rounding in this comparison. (Regression: at 10M docs a 1-ulp sum-order
    difference flipped tied top-k membership between the paths.)"""
    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.plans.query import run_queries
    from bge_m3_onnx_spark.plans.wand import run_queries_wand
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts

    idx = build_index(
        synth_transcripts(spark, n_convs=120, turns_per_conv=5),
        with_ordinals=True,
        with_blocks=True,
    )
    q = {1: "spark shuffle partition", 2: "the", 3: "index varbyte"}
    e = run_queries(spark, idx, q, k=10).collect()
    w = run_queries_wand(spark, idx, q, k=10, force_wand=True).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], r["score"])  # noqa: E731
    assert sorted(map(key, e)) == sorted(map(key, w))  # exact floats, no round


def test_wand_one_doc_attains_every_term_max(spark):
    """ADVICE r3: if one doc attains EVERY query term's max score, θ (k=1)
    equals Σ tmax exactly, and a 1-ulp divergence between the driver's
    ascending Python sum and Spark's deterministic fold could classify every
    term non-essential → no candidate source → silent empty result. The
    MaxScore guard keeps ≥1 essential term, so the top-1 must come back and
    match the exact path."""
    import datetime as _dt

    ts = _dt.datetime(2026, 1, 1)
    rows = [
        # conv-a:0 — shortest doc containing BOTH terms → attains both maxima
        ("conv-a", 0, "user", "alpha beta", None, ts),
        # longer docs with the same tf → strictly lower per-term scores
        ("conv-b", 0, "user", "alpha filler filler filler", None, ts),
        ("conv-c", 0, "user", "beta filler filler filler", None, ts),
        ("conv-d", 0, "user", "filler filler filler filler", None, ts),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    idx = build_index(t, with_blocks=True)
    q = {1: "alpha beta"}
    exact = _collect(run_queries(spark, idx, q, k=1))
    wand = _collect(run_queries_wand(spark, idx, q, k=1, force_wand=True))
    assert wand == exact
    assert wand[1][0][1] == "conv-a:0"


@pytest.mark.parametrize(
    "q,k",
    [
        ({1: "the"}, 10),
        ({1: "the"}, 1),
        ({1: "iceberg3"}, 1),
        ({1: "iceberg3 the"}, 10),
        ({1: "the of the zzz-not-in-corpus"}, 10),
        ({1: "iceberg3 colbert7"}, 50),
        ({1: "the", 2: "iceberg3"}, 10),
    ],
    ids=[
        "hot_k10", "hot_k1", "tail_k1", "rare_hot_k10", "repeated_absent_k10",
        "k_above_blocks", "two_single_term_queries",
    ],
)
def test_block_max_theta_is_lossless(spark, skewed, q, k):
    """Fresh index: θ comes from block metadata alone (no block read before the θ
    collect), never exceeds the true k-th score, and forced WAND stays
    bit-identical to the exact plan. Phase 2 runs on the driver, and block
    postings are read from the postings relation: no plan runs a Python task. doc_id comes with the postings: the final plan
    never reads the docs relation, and a batch of single-term queries (driver
    phase 2, literal relations only) broadcasts nothing."""
    stats: dict = {"capture_plans": True}
    wand = _collect(run_queries_wand(spark, skewed, q, k=k, force_wand=True, stats_out=stats))
    exact = _collect(run_queries(spark, skewed, q, k=k))
    assert wand == exact  # (rank, doc_id, score) per query, floats unrounded
    assert stats["phase2"] == "driver"
    assert not plan_runs(stats["plan_theta"], "MapInArrow")
    assert not plan_runs(stats["plan_theta"], "Window")  # driver phase 2: a plain scan
    assert not plan_runs(stats["plan_final"], "MapInArrow")
    assert not plan_reads(stats["plan_final"], skewed.docs)
    if all(" " not in text for text in q.values()):
        assert stats["essential_terms"] == {qid: [text] for qid, text in q.items()}
        assert stats["blocks_extra_decoded"] == 0
        assert not plan_runs(stats["plan_final"], "BroadcastExchange")
    for qid in q:
        kth = [score for rank, _, score in exact.get(qid, []) if rank == k]
        if kth:
            assert stats["theta"][qid] <= kth[0]
        else:  # fewer than k matches → no term can have k blocks
            assert stats["theta"][qid] == float("-inf")
    if q[1] == "iceberg3 colbert7":
        assert stats["theta"][1] == float("-inf"), "expected every term to hold fewer than k blocks"


def test_skipped_completion_with_pruned_essential_block(spark, monkeypatch):
    """Two essential terms, one of whose blocks is pruned while a candidate
    from the other term's surviving block still holds a posting in it.
    Neither phase-2 branch reads that block: the candidate cannot reach the
    k-th score, so both branches keep the same candidates and strong
    candidates, stay bit-identical to the exact plan, and run no Python task.

    block_size 2 over 16 docs (ordinal = rank of doc_id): "aa" (df 4) has
    blocks [0, 8) and [8, 16), "bb" (df 8) four blocks of 4. "bb"'s block
    [4, 8) holds only long docs, so the segment [4, 8) stays below θ (the
    2nd-largest "bb" block max), while "aa"'s block [0, 8) survives through
    [0, 4). c04 holds both terms in [4, 8)."""
    import dataclasses
    import datetime as _dt

    import bge_m3_onnx_spark.plans.wand as wand_mod
    from bge_m3_onnx_spark.config import DEFAULT_CONFIG

    long = " zz" * 40
    texts = [
        "bb", "aa" + long, "bb zz", "zz", "aa bb" + long, "bb" + long, "zz", "zz",
        "aa", "bb", "bb zz", "aa zz", "bb", "bb zz", "zz", "zz",
    ]
    ts = _dt.datetime(2026, 1, 1)
    t = spark.createDataFrame(
        [(f"c{i:02d}", 0, "user", x, None, ts) for i, x in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    idx = build_index(t, cfg=dataclasses.replace(DEFAULT_CONFIG, block_size=2), with_blocks=True)
    q = {1: "aa bb"}
    exact = _collect(run_queries(spark, idx, q, k=2))
    candidates = []
    for cap, phase2 in ((wand_mod._PHASE2_DRIVER_CAP, "driver"), (0, "distributed")):
        monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
        stats: dict = {"capture_plans": True}
        wand = _collect(run_queries_wand(spark, idx, q, k=2, force_wand=True, stats_out=stats))
        assert not plan_runs(stats["plan_theta"], "MapInArrow")
        assert not plan_runs(stats["plan_final"], "MapInArrow")
        assert stats["essential_terms"] == {1: ["aa", "bb"]}
        assert (stats["blocks_total"], stats["blocks_surviving"]) == (6, 5)
        assert (stats["phase2"], stats["blocks_extra_decoded"]) == (phase2, 0)
        candidates.append((stats["n_candidates"], stats["n_strong"]))
        assert wand == exact
    assert candidates[0] == candidates[1]


def test_essential_term_with_every_block_pruned(spark, monkeypatch):
    """An essential term whose every block lies in pruned segments leaves no
    surviving block of its own; the surviving-block predicate must still be a
    valid (and lossless) filter on both phase-2 branches.

    block_size 2 over 32 docs (ordinal = rank of doc_id). "tt" (df 8) has one
    block, [0, 8), and nothing else lives there, so that segment's bound is
    tmax(tt) < θ = the 2nd "uu" block max. "aa" (long docs in [16, 32)) is
    non-essential, and tmax(aa) + tmax(tt) ≥ θ makes "tt" essential."""
    import dataclasses
    import datetime as _dt

    import bge_m3_onnx_spark.plans.wand as wand_mod
    from bge_m3_onnx_spark.config import DEFAULT_CONFIG

    long = " zz" * 40
    texts = (
        ["tt zz zz zz zz"] + ["tt" + long] * 7 + ["zz"] * 8
        + ["uu", "uu zz", "aa" + long, "uu" + long, "aa" + long, "zz", "uu zz", "zz"] * 2
    )
    ts = _dt.datetime(2026, 1, 1)
    t = spark.createDataFrame(
        [(f"c{i:02d}", 0, "user", x, None, ts) for i, x in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    idx = build_index(t, cfg=dataclasses.replace(DEFAULT_CONFIG, block_size=2), with_blocks=True)
    q = {1: "aa tt uu"}
    exact = _collect(run_queries(spark, idx, q, k=2))
    for cap in (wand_mod._PHASE2_DRIVER_CAP, 0):
        monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
        stats: dict = {}
        wand = _collect(run_queries_wand(spark, idx, q, k=2, force_wand=True, stats_out=stats))
        assert stats["essential_terms"] == {1: ["tt", "uu"]}
        assert (stats["blocks_total"], stats["blocks_surviving"]) == (4, 2)
        assert wand == exact


def test_merged_index_takes_the_fresh_path(spark, skewed):
    """A merge leaves every block max the exact score of a real posting, so a
    merged index takes the fresh path: metadata-only θ and driver phase 2.
    So does its compaction. Both stay exact, run
    no Python task and read no docs relation."""
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts_skewed
    from bge_m3_onnx_spark.streaming.incremental import compact_index, merge_delta

    delta = synth_transcripts_skewed(spark, n_convs=2100, turns_per_conv=10).filter(
        "conv_id >= 'conv-002000'"
    )
    merged = merge_delta(spark, skewed, delta)
    compacted = compact_index(merged)
    q = {1: "the", 2: "iceberg3 the"}
    try:
        for idx in (merged, compacted):
            stats: dict = {"capture_plans": True}
            wand = _collect(run_queries_wand(spark, idx, q, k=10, force_wand=True, stats_out=stats))
            assert stats["phase2"] == "driver"
            assert not plan_runs(stats["plan_theta"], "MapInArrow")
            assert not plan_runs(stats["plan_theta"], "Window")  # driver phase 2: a plain scan
            assert not plan_runs(stats["plan_final"], "MapInArrow")
            assert not plan_reads(stats["plan_final"], idx.docs)
            assert wand == _collect(run_queries(spark, idx, q, k=10))
    finally:
        merged.release()
        compacted.release()


def test_wand_keys_kept_blocks_by_stored_range(spark, tiny_transcripts):
    """A merge keeps an untouched term's blocks, cut under the old corpus
    stats. WAND reads those blocks' postings by block_id = doc_ord // STORED
    range; keyed by the range today's stats give, the same postings land in
    other blocks. Small blocks give the kept terms several blocks each."""
    import dataclasses

    from bge_m3_onnx_spark.config import DEFAULT_CONFIG
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
    from bge_m3_onnx_spark.streaming.incremental import merge_delta

    cfg = dataclasses.replace(DEFAULT_CONFIG, block_size=2)
    base = build_index(tiny_transcripts, cfg=cfg, with_ordinals=True, with_blocks=True)
    delta = synth_transcripts(spark, n_convs=21, turns_per_conv=10).filter("conv_id >= 'conv-000020'")
    merged = merge_delta(spark, base, delta)
    try:
        df = {r["term"]: r["df"] for r in merged.terms.collect()}
        n_blocks, stale = max(
            (r["n"], r["term"])
            for r in merged.blocks.groupBy("term")
            .agg(F.count("*").alias("n"), F.first("block_range").alias("rng"))
            .collect()
            if r["rng"] != cfg.block_range_for_term(df[r["term"]], merged.n_docs)
        )
        assert n_blocks > 1
        for k in (1, 3):
            q = {1: stale, 2: f"{stale} spark"}
            wand = _collect(run_queries_wand(spark, merged, q, k=k, force_wand=True))
            assert wand == _collect(run_queries(spark, merged, q, k=k))
    finally:
        merged.release()
        base.release()


def test_distributed_phase2_with_block_max_theta(spark, skewed, monkeypatch):
    """Pinning the driver cap to 0 sends an index through the rare branches:
    salted top-k pre-rank, metadata θ from each term's top-k blocks,
    distributed phase 2 — still bit-identical to exact."""
    import bge_m3_onnx_spark.plans.wand as wand_mod

    monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", 0)
    q = {1: "the", 2: "iceberg3 the", 3: "iceberg3", 4: "the of"}
    stats: dict = {"capture_plans": True}
    wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
    assert not plan_runs(stats["plan_theta"], "MapInArrow")
    assert plan_runs(stats["plan_theta"], "Window")  # per-term top-k, not a full collect
    assert not plan_runs(stats["plan_final"], "MapInArrow")
    assert not plan_reads(stats["plan_final"], skewed.docs)
    assert stats["phase2"] == "distributed"
    assert wand == _collect(run_queries(spark, skewed, q, k=10))


@pytest.mark.parametrize("k", [1, 10])
@pytest.mark.parametrize("text", ["the", "iceberg3 the", "iceberg3", "the of"])
def test_both_phase2_branches_keep_the_same_blocks(spark, skewed, text, k):
    """Given the same block metadata, θ and essential sets, driver phase 2
    (NumPy) and distributed phase 2 (Spark jobs) return the same surviving
    (term, block_id) set, and it is a subset of the essential terms' blocks."""
    import bge_m3_onnx_spark.plans.wand as wand_mod
    from bge_m3_onnx_spark.plans.query import query_terms, resolve_queries

    _, rows = resolve_queries(skewed, {1: text}, skewed.cfg)
    q = query_terms(rows)
    terms = sorted(q.df_by_term)
    meta, _ = skewed.block_meta_for_terms(terms, wand_mod._PHASE2_DRIVER_CAP, 1)
    blocks = {t: pairs for t, (_, pairs) in meta.items()}
    ranges = {t: rng for t, (rng, _) in meta.items()}
    tmax = {t: max(m for _, m in pairs) for t, pairs in blocks.items()}
    theta = wand_mod._block_max_theta(blocks, q.terms_by_qid, k)
    ess, _, _ = wand_mod._maxscore_partition(q.terms_by_qid, tmax, theta)
    on_driver = wand_mod._phase2_driver(blocks, ranges, q.terms_by_qid, theta, ess)
    driver_keys = {(t, b) for t, ids in on_driver.items() for b in ids}
    keys = wand_mod._phase2_distributed(
        skewed.pruned_block_meta(terms), q, theta, tmax, ranges, ess, 4
    )
    assert {(r["term"], r["block_id"]) for r in keys.collect()} == driver_keys
    essential_blocks = {(t, b) for t in ess[1] for b, _ in blocks[t]}
    assert driver_keys and driver_keys <= essential_blocks


def test_py4j_round_trips_do_not_grow_with_the_batch(spark, built):
    """Every driver-known relation enters the WAND plan as one SQL expression,
    so the JVM round trips a forced request makes do not grow with the number
    of literals: one single-term query and a batch of eight cost the same up
    to a small constant (one py4j call per literal would add hundreds)."""
    terms = [
        r["term"]
        for r in built.terms.orderBy(F.desc("df"), F.asc("term")).limit(8).collect()
    ]
    client = spark.sparkContext._gateway._gateway_client

    def round_trips(queries: dict[int, str]) -> int:
        run_queries_wand(spark, built, queries, k=10, force_wand=True)  # warm the df memo
        send, calls = client.send_command, [0]

        def counting(command, *args, **kwargs):
            # releases of Java objects ("m\nd\n…") follow Python's garbage,
            # much of it left by earlier calls: not counted
            calls[0] += not command.startswith("m\nd\n")
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            run_queries_wand(spark, built, queries, k=10, force_wand=True)
        finally:
            del client.send_command  # back to the class's method
        return calls[0]

    one = round_trips({1: terms[0]})
    eight = round_trips({i + 1: t for i, t in enumerate(terms)})
    assert len(terms) == 8 and one > 0
    assert abs(eight - one) <= 10, (one, eight)


def test_wand_writes_no_session_conf(spark, built, query_set, monkeypatch):
    """Forced WAND gives each exchange its width as an argument: it writes no
    session conf on either phase-2 branch, so queries sharing a session
    cannot change each other's shuffle widths."""
    from pyspark.sql.conf import RuntimeConfig

    import bge_m3_onnx_spark.plans.wand as wand_mod

    writes: list = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        writes.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    q = {qid: query_set[qid] for qid in (1, 2, 4, 9)}
    exact = _collect(run_queries(spark, built, q, k=5))
    for cap, phase2 in ((wand_mod._PHASE2_DRIVER_CAP, "driver"), (0, "distributed")):
        monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
        stats: dict = {}
        wand = _collect(run_queries_wand(spark, built, q, k=5, force_wand=True, stats_out=stats))
        assert stats["phase2"] == phase2
        assert wand == exact
    assert writes == []


def test_wand_and_exact_share_a_session_concurrently(spark, skewed):
    """Two forced-WAND batches and an exact batch run at the same time on one
    session, three rounds each: every answer equals its serial answer bit for
    bit, every round starts at the session's shuffle width, and the width is
    what it was before (overlapping WAND calls that set and restored the
    session width could leave it at the other call's width)."""
    import threading

    calls = {
        "wand": lambda: run_queries_wand(
            spark, skewed, {1: "the", 2: "iceberg3 the"}, k=10, force_wand=True
        ),
        "wand_2": lambda: run_queries_wand(
            spark, skewed, {1: "the of", 2: "iceberg3"}, k=10, force_wand=True
        ),
        "exact": lambda: run_queries(spark, skewed, {1: "the of", 2: "iceberg3"}, k=10),
    }
    serial = {name: _collect(call()) for name, call in calls.items()}
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got: dict[str, list] = {name: [] for name in calls}
    widths: set = set()
    errors: list = []

    def rounds(name):
        try:
            for _ in range(3):
                widths.add(spark.conf.get("spark.sql.shuffle.partitions"))
                got[name].append(_collect(calls[name]()))
        except Exception as e:  # re-raised on the test's thread below
            errors.append(e)

    threads = [threading.Thread(target=rounds, args=(name,)) for name in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == {name: [answer] * 3 for name, answer in serial.items()}
    assert widths == {before}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _memo_rows(idx) -> int:
    """The block-metadata memo's row count, checked against its entries."""
    memo = idx._block_meta
    assert memo.rows == sum(max(len(pairs), 1) for _, pairs in memo.entries.values())
    return memo.rows


def _jobs_of(spark, call):
    """(call's result, the number of Spark jobs it ran), counted in a job
    group of its own through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads the listener's state
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_block_meta_memo_skips_the_metadata_job(spark, skewed):
    """Driver phase 2 takes each term's block metadata from the index's
    memo: a second forced call with the same terms scans nothing, runs
    exactly one Spark job fewer and returns the same bits."""
    q = {1: "the", 2: "iceberg3 the"}
    exact = _collect(run_queries(spark, skewed, q, k=10))  # also warms the df memo
    # A first forced call builds any cache of the index's relations not yet
    # built, which can add a job of its own: the counted calls start after it.
    run_queries_wand(spark, skewed, q, k=10, force_wand=True).collect()
    skewed._block_meta.clear()
    calls = []
    for _ in range(2):
        stats: dict = {}
        rows, jobs = _jobs_of(
            spark,
            lambda: _collect(
                run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats)
            ),
        )
        calls.append((rows, jobs, stats["block_meta_collected"], stats["phase2"]))
    (first, jobs1, scanned1, phase1), (second, jobs2, scanned2, phase2) = calls
    assert (phase1, phase2) == ("driver", "driver")
    assert (scanned1, scanned2) == (2, 0)
    assert jobs2 == jobs1 - 1, (jobs1, jobs2)
    assert first == second == exact


def test_block_meta_memo_collects_only_new_terms(spark, skewed):
    """A batch mixing memoized and new terms scans only the new ones."""
    q = {1: "spark3", 2: "shuffle5 spark3", 3: "partition3"}
    exact = _collect(run_queries(spark, skewed, q, k=10))
    skewed._block_meta.clear()
    run_queries_wand(spark, skewed, {1: "spark3"}, k=10, force_wand=True).collect()
    stats: dict = {}
    wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
    assert stats["block_meta_collected"] == 2  # shuffle5, partition3
    assert wand == exact
    assert set(skewed._block_meta.entries) == {"spark3", "shuffle5", "partition3"}


def test_block_meta_memo_stays_within_the_driver_cap(spark, skewed, monkeypatch):
    """With the driver cap just above one batch's block rows, a run of
    varied batches keeps clearing the memo: it never holds more rows than
    the cap, and every answer stays exact."""
    import bge_m3_onnx_spark.plans.wand as wand_mod

    batches = [
        {1: f"spark{i} shuffle{i}"} if i % 2 else {1: f"spark{i}", 2: f"shuffle{i}"}
        for i in range(12)
    ]
    queries = {qid: text for qid, text in enumerate((b[q] for b in batches for q in b), 1)}
    exact = _collect(run_queries(spark, skewed, queries, k=5))
    by_text = {queries[qid]: rows for qid, rows in exact.items()}
    rows = {
        r["term"]: r["n"]
        for r in skewed.blocks.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    per_batch = [sum(rows[t] for text in b.values() for t in text.split()) for b in batches]
    cap = max(per_batch) + 2
    assert 2 * min(per_batch) > cap  # no two batches fit together
    monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
    skewed._block_meta.clear()
    for batch in batches:
        stats: dict = {}
        wand = _collect(run_queries_wand(spark, skewed, batch, k=5, force_wand=True, stats_out=stats))
        assert stats["phase2"] == "driver"
        assert stats["block_meta_collected"] == len({t for text in batch.values() for t in text.split()})
        assert 0 < _memo_rows(skewed) <= cap
        assert wand == {qid: by_text[text] for qid, text in batch.items() if text in by_text}
    # A scan whose own rows pass the cap is returned whole, unmemoized, and
    # leaves the memo as it was (no clear that caches nothing in its place).
    kept = dict(skewed._block_meta.entries)
    big = sorted({t for b in batches[:2] for text in b.values() for t in text.split()})
    meta, scanned = skewed.block_meta_for_terms(big, cap, 1)
    assert scanned == len(big)
    assert {t: len(pairs) for t, (_, pairs) in meta.items()} == {t: rows[t] for t in big}
    assert sum(rows[t] for t in big) > cap
    assert skewed._block_meta.entries == kept
    assert _memo_rows(skewed) <= cap


def test_block_meta_memo_at_cap_zero_stays_empty(spark, skewed, monkeypatch):
    """At cap 0 forced WAND takes the distributed branch, which neither
    reads nor fills the memo, and a direct lookup memoizes nothing."""
    import bge_m3_onnx_spark.plans.wand as wand_mod

    q = {1: "the", 2: "iceberg3 the"}
    exact = _collect(run_queries(spark, skewed, q, k=10))
    skewed._block_meta.clear()
    monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", 0)
    for _ in range(2):
        stats: dict = {}
        wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
        assert (stats["phase2"], stats["block_meta_collected"]) == ("distributed", 2)
        assert wand == exact
    meta, scanned = skewed.block_meta_for_terms(["iceberg3", "the"], 0, 1)
    assert scanned == 2 and sorted(meta) == ["iceberg3", "the"]
    assert skewed._block_meta.entries == {}


def test_merged_index_starts_with_an_empty_block_meta_memo(spark, built, query_set):
    """merge_delta builds a new index: its memo starts empty, and its first
    forced call scans every term and equals exact on the merged corpus."""
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
    from bge_m3_onnx_spark.streaming.incremental import merge_delta

    q = {qid: query_set[qid] for qid in (1, 3, 4)}
    run_queries_wand(spark, built, q, k=5, force_wand=True).collect()
    assert built._block_meta.entries
    delta = synth_transcripts(spark, n_convs=21, turns_per_conv=10).filter("conv_id >= 'conv-000020'")
    merged = merge_delta(spark, built, delta)
    try:
        assert merged._block_meta.entries == {}
        stats: dict = {}
        wand = _collect(run_queries_wand(spark, merged, q, k=5, force_wand=True, stats_out=stats))
        assert stats["block_meta_collected"] == 3  # spark, the, varbyte
        assert wand == _collect(run_queries(spark, merged, q, k=5))
    finally:
        merged.release()


def test_wand_at_widths_above_one(spark, skewed, monkeypatch):
    """Pinning the Σdf per partition to 1 gives every WAND exchange the
    session's width (4) as its base width: on both phase-2 branches WAND
    stays bit-identical to exact, and no WAND plan holds an Exchange the
    planner inserted at the session's width (tools/explain_audit.py's check)."""
    import bge_m3_onnx_spark.plans.wand as wand_mod

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 4
    monkeypatch.setattr(wand_mod, "_POSTINGS_PER_PARTITION", 1)
    q = {1: "the", 2: "iceberg3 the", 3: "the of", 4: "iceberg3"}
    exact = _collect(run_queries(spark, skewed, q, k=10))
    for cap, phase2 in ((wand_mod._PHASE2_DRIVER_CAP, "driver"), (0, "distributed")):
        monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
        stats: dict = {"capture_plans": True}
        wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
        assert stats["phase2"] == phase2
        assert wand == exact
        assert ", 4), REPARTITION_BY_NUM" in stats["plan_final"]
        for name in ("plan_theta", "plan_surviving", "plan_final"):
            inserted = wand_mod.planner_exchanges(stats[name], skewed.postings, skewed.blocks)
            assert inserted == [], (phase2, name, inserted)


def test_phase3_width_stays_within_the_session_width(spark, skewed, monkeypatch):
    """After driver phase 2, phase 3 widens its exchanges to the estimated
    scoring volume, but no further than the session width that caps every
    other exchange: on this local[8] session with 4 shuffle partitions, and
    one posting per task, the final plan's own exchanges hash nothing wider
    than 4 (the postings relation's cached build lineage is not the
    query's), and the answer stays exact."""
    import re

    import bge_m3_onnx_spark.plans.wand as wand_mod

    def hashed(plan: str) -> set[str]:
        return {line for line in plan.splitlines() if "hashpartitioning(" in line}

    assert spark.sparkContext.defaultParallelism > 4
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4
    monkeypatch.setattr(wand_mod, "_SCORE_ROWS_PER_TASK", 1)
    q = {1: "the", 2: "iceberg3 the"}
    stats: dict = {"capture_plans": True}
    wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
    assert stats["phase2"] == "driver"
    own = hashed(stats["plan_final"]) - hashed(wand_mod._fmt_plan(skewed.postings))
    widths = [int(re.search(r"hashpartitioning\(.*?, (\d+)\)", line)[1]) for line in own]
    assert widths and max(widths) == 4, own
    assert wand == _collect(run_queries(spark, skewed, q, k=10))


def test_block_meta_memo_under_concurrent_lookups(spark, built):
    """Eight threads look up overlapping term sets on one index through a
    memo bounded below their union, with a short interpreter switch
    interval: every lookup returns each term's full metadata, and the memo
    never holds more rows than the bound (inserts are serialized)."""
    import random
    import sys
    import threading

    blocks: dict[str, list] = {}
    ranges: dict[str, int] = {}
    for r in built.blocks.select("term", "block_id", "block_range", "block_max_score").collect():
        blocks.setdefault(r["term"], []).append((int(r["block_id"]), float(r["block_max_score"])))
        ranges[r["term"]] = int(r["block_range"])
    terms = sorted(blocks, key=lambda t: (-len(blocks[t]), t))[:12]
    want = {t: (ranges[t], tuple(sorted(blocks[t]))) for t in terms}
    cap = sum(len(blocks[t]) for t in terms[:4])
    built._block_meta.clear()
    seen: list[int] = []
    errors: list = []

    def lookups(seed: int) -> None:
        rnd = random.Random(seed)
        try:
            for _ in range(6):
                ask = rnd.sample(terms, 3)
                meta, _ = built.block_meta_for_terms(ask, cap, 1)
                assert meta == {t: want[t] for t in ask}
                with built._block_meta.lock:
                    seen.append(_memo_rows(built))
        except Exception as e:  # re-raised on the test's thread below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lookups, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(seen) == 48 and max(seen) <= cap
    built._block_meta.clear()


def test_forced_wand_on_a_memo_hit_is_one_lazy_job(spark, skewed):
    """Forced WAND returns a lazy plan, as run_queries does: once the
    index's memos hold the batch's terms, the call itself runs no Spark job
    and the caller's collect runs the whole query as exactly one. (A batch
    with a non-essential term adds the broadcast subjobs of phase 3b's
    joins to the collect.)"""
    q = {1: "the", 2: "iceberg3 the"}
    exact = _collect(run_queries(spark, skewed, q, k=10))  # also warms the df memo
    stats: dict = {}
    run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats).collect()
    assert stats["essential_terms"] == {1: ["the"], 2: ["iceberg3", "the"]}  # no phase 3b
    res, call_jobs = _jobs_of(spark, lambda: run_queries_wand(spark, skewed, q, k=10, force_wand=True))
    rows, collect_jobs = _jobs_of(spark, lambda: _collect(res))
    assert (call_jobs, collect_jobs) == (0, 1)
    assert rows == exact


def test_forced_wand_leaves_no_cached_rdd(spark, skewed, monkeypatch):
    """No cache outlives a forced call: three calls, each collected, on
    both phase-2 branches and with a non-essential term, leave the
    context's cached RDDs as they found them."""
    import bge_m3_onnx_spark.plans.wand as wand_mod

    jsc = spark.sparkContext._jsc.sc()
    run_queries_wand(spark, skewed, {1: "the"}, k=10, force_wand=True).collect()  # index caches
    start = len(jsc.getRDDStorageInfo())
    for q, cap in (
        ({1: "the"}, wand_mod._PHASE2_DRIVER_CAP),
        ({1: "iceberg3 the"}, wand_mod._PHASE2_DRIVER_CAP),
        ({1: "the of", 2: "iceberg3"}, 0),
    ):
        monkeypatch.setattr(wand_mod, "_PHASE2_DRIVER_CAP", cap)
        run_queries_wand(spark, skewed, q, k=10, force_wand=True).collect()
        assert len(jsc.getRDDStorageInfo()) == start, q


def test_two_collects_of_one_forced_frame_are_bit_identical(spark, skewed):
    """Each action on the returned frame runs the query again, and every
    run returns the same bits, equal to exact."""
    q = {1: "the", 2: "iceberg3 the", 3: "spark3 iceberg7 the"}
    res = run_queries_wand(spark, skewed, q, k=10, force_wand=True)
    first, second = _collect(res), _collect(res)
    assert first == second == _collect(run_queries(spark, skewed, q, k=10))


def test_one_term_final_plan_at_width_one_has_one_exchange(spark, skewed):
    """At width 1 the fold's exchange leaves the scored rows in one
    partition, so the top-k window ranks them in place: a one-term
    query's final plan holds the fold's Exchange and no other. Exchanges
    are counted through every cached relation the query reads, less those
    of the postings relation's own cached build lineage."""
    from bge_m3_onnx_spark.plans.wand import _fmt_plan

    def exchanges(plan: str) -> int:
        return sum("Exchange" in line for line in plan.split("\n\n")[0].splitlines()[1:])

    stats: dict = {"capture_plans": True}
    run_queries_wand(spark, skewed, {1: "the"}, k=10, force_wand=True, stats_out=stats)
    assert stats["phase2"] == "driver"
    own = exchanges(stats["plan_final"]) - exchanges(_fmt_plan(skewed.postings))
    assert own == 1, stats["plan_final"]
    assert plan_runs(stats["plan_final"], "Window")


def test_phase_3b_folds_the_essential_scores_once(spark, skewed):
    """Phase 3b reads the strong candidates three times (covering keys,
    candidate ordinals, final semi-join). With nothing cached, all three
    share one phase-3a subtree, so the plan folds the essential scores in
    one Exchange and reuses it twice, and the answer stays exact."""
    q = {1: "the of"}
    stats: dict = {"capture_plans": True}
    wand = _collect(run_queries_wand(spark, skewed, q, k=10, force_wand=True, stats_out=stats))
    assert stats["essential_terms"] == {1: ["of"]}  # "the" is read by phase 3b
    tree = stats["plan_final"].split("\n\n")[0]
    assert tree.count("ReusedExchange") == 2, stats["plan_final"]
    assert wand == _collect(run_queries(spark, skewed, q, k=10))


def test_non_numeric_session_width_caps_both_plans(spark, built, query_set, monkeypatch):
    """Both query plans read the session width through one helper: a
    non-numeric spark.sql.shuffle.partitions ("auto", as AQE-managed
    runtimes set it) caps their exchanges at the cluster's physical width,
    and both still return the exact answer."""
    from pyspark.sql.conf import RuntimeConfig

    from bge_m3_onnx_spark.session import shuffle_width_cap

    q = {qid: query_set[qid] for qid in (1, 2, 4)}
    exact = _collect(run_queries(spark, built, q, k=5))
    real_get = RuntimeConfig.get

    def auto(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", auto)
    assert shuffle_width_cap(spark) == spark.sparkContext.defaultParallelism
    assert _collect(run_queries(spark, built, q, k=5)) == exact
    assert _collect(run_queries(spark, built, {1: q[1]}, k=5)) == {1: exact[1]}
    assert _collect(run_queries_wand(spark, built, q, k=5, force_wand=True)) == exact
