"""Merged indexes behave like fresh ones: differential tests over merge chains.

After every ``merge_delta``:
  * ``run_queries`` answers like the pure-Python oracle over the union;
  * forced WAND takes driver-side phase 2 and equals ``run_queries`` bit for
    bit;
  * every stored block max is the query expression's max over the block's
    postings, keyed by the STORED range: exactly for blocks the merge kept;
  * the driver-phase-2 gate's block estimate bounds every term's block rows.
The property test also pins the driver cap to 0 after the last merge of each
chain: the distributed phase 2 must give the same bits. Only there, because
on an in-memory merged index one distributed call costs 10-30 s of small
Spark jobs on this suite's fixtures.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as _dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import bge_m3_onnx_spark.plans.wand as wand_mod
from bge_m3_onnx_spark.config import DEFAULT_CONFIG
from bge_m3_onnx_spark.functions.tokenizer import tokenize_text
from bge_m3_onnx_spark.operators.bm25 import bm25_term_score, idf_col
from bge_m3_onnx_spark.plans.build_index import build_index
from bge_m3_onnx_spark.plans.query import run_queries
from bge_m3_onnx_spark.plans.wand import run_queries_wand
from bge_m3_onnx_spark.streaming.incremental import merge_delta
from tests.oracle import oracle_from_rows

_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
_TS = _dt.datetime(2026, 1, 1)


def recomputed_maxima(idx) -> dict[tuple[str, int], float]:
    """{(term, block_id): max score} over the index's postings: each posting
    scored by the query path's own SQL expression (operators/bm25.py) under
    the index's (N, avgdl), and keyed in Python by its term's STORED range."""
    rng = {r["term"]: r["block_range"] for r in idx.blocks.select("term", "block_range").distinct().collect()}
    score = bm25_term_score("tf", "dl", idf_col("CAST(df AS DOUBLE)", idx.n_docs), idx.avgdl, idx.cfg)
    best: dict[tuple[str, int], float] = {}
    for r in idx.postings.join(idx.terms, "term").selectExpr("term", "doc_ord", f"{score} AS s").collect():
        key = (r["term"], r["doc_ord"] // rng[r["term"]])
        best[key] = max(best.get(key, -math.inf), r["s"])
    return best


@contextlib.contextmanager
def _driver_cap(cap: int):
    old = wand_mod._PHASE2_DRIVER_CAP
    wand_mod._PHASE2_DRIVER_CAP = cap
    try:
        yield
    finally:
        wand_mod._PHASE2_DRIVER_CAP = old


def _collect(df) -> dict[int, list[tuple[int, str, float]]]:
    out: dict[int, list[tuple[int, str, float]]] = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return out


def _frame(spark, rows):
    return spark.createDataFrame([(c, t, "user", x, None, _TS) for c, t, x in rows], _SCHEMA)


def check_merged(spark, idx, rows, delta_rows, queries, k, distributed=False) -> None:
    """The invariants of the module docstring on ``idx``, a merge of
    ``delta_rows`` into an index of the other ``rows`` (``rows`` is the
    union, (conv_id, turn_idx, text) triples); ``distributed`` adds the
    driver-cap-0 run."""
    cfg = idx.cfg
    exact = _collect(run_queries(spark, idx, queries, k=k))
    oracle = oracle_from_rows(rows, cfg)
    for qid, text in queries.items():
        want, got = oracle.topk(text, k), exact.get(qid, [])
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (qid, text)
        assert all(abs(a[2] - b[2]) <= 1e-9 for a, b in zip(got, want)), (qid, text)
    stats: dict = {}
    wand = _collect(run_queries_wand(spark, idx, queries, k=k, force_wand=True, stats_out=stats))
    assert wand == exact  # (rank, doc_id, score), floats unrounded
    # the key is absent only when no query term is in the index
    assert stats.get("phase2", "driver") == "driver"
    if distributed:
        with _driver_cap(0):
            wand = _collect(run_queries_wand(spark, idx, queries, k=k, force_wand=True))
        assert wand == exact

    touched = {
        t for _, _, x in delta_rows for t in tokenize_text(x, cfg.max_tokens, cfg.special_terms)
    }
    stored = {(r["term"], r["block_id"]): r["block_max_score"] for r in idx.blocks.collect()}
    want = recomputed_maxima(idx)
    assert set(stored) == set(want)
    for (term, bid), m in stored.items():
        if term in touched:  # re-cut by the build's NumPy kernel
            assert abs(m - want[(term, bid)]) <= 1e-9, (term, bid)
        else:  # kept: the query expression's own max, exactly
            assert m == want[(term, bid)], (term, bid)

    n = idx.n_docs
    df = {r["term"]: r["df"] for r in idx.terms.collect()}
    n_blocks: dict[str, int] = {}
    for term, _ in stored:
        n_blocks[term] = n_blocks.get(term, 0) + 1
    for term, count in n_blocks.items():
        d = df[term]
        est = min(d, -(-n // cfg.block_range_for_term(d, n)))
        assert count <= est * (1 + 1 / cfg.block_size) + 1, (term, count, est)


_WORDS = ["aa", "bb", "cc", "dd", "café", "中文", "ee"]
# Zipf-like: word i is drawn twice as often as word i+1
_word = st.integers(0, 2 ** (len(_WORDS) - 1) - 1).map(lambda i: _WORDS[len(_WORDS) - 1 - i.bit_length()])
_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.tuples(_word, st.integers(1, 4)), min_size=1, max_size=6).map(
        lambda ws: " ".join(w for w, tf in ws for _ in range(tf))
    ),
)


@st.composite
def _chains(draw):
    pool = draw(st.lists(_text, min_size=1, max_size=8))
    texts = draw(st.lists(st.sampled_from(pool), min_size=4, max_size=30))  # duplicates
    rows = [(f"c{i // 3:03d}", i % 3, x) for i, x in enumerate(texts)]
    n_deltas = draw(st.integers(1, min(3, len(rows) - 1)))
    cuts = sorted(draw(st.lists(st.integers(1, len(rows) - 1), min_size=n_deltas, max_size=n_deltas, unique=True)))
    parts = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    base, deltas = parts[0], parts[1:]
    if len(deltas) < 3 and draw(st.booleans()):
        deltas.append(draw(st.sampled_from(deltas)))  # a replayed delta
    q = draw(st.lists(st.sampled_from(_WORDS), min_size=3, max_size=3))
    queries = {1: q[0], 2: f"{q[0]} {q[1]}", 3: f"{q[1]} {q[2]} {q[2]} zz-absent"}
    return base, deltas, queries, draw(st.sampled_from([1, 3, 50]))


@settings(
    max_examples=2,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain=_chains())
def test_merge_chain_property(spark, chain):
    """Random small corpora (ASCII, non-ASCII, empty and null texts,
    duplicates, skewed tf) split into a base and 1-3 deltas, one of which
    may replay an earlier one; block_size 2 so terms hold several blocks."""
    base, deltas, queries, k = chain
    cfg = dataclasses.replace(DEFAULT_CONFIG, block_size=2, special_terms=frozenset({"ee"}))
    gens = [build_index(_frame(spark, base), cfg=cfg, with_blocks=True)]
    rows = {(c, t): x for c, t, x in base}
    try:
        for m, delta in enumerate(deltas, start=1):
            gens.append(merge_delta(spark, gens[-1], _frame(spark, delta)))
            rows.update({(c, t): x for c, t, x in delta})
            union = [(c, t, x) for (c, t), x in sorted(rows.items())]
            check_merged(spark, gens[-1], union, delta, queries, k, distributed=m == len(deltas))
    finally:
        for g in gens:
            g.release()


def test_merge_chain_of_eight_takes_the_fresh_path(spark):
    """Chains of 1, 2 and 8 merges over synthetic transcripts (block_size 4),
    the second merge a replay of the first delta."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, block_size=4)

    def convs(lo: int, hi: int) -> list[tuple[str, int, str]]:
        from bge_m3_onnx_spark.sources.transcripts import synth_transcripts

        return [
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in synth_transcripts(spark, n_convs=hi, turns_per_conv=5)
            .filter(f"conv_id >= 'conv-{lo:06d}'")
            .collect()
        ]

    base = convs(0, 30)
    deltas = [convs(30, 32)]
    deltas.append(deltas[0])
    deltas += [convs(32 + 2 * i, 34 + 2 * i) for i in range(6)]
    queries = {1: "spark shuffle", 2: "the", 3: "checkpoint merge merge"}
    gens = [build_index(_frame(spark, base), cfg=cfg, with_blocks=True)]
    rows = {(c, t): x for c, t, x in base}
    try:
        for m, delta in enumerate(deltas, start=1):
            gens.append(merge_delta(spark, gens[-1], _frame(spark, delta)))
            rows.update({(c, t): x for c, t, x in delta})
            if m in (1, 2, 8):
                union = [(c, t, x) for (c, t), x in sorted(rows.items())]
                check_merged(spark, gens[-1], union, delta, queries, k=10)
    finally:
        for g in gens:
            g.release()
