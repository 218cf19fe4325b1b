"""Varbyte/gap codec roundtrips + block invariants (SURVEY.md §5 unit tests)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bge_m3_onnx_spark.functions.varbyte import gaps_decode, gaps_encode, vb_decode, vb_encode


def test_vb_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").tolist() == []


def test_vb_known_values():
    # 0..127 encode to a single byte equal to the value
    assert vb_encode(np.array([0])) == b"\x00"
    assert vb_encode(np.array([127])) == b"\x7f"
    # 128 = two bytes, little-endian 7-bit groups, continuation on the first
    assert vb_encode(np.array([128])) == bytes([0x80, 0x01])


def test_vb_roundtrip_edge():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**62, 2**63 - 1], dtype=np.uint64)
    assert vb_decode(vb_encode(vals)).tolist() == vals.tolist()


def test_vb_rejects_too_large():
    with pytest.raises(ValueError):
        vb_encode(np.array([2**63], dtype=np.uint64))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_vb_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert vb_decode(vb_encode(arr)).tolist() == vals


@settings(max_examples=30, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200))
def test_gaps_roundtrip_property(ord_set):
    ords = np.array(sorted(ord_set), dtype=np.uint64)
    first, data = gaps_encode(ords)
    out = gaps_decode(first, data, len(ords))
    assert out.tolist() == ords.tolist()


def test_ordinals_are_rank_by_key(spark, tiny_transcripts):
    from pyspark.sql import functions as F

    from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals
    from bge_m3_onnx_spark.operators.postings import tokenized_docs

    toks = tokenized_docs(tiny_transcripts)
    with_ord = assign_dense_ordinals(toks, key="doc_id", out="doc_ord", num_partitions=5)
    rows = with_ord.select("doc_id", "doc_ord").collect()
    by_key = sorted(r["doc_id"] for r in rows)
    expect = {d: i for i, d in enumerate(by_key)}
    assert {r["doc_id"]: r["doc_ord"] for r in rows} == expect
    # independent of partitioning
    with_ord2 = assign_dense_ordinals(toks, key="doc_id", out="doc_ord", num_partitions=2)
    assert {r["doc_id"]: r["doc_ord"] for r in with_ord2.select("doc_id", "doc_ord").collect()} == expect


def test_ordinals_unique_at_scale(spark, small_transcripts):
    """Regression: repartitionByRange re-samples boundaries per job, which once
    produced DUPLICATE ordinals (two docs → one ordinal → corrupt gap encoding).
    The seeded-boundary implementation must be collision-free and rank-exact."""
    from pyspark.sql import functions as F

    from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals
    from bge_m3_onnx_spark.operators.postings import tokenized_docs

    toks = tokenized_docs(small_transcripts)
    with_ord = assign_dense_ordinals(toks, "doc_id", "doc_ord", num_partitions=8)
    dups = with_ord.groupBy("doc_ord").count().filter(F.col("count") > 1).count()
    assert dups == 0
    mm = with_ord.agg(F.min("doc_ord").alias("a"), F.max("doc_ord").alias("b"),
                      F.count("*").alias("n")).collect()[0]
    assert mm["a"] == 0 and mm["b"] == mm["n"] - 1  # dense 0..n-1


def test_ordinal_boundary_sample_is_capped(spark, tiny_transcripts, monkeypatch):
    """The driver never holds more than max_boundary_sample keys (VERDICT r1: the
    uncapped 0.002·N sample OOMs at 10^12 keys). Force the sample fraction to 1.0
    so the cap binds on the fixture, and assert ordinals stay rank-exact — the
    capped sample only affects bucket balance, never values."""
    from bge_m3_onnx_spark.operators import ordinals as O
    from bge_m3_onnx_spark.operators.postings import tokenized_docs

    monkeypatch.setattr(O, "SAMPLE_FRACTION", 1.0)
    toks = tokenized_docs(tiny_transcripts)
    n = toks.count()
    cap = 5
    assert n > cap  # the cap actually binds here
    with_ord = O.assign_dense_ordinals(
        toks, "doc_id", "doc_ord", num_partitions=8, max_boundary_sample=cap
    )
    rows = with_ord.select("doc_id", "doc_ord").collect()
    by_key = sorted(r["doc_id"] for r in rows)
    expect = {d: i for i, d in enumerate(by_key)}
    assert {r["doc_id"]: r["doc_ord"] for r in rows} == expect


@pytest.mark.parametrize("variant", ["fresh", "merged", "compacted"])
def test_blocks_roundtrip_to_postings(spark, tiny_transcripts, variant):
    """Compression is lossless, and a block's postings are exactly the postings
    keyed by its STORED range: decode(blocks) and postings with block_id =
    doc_ord // block_range hold the same (term, block_id, doc_ord, tf, dl)
    multiset. WAND reads blocks from the postings relation on this premise
    (plans/wand.py), so it is pinned on a fresh index, after a merge that
    keeps untouched terms' blocks (cut under older stats), and after a
    compaction that re-cuts them."""
    import dataclasses
    from collections import Counter

    from pyspark.sql import functions as F

    from bge_m3_onnx_spark.config import DEFAULT_CONFIG
    from bge_m3_onnx_spark.operators.compress import decode_blocks
    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
    from bge_m3_onnx_spark.streaming.incremental import compact_index, merge_delta

    # small blocks: several per term, so a stale range would re-key postings
    cfg = dataclasses.replace(DEFAULT_CONFIG, block_size=4)
    gens = [build_index(tiny_transcripts, cfg=cfg, with_ordinals=True, with_blocks=True)]
    if variant != "fresh":
        delta = synth_transcripts(spark, n_convs=21, turns_per_conv=10).filter(
            "conv_id >= 'conv-000020'"
        )
        gens.append(merge_delta(spark, gens[0], delta))
        if variant == "compacted":
            gens.append(compact_index(gens[-1]))
    idx = gens[-1]
    try:
        ranges = {}
        for r in idx.blocks.select("term", "block_range").distinct().collect():
            assert r["term"] not in ranges, "block_range must be constant within a term"
            ranges[r["term"]] = r["block_range"]
        df_by_term = {r["term"]: r["df"] for r in idx.terms.collect()}
        # only kept blocks carry a range the current stats would not cut
        stale = {
            t for t, rng in ranges.items()
            if rng != cfg.block_range_for_term(df_by_term[t], idx.n_docs)
        }
        assert bool(stale) == (variant == "merged")
        # decode each block under a (term, block_id) tag: the decode kernel
        # keeps the term column, so the tag survives it
        tagged = idx.blocks.withColumn(
            "term", F.concat_ws("\x00", "term", F.col("block_id").cast("string"))
        )
        decoded = Counter()
        for r in decode_blocks(tagged).collect():
            term, bid = r["term"].split("\x00")
            decoded[(term, int(bid), r["doc_ord"], r["tf"], r["dl"])] += 1
        postings = Counter(
            (r["term"], r["doc_ord"] // ranges[r["term"]], r["doc_ord"], r["tf"], r["dl"])
            for r in idx.postings.select("term", "doc_ord", "tf", "dl").collect()
        )
        assert decoded == postings
    finally:
        for g in gens:
            g.release()


def test_block_max_is_true_upper_bound(spark, tiny_transcripts):
    """Every block max is the max of its postings' exact scores — keyed by the
    STORED range — on a fresh index and on a merged one, whose untouched
    terms keep blocks cut under older stats."""
    import math
    from collections import defaultdict

    from bge_m3_onnx_spark.operators.compress import decode_blocks
    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
    from bge_m3_onnx_spark.streaming.incremental import merge_delta

    fresh = build_index(tiny_transcripts, with_blocks=True)
    delta = synth_transcripts(spark, n_convs=21, turns_per_conv=10).filter(
        "conv_id >= 'conv-000020'"
    )
    merged = merge_delta(spark, fresh, delta)
    try:
        for idx in (fresh, merged):
            cfg = idx.cfg
            df_by_term = {r["term"]: r["df"] for r in idx.terms.collect()}
            bmax = {(b["term"], b["block_id"]): b for b in idx.blocks.collect()}
            rng = {t: b["block_range"] for (t, _), b in bmax.items()}
            best = defaultdict(lambda: -math.inf)
            for r in decode_blocks(idx.blocks).collect():
                df = df_by_term[r["term"]]
                idf = math.log((idx.n_docs - df + 0.5) / (df + 0.5) + 1.0)
                s = idf * r["tf"] * (cfg.k1 + 1) / (
                    r["tf"] + cfg.k1 * (1 - cfg.b + cfg.b * r["dl"] / idx.avgdl)
                )
                key = (r["term"], r["doc_ord"] // rng[r["term"]])
                best[key] = max(best[key], s)
            assert set(best) == set(bmax)
            for key, s in best.items():
                assert abs(bmax[key]["block_max_score"] - s) <= 1e-12 * max(1.0, s), key
    finally:
        merged.release()


def test_ordinal_attach_to_twin_identical(spark):
    """assign_dense_ordinals_with_aggs(attach_to=) must give the cheap twin
    the SAME (key -> ordinal) mapping as the main relation (r6: the docs
    table is ranked on the count-only twin under shared boundaries)."""
    import pyspark.sql.functions as F

    from bge_m3_onnx_spark.operators import postings as P
    from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals_with_aggs
    from bge_m3_onnx_spark.sources.transcripts import doc_id_col, synth_transcripts

    src = synth_transcripts(spark, 300, 10)
    counted = P.counted_docs(src)
    light = P.doc_len_docs(src)
    main, n, _aggs, twin = assign_dense_ordinals_with_aggs(
        counted, "doc_id", "doc_ord",
        extra_aggs=[F.sum("dl").alias("sum_dl")],
        stats_df=light, attach_to=light,
        key_df=src.select(doc_id_col().alias("doc_id")),
    )
    a = {r["doc_id"]: r["doc_ord"] for r in main.select("doc_id", "doc_ord").collect()}
    b = {r["doc_id"]: r["doc_ord"] for r in twin.select("doc_id", "doc_ord").collect()}
    assert n == 3000 and a == b
    # dense 0..n-1, and equal to rank-by-key
    assert sorted(a.values()) == list(range(n))
    ranked = {d: i for i, d in enumerate(sorted(a))}
    assert a == ranked
