"""Checkpoint/resume: kill after stage N, restart, get a byte-identical index
(SURVEY.md §5 'checkpoint resume' unit test)."""

from __future__ import annotations

import json
import os

import pytest

from bge_m3_onnx_spark.plans.checkpoint import (
    STAGES,
    StageFailure,
    load_materialized,
    materialize_index,
)
from bge_m3_onnx_spark.plans.query import run_queries


def _topk_map(df) -> dict:
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    }


def _index_digest(spark, index_dir) -> dict:
    idx = load_materialized(spark, index_dir)
    post = sorted(
        (r["term"], r["doc_id"], r["tf"], r["dl"], r["doc_ord"])
        for r in idx.postings.collect()
    )
    blocks = sorted(
        (r["term"], r["block_id"], r["n"], r["first_ord"], bytes(r["ords_vb"]), r["block_max_score"])
        for r in idx.blocks.collect()
    )
    return {"n": idx.n_docs, "avgdl": idx.avgdl, "postings": post, "blocks": blocks}


def test_resume_after_injected_crash(spark, tiny_transcripts, tmp_path):
    one_shot = str(tmp_path / "idx_oneshot")
    resumed = str(tmp_path / "idx_resumed")

    materialize_index(spark, tiny_transcripts, one_shot, input_path="tiny", snapshot_id=1)

    # crash after 'postings', then resume
    with pytest.raises(StageFailure):
        materialize_index(
            spark, tiny_transcripts, resumed, input_path="tiny", snapshot_id=1,
            fail_after="postings",
        )
    man_partial = json.load(open(os.path.join(resumed, "_manifest", "manifest.json")))
    assert man_partial["stages"]["postings"]["status"] == "done"
    assert "blocks" not in man_partial["stages"]

    ran: list[str] = []
    materialize_index(
        spark, tiny_transcripts, resumed, input_path="tiny", snapshot_id=1,
        on_stage=ran.append,
    )
    # completed stages must NOT rerun
    assert "tokenized" not in ran and "postings" not in ran and "docs" not in ran
    assert set(ran) == {"terms", "stats", "blocks"}

    assert _index_digest(spark, resumed) == _index_digest(spark, one_shot)


def test_resume_with_other_build_params_rebuilds(spark, tmp_path):
    """A resume under another n_buckets must not reuse the stages written
    under the old one: reused postings keep the old bucket layout while
    stats.json records the new modulus, and the loaded index then prunes
    to the wrong bucket directories (3 queries at k=10 returned 19 rows
    instead of 30, with no error). Every stage runs again and the answers
    equal the in-memory build's."""
    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts

    transcripts = synth_transcripts(spark, n_convs=30, turns_per_conv=5)
    index_dir = str(tmp_path / "idx_params")
    with pytest.raises(StageFailure):
        materialize_index(
            spark, transcripts, index_dir, input_path="synth", n_buckets=16,
            fail_after="postings",
        )
    ran: list[str] = []
    materialize_index(
        spark, transcripts, index_dir, input_path="synth", n_buckets=8, on_stage=ran.append
    )
    assert ran == STAGES
    queries = {1: "spark shuffle", 2: "the", 3: "checkpoint merge"}
    got = _topk_map(run_queries(spark, load_materialized(spark, index_dir), queries, k=10))
    assert len(got) == 30
    assert got == _topk_map(run_queries(spark, build_index(transcripts, cache=False), queries, k=10))


def test_manifest_lineage_and_metrics(spark, tiny_transcripts, tmp_path):
    index_dir = str(tmp_path / "idx_lineage")
    man = materialize_index(spark, tiny_transcripts, index_dir, input_path="tiny", snapshot_id=7)
    d = json.load(open(man.path))
    assert d["snapshot_id"] == 7
    for stage in STAGES:
        assert d["stages"][stage]["status"] == "done"
        assert d["stages"][stage]["wall_ms"] > 0
    post = d["stages"]["postings"]
    assert post["rows"] > 0 and post["bytes"] > 0 and post["partitions"] >= 1
    assert all({"file", "rows", "bytes"} <= set(x) for x in post["lineage"])
    # per-partition lineage row counts sum to the stage total
    assert sum(x["rows"] for x in post["lineage"]) == post["rows"]


def test_materialized_index_answers_queries(spark, tiny_transcripts, tmp_path, query_set):
    from bge_m3_onnx_spark.plans.build_index import build_index

    index_dir = str(tmp_path / "idx_q")
    materialize_index(spark, tiny_transcripts, index_dir, input_path="tiny")
    idx = load_materialized(spark, index_dir)
    live = build_index(tiny_transcripts)

    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in run_queries(spark, idx, query_set, k=5).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in run_queries(spark, live, query_set, k=5).collect()
    }
    assert got == want


def test_load_reconciles_cfg_from_stats(spark, tiny_transcripts, tmp_path, query_set):
    """An index built with a non-default block_size, or non-default k1/b, and
    loaded with the DEFAULT config must adopt the stored parameters
    (stats.json) — otherwise WAND's block coverage math and BM25 score math
    silently diverge from the stored blocks (ADVICE r1, r4). Loaded cfg carries
    the stored values, drift is loud, a matching cfg loads silently, the loaded
    index answers like an in-memory build under the built cfg, and the WAND
    path stays rank/score-identical to the exact path."""
    import dataclasses
    import warnings

    from bge_m3_onnx_spark.config import DEFAULT_CONFIG
    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.plans.wand import run_queries_wand

    subset = {q: query_set[q] for q in (1, 3)}
    for name, built in {
        "b32": dataclasses.replace(DEFAULT_CONFIG, block_size=32),
        "k09_b04": dataclasses.replace(DEFAULT_CONFIG, k1=0.9, b=0.4),
    }.items():
        index_dir = str(tmp_path / f"idx_{name}")
        materialize_index(spark, tiny_transcripts, index_dir, input_path="tiny", cfg=built)

        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            idx = load_materialized(spark, index_dir, cfg=DEFAULT_CONFIG)
        # stored values win, and the drift is loud
        assert (idx.cfg.k1, idx.cfg.b, idx.cfg.block_size) == (
            built.k1, built.b, built.block_size
        ), name
        assert any(
            "stats.json" in str(x.message) and "STORED" in str(x.message) for x in w
        ), name
        # matching cfg passed in → no reconcile warning (unrelated library
        # warnings may fire; filter to the contract's message)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            load_materialized(spark, index_dir, cfg=built)
        assert not [x for x in w if "STORED" in str(x.message)], name

        exact = _topk_map(run_queries(spark, idx, subset, k=5))
        live = build_index(tiny_transcripts, cfg=built, cache=False)
        assert exact == _topk_map(run_queries(spark, live, subset, k=5)), name
        wand = _topk_map(run_queries_wand(spark, idx, subset, k=5, force_wand=True))
        assert exact == wand, name


def test_materialized_layout_roundtrip_and_pruning(spark, tmp_path):
    """The materialized layout — postings and blocks in
    ``bucket=pmod(xxhash64(term), B)`` directories, B in stats.json — round-trips:
    (1) the loaded index answers like the in-memory build, (2) a term lookup
    on postings or blocks partition-prunes to that term's bucket, (3) every
    manifest field survives the write and the load."""
    import io
    import re
    from contextlib import redirect_stdout

    from bge_m3_onnx_spark.functions.hashing import term_bucket
    from bge_m3_onnx_spark.plans.build_index import IndexManifest, build_index
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts

    transcripts = synth_transcripts(spark, n_convs=30, turns_per_conv=5)
    index_dir = str(tmp_path / "idx_layout")
    materialize_index(spark, transcripts, index_dir, input_path="synth", n_buckets=8)
    loaded = load_materialized(spark, index_dir)
    live = build_index(transcripts, cache=False)

    # (1)
    assert (loaded.n_docs, round(loaded.avgdl, 9)) == (live.n_docs, round(live.avgdl, 9))
    queries = {1: "spark shuffle", 2: "the"}
    assert _topk_map(run_queries(spark, loaded, queries, k=10)) == _topk_map(
        run_queries(spark, live, queries, k=10)
    )

    # (2) the scan's partition filter selects exactly the term's bucket
    bucket = term_bucket("spark", 8)
    for rel in (loaded.pruned_postings(["spark"]), loaded.pruned_blocks(["spark"])):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rel.explain("formatted")
        plan = buf.getvalue()
        filters = re.search(r"PartitionFilters: \[(.*)\]", plan)
        assert filters and re.search(rf"\(bucket#\d+ = {bucket}\)", filters.group(1)), plan

    # (3)
    assert loaded.term_buckets == 8
    man = IndexManifest.read(index_dir)
    assert man == IndexManifest.of(loaded)
