"""Incremental indexing over snapshot ranges == full rebuild (streaming §2.9 analog)."""

from __future__ import annotations

from bge_m3_onnx_spark.plans.build_index import build_index
from bge_m3_onnx_spark.plans.query import run_queries
from bge_m3_onnx_spark.sources.catalog import SnapshotTable
from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
from bge_m3_onnx_spark.streaming.incremental import index_snapshot_range, merge_delta


def _topk_map(df):
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    }


def test_snapshot_table_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    a = synth_transcripts(spark, n_convs=5, turns_per_conv=4)
    b = synth_transcripts(spark, n_convs=5, turns_per_conv=4).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    )
    s1 = t.append(a)
    s2 = t.append(b)
    assert t.read(s1).count() == 20
    assert t.read(s2).count() == 40
    assert t.read_incremental(s1, s2).count() == 20
    assert t.current_snapshot_id() == s2


def test_merge_delta_equals_full_rebuild(spark, tmp_path):
    from pyspark.sql import functions as F

    base = synth_transcripts(spark, n_convs=30, turns_per_conv=5)
    delta = synth_transcripts(spark, n_convs=10, turns_per_conv=5).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id"))
    )
    full = build_index(base.unionByName(delta))
    idx0 = build_index(base)
    merged = merge_delta(spark, idx0, delta)

    assert merged.n_docs == full.n_docs
    assert abs(merged.avgdl - full.avgdl) < 1e-9

    queries = {1: "spark shuffle", 2: "the varbyte", 3: "checkpoint"}
    assert _topk_map(run_queries(spark, merged, queries, k=10)) == _topk_map(
        run_queries(spark, full, queries, k=10)
    )


def test_merge_replay_is_noop(spark):
    """Replaying the same delta must not inflate tf / n_docs (idempotent merge)."""
    from pyspark.sql import functions as F

    base = synth_transcripts(spark, n_convs=20, turns_per_conv=5)
    delta = synth_transcripts(spark, n_convs=5, turns_per_conv=5).withColumn(
        "conv_id", F.concat(F.lit("d-"), F.col("conv_id"))
    )
    once = merge_delta(spark, build_index(base), delta)
    twice = merge_delta(spark, once, delta)
    assert twice.n_docs == once.n_docs
    assert abs(twice.avgdl - once.avgdl) < 1e-9
    p1 = {(r["term"], r["doc_id"]): r["tf"] for r in once.postings.collect()}
    p2 = {(r["term"], r["doc_id"]): r["tf"] for r in twice.postings.collect()}
    assert p1 == p2


def test_merge_keeps_untouched_blocks_wand_lossless(spark):
    """The merge must NOT rebuild untouched terms' blocks — their payload bytes
    and ranges stay identical — while their block max becomes the exact max of
    the query's score expression under the merged stats; WAND over the merged
    index must still equal the exact path."""
    from pyspark.sql import functions as F

    from bge_m3_onnx_spark.operators.postings import counted_docs, postings_from_counted
    from bge_m3_onnx_spark.plans.wand import run_queries_wand
    from tests.test_merge_chain import recomputed_maxima

    base = synth_transcripts(spark, n_convs=30, turns_per_conv=5)
    delta = synth_transcripts(spark, n_convs=2, turns_per_conv=5).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id"))
    )
    idx0 = build_index(base, with_ordinals=True, with_blocks=True)
    merged = merge_delta(spark, idx0, delta)

    dterms = {
        r["term"]
        for r in postings_from_counted(counted_docs(delta)).select("term").distinct().collect()
    }
    old = {(r["term"], r["block_id"]): r for r in idx0.blocks.collect()}
    new = {(r["term"], r["block_id"]): r for r in merged.blocks.collect()}
    untouched = [key for key in old if key[0] not in dterms]
    assert untouched, "fixture must leave some terms untouched"
    want = recomputed_maxima(merged)
    for key in untouched:
        o, nw = old[key], new[key]
        assert bytes(o["ords_vb"]) == bytes(nw["ords_vb"])  # payload NOT rebuilt
        assert bytes(o["tfs_vb"]) == bytes(nw["tfs_vb"])
        assert o["block_range"] == nw["block_range"]
        assert nw["block_max_score"] == want[key]  # exact, not a bound

    queries = {1: "spark shuffle", 2: "the varbyte block", 3: "checkpoint merge"}
    exact = _topk_map(run_queries(spark, merged, queries, k=10))
    wand = _topk_map(run_queries_wand(spark, merged, queries, k=10, force_wand=True))
    assert exact == wand


def test_write_index_iceberg_path(spark):
    """The Iceberg write path is real code (writeTo + partitionedBy(bucket(B,
    term)) + table properties). This sandbox has no iceberg-spark-runtime jar, so
    the expected local outcome is a clean catalog/provider error from Spark —
    NOT an AttributeError/TypeError from our plan construction. On a cluster
    with a configured Iceberg catalog the same call materializes the tables."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from bge_m3_onnx_spark.plans.build_index import write_index_iceberg

    idx = build_index(synth_transcripts(spark, n_convs=3, turns_per_conv=2), cache=False)
    has_iceberg = "iceberg" in spark.conf.get("spark.sql.extensions", "").lower()
    if has_iceberg:  # real cluster: exercise the full write
        write_index_iceberg(idx, "local.db.test_idx", n_buckets=4)
        assert spark.table("local.db.test_idx_postings").count() > 0
    else:
        with pytest.raises((AnalysisException, Py4JJavaError)):
            write_index_iceberg(idx, "local.db.test_idx", n_buckets=4)


def test_bucketed_load_restores_built_cfg(spark, tmp_path):
    """An index must be queried with the k1/b/block_size it was BUILT with —
    loading the term-bucketed materialized layout must rehydrate them from
    stats.json, not silently adopt the caller's cfg: a mismatched k1/b
    mis-scores, and stored block_max_score would no longer upper-bound query
    scores (breaks WAND's lossless pruning)."""
    import dataclasses
    import warnings

    from bge_m3_onnx_spark.config import DEFAULT_CONFIG
    from bge_m3_onnx_spark.plans.checkpoint import load_materialized, materialize_index

    custom = dataclasses.replace(DEFAULT_CONFIG, k1=0.9, b=0.4, block_size=64)
    index_dir = str(tmp_path / "bkt_cfg")
    materialize_index(
        spark,
        synth_transcripts(spark, n_convs=10, turns_per_conv=3),
        index_dir,
        cfg=custom,
        input_path="synth",
        n_buckets=4,
    )
    # default cfg passed in → stored values must win, loudly
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        loaded = load_materialized(spark, index_dir)
    assert (loaded.cfg.k1, loaded.cfg.b, loaded.cfg.block_size) == (0.9, 0.4, 64)
    assert any("STORED" in str(x.message) for x in w)
    # matching cfg passed in → no reconcile warning (unrelated library
    # warnings may fire; filter to the contract's message)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        load_materialized(spark, index_dir, cfg=custom)
    assert not [x for x in w if "STORED" in str(x.message)]


def test_index_snapshot_range_incremental(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "tbl2"))
    a = synth_transcripts(spark, n_convs=20, turns_per_conv=5)
    b = synth_transcripts(spark, n_convs=8, turns_per_conv=5).withColumn(
        "conv_id", F.concat(F.lit("x-"), F.col("conv_id"))
    )
    s1 = t.append(a)
    s2 = t.append(b)

    idx = index_snapshot_range(spark, t, None, None, s1)
    idx = index_snapshot_range(spark, t, idx, s1, s2)
    full = build_index(t.read(s2))

    queries = {1: "spark", 2: "the merge"}
    assert _topk_map(run_queries(spark, idx, queries, k=10)) == _topk_map(
        run_queries(spark, full, queries, k=10)
    )


def test_compaction_tightens_bounds_and_stays_lossless(spark):
    """Compaction re-cuts a merged index's kept blocks under current stats:
    Σ block_max_score tightens (or holds) per term, block coverage is
    identical, and WAND == exact afterwards."""
    import pyspark.sql.functions as F

    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.plans.query import run_queries
    from bge_m3_onnx_spark.plans.wand import run_queries_wand
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts
    from bge_m3_onnx_spark.streaming.incremental import compact_index, merge_delta

    idx = build_index(
        synth_transcripts(spark, n_convs=80, turns_per_conv=5),
        with_ordinals=True,
        with_blocks=True,
    )
    merged = merge_delta(
        spark, idx, synth_transcripts(spark, n_convs=84, turns_per_conv=5).filter("conv_id >= 'conv-000080'")
    )
    compacted = compact_index(merged)

    def bound_sum(blocks):
        return {
            r["term"]: r["s"]
            for r in blocks.groupBy("term").agg(F.sum("block_max_score").alias("s")).collect()
        }

    before, after = bound_sum(merged.blocks), bound_sum(compacted.blocks)
    assert set(before) == set(after)
    assert all(after[t] <= before[t] + 1e-9 for t in after)

    q = {1: "spark shuffle partition", 2: "the"}
    exact = run_queries(spark, compacted, q, k=5).collect()
    wand = run_queries_wand(spark, compacted, q, k=5, force_wand=True).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    assert sorted(map(key, wand)) == sorted(map(key, exact))


def test_index_snapshot_range_three_merges(spark, tmp_path):
    """Three consecutive index_snapshot_range merges answer like a full
    rebuild of the same snapshots."""
    t = SnapshotTable(spark, str(tmp_path / "tbl3"))
    base = synth_transcripts(spark, n_convs=200, turns_per_conv=5)
    snaps = [t.append(base)]
    for i in range(3):
        lo, hi = 200 + i * 4, 200 + (i + 1) * 4
        d = synth_transcripts(spark, n_convs=hi, turns_per_conv=5).filter(
            f"conv_id >= 'conv-{lo:06d}'"
        )
        snaps.append(t.append(d))

    idx = index_snapshot_range(spark, t, None, None, snaps[0])
    for prev, cur in zip(snaps, snaps[1:]):
        idx = index_snapshot_range(spark, t, idx, prev, cur)

    full = build_index(t.read(snaps[3]))
    queries = {1: "spark shuffle", 2: "the merge"}
    assert _topk_map(run_queries(spark, idx, queries, k=10)) == _topk_map(
        run_queries(spark, full, queries, k=10)
    )
