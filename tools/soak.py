"""At-scale invariant soak — the checks the small-sf gates cannot see.

The sf0.01/sf0.1 oracle gates verify semantics; tie-boundary float effects,
pruning behavior under real skew, and merge drift only show up at millions of
rows (a 10M-turn soak caught a genuine 1-ulp summation-order rank break that
every small gate passed — SCALE.md "A bug only 10M rows could find"). Run this
once per round after the scorer/WAND/merge code changes:

    python tools/soak.py [n_turns] [json_out]   # default 2,000,000

Checks (each asserts BIT-identical (rank, doc_id, score) between forced-WAND
and the exact path — no rounding — for two forced calls on the same index; on
driver phase 2 the second takes its block metadata from the index's memo):
  1. flat corpus, materialized staged build → load → WAND == exact
  2. Zipf-skewed corpus (real pruning regime) → WAND == exact + pruning stats,
     then again with phase 2 forced onto its distributed branch
  3. incremental merge (5% delta) → WAND == exact post-merge
  4. K_MERGES merges on the skewed corpus, no compaction → WAND == exact, and
     pruning within 5% + 4 blocks of a fresh build of the same corpus; then
     a compaction → WAND == exact

With ``json_out`` the per-check results (rows compared, pruning stats, wall
times) are written as a JSON artifact (SOAK_r{N}.json per round — VERDICT r2
made the soak a per-round deliverable after it caught the only real bug either
round has seen).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bge_m3_onnx_spark.plans.wand as wand_mod  # noqa: E402
from bge_m3_onnx_spark.plans.build_index import build_index  # noqa: E402
from bge_m3_onnx_spark.plans.checkpoint import load_materialized, materialize_index  # noqa: E402
from bge_m3_onnx_spark.plans.query import run_queries  # noqa: E402
from bge_m3_onnx_spark.plans.wand import run_queries_wand  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from bge_m3_onnx_spark.sources.transcripts import (  # noqa: E402
    synth_transcripts,
    synth_transcripts_skewed,
)
from bge_m3_onnx_spark.streaming.incremental import merge_delta  # noqa: E402
from tools.revision import source_revision  # noqa: E402

# merges in check 4's chain
K_MERGES = 8


def _key(r):
    return (r["query_id"], r["rank"], r["doc_id"], r["score"])


def _flush_segment(spark, ix, seg_dir):
    """Materialize a merged index as parquet and rebase its relations on the
    files — the segment flush a serving system performs per merge.

    Both in-memory lineage cuts failed at 10M scale: count()-materialization
    keeps every ancestor's shuffle files reachable (disk grows ~10 GB/merge →
    ENOSPC at merge ~7), and localCheckpoint holds deserialized row blocks in
    storage memory (two ~90M-row generations + merge execution → 48g heap
    OOM). Parquet round-trip bounds both: heap holds nothing, disk holds at
    most two generations (caller deletes the previous one after reload)."""
    rels = {"postings": ix.postings, "terms": ix.terms, "docs": ix.docs}
    if ix.blocks is not None:
        rels["blocks"] = ix.blocks
    for name, df_ in rels.items():
        df_.write.mode("overwrite").parquet(os.path.join(seg_dir, name))
    # everything this generation cached (incl. the merge's tokenized delta,
    # _aux_cached) is superseded by the files just written
    ix.release()
    loaded = {name: spark.read.parquet(os.path.join(seg_dir, name)) for name in rels}
    return dataclasses.replace(
        ix,
        postings=loaded["postings"],
        terms=loaded["terms"],
        docs=loaded["docs"],
        blocks=loaded.get("blocks"),
        _aux_cached=[],
    )


def _assert_identical(spark, idx, queries, label, results: list):
    t0 = time.monotonic()
    e = run_queries(spark, idx, queries, k=10).collect()
    t_exact = time.monotonic() - t0
    # The same forced call twice on the same index: on driver phase 2 the
    # second takes every term's block metadata from the index's memo.
    times, scanned = [], []
    for _ in range(2):
        st: dict = {}
        t0 = time.monotonic()
        w = run_queries_wand(spark, idx, queries, k=10, force_wand=True, stats_out=st).collect()
        times.append(time.monotonic() - t0)
        scanned.append(st["block_meta_collected"])
        assert sorted(map(_key, w)) == sorted(map(_key, e)), f"{label}: WAND != exact (bit compare)"
    if st["phase2"] == "driver":
        assert scanned[1] == 0, f"{label}: the repeated call scanned {scanned[1]} terms"
    pruning = {k: v for k, v in st.items() if k in ("blocks_total", "blocks_surviving", "blocks_extra_decoded", "phase2")}
    print(f"PASS {label}: WAND == exact bit-identical ({len(e)} rows, twice); pruning {pruning}")
    results.append(
        {
            "check": label,
            "status": "PASS",
            "rows_compared": len(e),
            "exact_sec": round(t_exact, 2),
            "wand_forced_sec": round(times[0], 2),
            "wand_forced_repeat_sec": round(times[1], 2),
            "block_meta_collected": scanned,
            "pruning": pruning,
        }
    )


def _flush(json_out, n_turns, results, run, t_mat=None, done=False):
    """Write the artifact after every check: a soak that dies mid-run (OOM, VM
    reap, round cutoff) still leaves the evidence for the checks it passed."""
    if not json_out:
        return
    payload = {
        "n_turns": n_turns,
        **run,
        "invariant": "forced-WAND == exact, bit-identical (rank, doc_id, score)",
        "checks": results,
        "complete": done,
    }
    if t_mat is not None:
        payload["materialize_sec"] = round(t_mat, 1)
    tmp = json_out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, json_out)


def main() -> int:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    json_out = sys.argv[2] if len(sys.argv) > 2 else None
    results: list = []
    # broadcastTimeout: WAND probes against a K-merge index compute metadata
    # broadcasts over lineage that can exceed the 300 s default on this VM.
    # The master is get_spark's default: local[$SPARK_GRAFT_CPUS], else every
    # core. The artifact records it with the source revision.
    spark = get_spark(
        app_name="soak",
        shuffle_partitions=64,
        extra_conf={
            "spark.sql.broadcastTimeout": "1800",
            # real tracebacks if an Arrow kernel worker dies mid-soak (the r4
            # first attempt only logged "Python worker exited unexpectedly")
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
            # ContextCleaner's periodic driver GC defaults to 30min — a soak
            # session accumulates every dead stage's shuffle files for its
            # whole life. The K-merge chain shuffles full postings per merge
            # and filled the disk (r4 second attempt: "No space left on
            # device" at merge ~7). Reclaim dead shuffles on a 60s cadence.
            "spark.cleaner.periodicGC.interval": "60s",
            # Reused Python workers are an RSS high-water mark over every
            # Arrow batch they ever ran — 32 of them plus the 48g driver JVM
            # exhausted the box ~80 min into the r4 soak (the directive-#4
            # bug; measured in WORKER_RSS_r05.json via
            # tools/worker_rss_probe.py). Fork-per-task bounds each worker's
            # RSS to one task's footprint; the fork overhead is noise next to
            # merge-chain job times.
            "spark.python.worker.reuse": "false",
        },
    )
    run = {"master": spark.sparkContext.master, "source_revision": source_revision()}

    # 1. flat corpus through the FULL staged/materialized path
    mat_dir = tempfile.mkdtemp(prefix="soak_idx_")
    try:
        t0 = time.monotonic()
        materialize_index(
            spark, synth_transcripts(spark, n_turns // 10, 10), mat_dir, input_path="synth:soak"
        )
        t_mat = time.monotonic() - t0
        print(f"materialized {n_turns} turns in {t_mat:.1f}s")
        idx = load_materialized(spark, mat_dir)
        _assert_identical(
            spark,
            idx,
            {1: "spark shuffle partition", 2: "varbyte block compress score", 3: "the"},
            f"flat {n_turns} materialized",
            results,
        )
        _flush(json_out, n_turns, results, run, t_mat=t_mat)
    finally:
        shutil.rmtree(mat_dir, ignore_errors=True)

    # 2. skewed corpus: the regime where pruning actually fires. The blocks
    # are built before the timed calls, so wand_forced_sec is query time.
    # The driver cap pinned to 0 runs the same batch through distributed
    # phase 2, which must give the same bits.
    skew = build_index(
        synth_transcripts_skewed(spark, n_turns // 10, 10), with_ordinals=True, with_blocks=True
    )
    skew.blocks.count()
    skew_q = {1: "the", 2: "the spark checkpoint", 3: "iceberg"}
    _assert_identical(spark, skew, skew_q, f"skewed {n_turns}", results)
    _flush(json_out, n_turns, results, run)
    driver_cap = wand_mod._PHASE2_DRIVER_CAP
    wand_mod._PHASE2_DRIVER_CAP = 0
    try:
        _assert_identical(spark, skew, skew_q, f"skewed {n_turns}, distributed phase 2", results)
    finally:
        wand_mod._PHASE2_DRIVER_CAP = driver_cap
    assert results[-1]["pruning"]["phase2"] == "distributed", results[-1]
    _flush(json_out, n_turns, results, run)
    skew.release()

    # 3. incremental merge: 5% delta, invariant must survive the block keep/rebuild split
    base = build_index(
        synth_transcripts(spark, n_turns // 10, 10), with_ordinals=True, with_blocks=True
    )
    hi = n_turns // 10 + n_turns // 200
    # numeric compare: conv_id is 'conv-%06d', which grows to 7+ digits past
    # 10^6 convs — a lexicographic >= would wrongly include base convs whose
    # leading digit exceeds the bound's (harmless under the idempotent merge,
    # but the delta would silently be ~80% of the corpus instead of 5%)
    delta = synth_transcripts(spark, hi, 10).filter(
        f"CAST(substr(conv_id, 6) AS BIGINT) >= {n_turns // 10}"
    )
    merged = merge_delta(spark, base, delta)
    merged.blocks.count()
    _assert_identical(
        spark, merged, {1: "spark shuffle partition", 2: "the index"}, "post-merge", results
    )
    _flush(json_out, n_turns, results, run)
    # drop check-3 caches before the K-merge chain: base+merged together hold
    # ~2 full postings relations; at 10M turns leaving them cached puts the
    # executor store within range of OOM once check 4 persists its own chain
    # (the r4 first attempt died with crashed Python workers in exactly that
    # probe). release() covers the merge's tokenized-delta cache too.
    merged.release()
    base.release()

    # 4. merge chain at soak scale: K_MERGES consecutive merges on the SKEWED
    # corpus (the pruning regime), each delta ~0.4% of the corpus, no
    # compaction. Every merge leaves exact block maxima, so the merged index
    # must take driver phase 2 and prune like a FRESH build of the same final
    # corpus (base + K deltas). Block composition still differs slightly
    # (merge appends dense ordinals per delta; a fresh build numbers docs in
    # one pass), hence the 5% + 4-block slack rather than equality. A
    # compaction afterwards is one more exact check.
    from bge_m3_onnx_spark.streaming.incremental import compact_index

    probe = {1: "the", 2: "the spark checkpoint"}

    def pruning_fraction(ix, label):
        st: dict = {}
        run_queries_wand(spark, ix, probe, k=10, force_wand=True, stats_out=st).collect()
        frac = st["blocks_surviving"] / max(st["blocks_total"], 1)
        print(f"  {label}: {st['blocks_surviving']}/{st['blocks_total']} = {frac:.4f}")
        return frac, st

    n_base_convs = n_turns // 10
    cur = build_index(
        synth_transcripts_skewed(spark, n_base_convs, 10), with_ordinals=True, with_blocks=True
    )
    frac_fresh, _ = pruning_fraction(cur, "fresh build")
    delta_convs = max(n_base_convs // 250, 100)
    prev_seg_dir: str | None = None
    t0 = time.monotonic()
    for m in range(K_MERGES):
        lo = n_base_convs + m * delta_convs
        d = synth_transcripts_skewed(spark, lo + delta_convs, 10).filter(
            f"CAST(substr(conv_id, 6) AS BIGINT) >= {lo}"
        )
        prev = cur
        cur = merge_delta(spark, prev, d)
        assert cur.blocks is not None
        seg_dir = tempfile.mkdtemp(prefix=f"soak_seg{m}_")
        cur = _flush_segment(spark, cur, seg_dir)
        prev.release()
        if prev_seg_dir is not None:
            shutil.rmtree(prev_seg_dir, ignore_errors=True)
        prev_seg_dir = seg_dir
        # dead shuffle files are only deleted once the driver GCs the
        # JVM-side references — force it so disk stays bounded
        spark.sparkContext._jvm.System.gc()
    t_merges = time.monotonic() - t0
    frac_merged, st_m = pruning_fraction(cur, f"after {K_MERGES} merges")
    assert st_m["phase2"] == "driver", st_m  # like a fresh index
    _assert_identical(spark, cur, probe, f"after {K_MERGES} merges", results)
    _flush(json_out, n_turns, results, run)
    full = build_index(
        synth_transcripts_skewed(spark, n_base_convs + K_MERGES * delta_convs, 10),
        with_ordinals=True,
        with_blocks=True,
    )
    frac_full, st_f = pruning_fraction(full, "fresh full rebuild (same corpus)")
    assert st_m["blocks_surviving"] <= st_f["blocks_surviving"] * 1.05 + 4, (
        frac_fresh,
        frac_merged,
        frac_full,
    )
    full.release()
    t0 = time.monotonic()
    compacted = compact_index(cur)
    frac_compacted, _ = pruning_fraction(compacted, "post-compaction")
    t_compact = time.monotonic() - t0
    _assert_identical(spark, compacted, probe, "post-compaction", results)
    results.append(
        {
            "check": f"merged pruning after {K_MERGES} merges vs a fresh rebuild",
            "status": "PASS",
            "pruning_fraction_fresh_base": round(frac_fresh, 4),
            "pruning_fraction_after_merges": round(frac_merged, 4),
            "pruning_fraction_fresh_full_rebuild": round(frac_full, 4),
            "pruning_fraction_post_compaction": round(frac_compacted, 4),
            "merges_sec": round(t_merges, 1),
            "compact_sec": round(t_compact, 1),
        }
    )

    if prev_seg_dir is not None:
        shutil.rmtree(prev_seg_dir, ignore_errors=True)
    spark.stop()
    print("SOAK: all invariants hold")
    _flush(json_out, n_turns, results, run, t_mat=t_mat, done=True)
    if json_out:
        print(f"wrote {json_out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
