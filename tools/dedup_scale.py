"""Measure the dedup pipeline at soak scale — candidate ratio, CC rounds, wall.

VERDICT r2 #5: the MinHash+LSH design is bucketed and sharp-thresholded on
paper; this runs the full exact → minhash → LSH → Jaccard-verify → connected-
components pipeline on a soak-sized corpus and records the numbers that prove
the design holds off paper:

* candidate-pair ratio vs all-pairs (must be ≪ 5% — the r1 degeneracy test)
* connected-components label-propagation round count (should be O(near-dup
  component diameter), i.e. single digits)
* per-stage wall time

    python tools/dedup_scale.py [n_docs] [json_out]   # default 1,000,000

Pipeline order mirrors a real training-data pipeline: EXACT dedup first (the
synthetic corpus repeats a small set of edge-case texts — every real crawl has
the same shape — and near-dup machinery should never see million-row buckets
of byte-identical docs), then near-dup over the exact-canonical survivors.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bge_m3_onnx_spark.config import DEFAULT_CONFIG  # noqa: E402
from bge_m3_onnx_spark.operators.dedup import (  # noqa: E402
    connected_components,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_bands,
    shingles,
)
from bge_m3_onnx_spark.operators.postings import tokenized_docs  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from bge_m3_onnx_spark.sources.transcripts import synth_transcripts_skewed  # noqa: E402


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    json_out = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark(app_name="dedup-scale")
    out: dict = {"n_docs": n_docs}

    t_all = time.monotonic()
    tr = synth_transcripts_skewed(spark, n_docs // 10, 10)
    docs = tr.select(
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        "text",
    )

    # stage 1: exact dedup (normalized-hash groupBy), keep canonical doc per hash
    t0 = time.monotonic()
    ex = exact_dedup(docs).persist()
    n_groups = ex.count()
    out["exact"] = {
        "groups": n_groups,
        "dropped": n_docs - n_groups,
        "sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps({"stage": "exact", **out["exact"]}), flush=True)

    tok = (
        tokenized_docs(tr, DEFAULT_CONFIG)
        .join(ex.select(F.col("canonical_doc_id").alias("doc_id")), "doc_id", "left_semi")
        .select("doc_id", "terms")
        .persist()
    )
    n_canon = tok.count()
    ex.unpersist()

    # stage 2: minhash signatures + LSH bands — xxhash64 family (the scale
    # path, VERDICT r3 #6: the md5 family's 128 digests per (doc, shingle) row
    # were 557 of the 670 s total at 1M docs)
    t0 = time.monotonic()
    bands = minhash_bands(tok, hash_family="xxhash64").persist()
    n_band_rows = bands.count()
    out["minhash"] = {
        "hash_family": "xxhash64",
        "band_rows": n_band_rows,
        "sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps({"stage": "minhash", **out["minhash"]}), flush=True)

    # stage 3: LSH candidate pairs — THE scale check: ratio vs all-pairs ≪ 5%
    t0 = time.monotonic()
    pairs = lsh_candidate_pairs(bands).persist()
    n_pairs = pairs.count()
    all_pairs = n_canon * (n_canon - 1) / 2
    ratio = n_pairs / all_pairs if all_pairs else 0.0
    out["lsh"] = {
        "candidate_pairs": n_pairs,
        "all_pairs": int(all_pairs),
        "candidate_ratio": ratio,
        "sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps({"stage": "lsh", **out["lsh"]}), flush=True)
    assert ratio < 0.05, f"LSH candidate ratio {ratio:.4%} — degenerate bucketing"
    bands.unpersist()

    # stage 4: exact Jaccard verification on candidates (shingle sets)
    t0 = time.monotonic()
    sh = shingles(tok).withColumnRenamed("shingle", "term")
    verified = jaccard_verify(sh, pairs, threshold=0.5).persist()
    n_verified = verified.count()
    out["jaccard"] = {"verified_pairs": n_verified, "sec": round(time.monotonic() - t0, 1)}
    print(json.dumps({"stage": "jaccard", **out["jaccard"]}), flush=True)
    pairs.unpersist()

    # stage 5: connected components → clusters
    t0 = time.monotonic()
    cc_stats: dict = {}
    clusters = connected_components(verified, stats_out=cc_stats)
    n_clustered = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    out["cc"] = {
        "docs_in_clusters": n_clustered,
        "clusters": n_clusters,
        "rounds": cc_stats.get("rounds"),
        "sec": round(time.monotonic() - t0, 1),
    }
    vx = {(r["doc_a"], r["doc_b"]): float(r["jaccard_r"]) for r in verified.collect()}
    print(json.dumps({"stage": "cc", **out["cc"]}), flush=True)
    verified.unpersist()

    out["total_sec"] = round(time.monotonic() - t_all, 1)

    # ---- md5 comparison arm (one-time, VERDICT r3 #6): the oracle slices keep
    # the md5 family for DuckDB parity; the swap claim is that numeric-min over
    # xxhash64 is an equivalent MinHash family. LSH banding detection is
    # PROBABILISTIC per family near the Jaccard threshold (P(candidate|J) =
    # 1-(1-J^r)^b ~ 6% at J=0.5, 95% at J=0.8 for b=16,r=8), so the two
    # families may each surface a few borderline true pairs the other misses —
    # first measured r4 at 1M docs: 3 md5-only + 3 xxhash64-only of 7,980.
    # False positives are impossible (every pair is exact-Jaccard verified), so
    # the correct equivalence evidence is: (a) verified-pair overlap >= 99.5%,
    # (b) every family-unique pair is a genuinely borderline J (< 0.9 — a
    # high-J pair missed by either family would indicate a broken hash family,
    # since P(miss|J=0.9) ~ 1e-4).
    t0 = time.monotonic()
    bands_md5 = minhash_bands(tok, hash_family="md5").persist()
    bands_md5.count()
    t_md5_sig = time.monotonic() - t0
    pairs_md5 = lsh_candidate_pairs(bands_md5).persist()
    n_pairs_md5 = pairs_md5.count()
    bands_md5.unpersist()
    verified_md5 = jaccard_verify(sh, pairs_md5, threshold=0.5).persist()
    vm = {(r["doc_a"], r["doc_b"]): float(r["jaccard_r"]) for r in verified_md5.collect()}
    only_md5 = {k: vm[k] for k in vm.keys() - vx.keys()}
    only_xx = {k: vx[k] for k in vx.keys() - vm.keys()}
    overlap = len(vm.keys() & vx.keys()) / max(len(vm), len(vx), 1)
    out["family_compare"] = {
        "md5_sig_sec": round(t_md5_sig, 1),
        "md5_candidate_pairs": n_pairs_md5,
        "verified_pairs_md5": len(vm),
        "verified_pairs_xxhash64": len(vx),
        "pair_overlap": round(overlap, 5),
        "pairs_only_md5": sorted([[a, b, j] for (a, b), j in only_md5.items()]),
        "pairs_only_xxhash64": sorted([[a, b, j] for (a, b), j in only_xx.items()]),
    }
    print(json.dumps({"stage": "family_compare", **out["family_compare"]}), flush=True)
    assert overlap >= 0.995, f"family pair overlap {overlap:.4%}"
    bad = {k: j for k, j in {**only_md5, **only_xx}.items() if j >= 0.9}
    assert not bad, f"high-J pairs missed by one family: {bad}"
    verified_md5.unpersist()
    pairs_md5.unpersist()
    tok.unpersist()

    out["status"] = "PASS"
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
