"""Resume the soak's merge-chain check from a flushed merge segment.

The soak drives K_MERGES merges with a parquet segment flush per merge
(tools/soak.py check 4). At 10M turns a single long session can die before
the chain's last probes — the r4 run exhausted system memory ~80 minutes in
(reused Python workers' accumulated RSS plus the 48 GB driver JVM). A serving
system would not re-merge from scratch after a process death: it restarts
FROM THE FLUSHED SEGMENT. This tool does exactly that, which makes it both the
recovery path for the soak artifact and a restart-recovery check in its own
right:

    python tools/soak_resume.py <seg_dir> <n_turns> <expected_surviving> \
        <expected_total> [json_out]

Loads the segment (postings/terms/docs/blocks parquet), asserts the WAND
pruning stats match the pre-restart probe bit-for-bit (restart recovery) and
WAND == exact, checks the merged pruning against a fresh full rebuild of the
same corpus (5% + 4-block slack), then compacts and checks WAND == exact once
more. Appends its checks to an existing soak artifact (complete=true on
success).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bge_m3_onnx_spark.config import DEFAULT_CONFIG  # noqa: E402
from bge_m3_onnx_spark.plans.build_index import InvertedIndex, build_index  # noqa: E402
from bge_m3_onnx_spark.plans.query import run_queries  # noqa: E402
from bge_m3_onnx_spark.plans.wand import run_queries_wand  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from bge_m3_onnx_spark.sources.transcripts import synth_transcripts_skewed  # noqa: E402
from bge_m3_onnx_spark.streaming.incremental import compact_index  # noqa: E402

PROBE = {1: "the", 2: "the spark checkpoint"}
# merges in the soak's check-4 chain (tools/soak.py)
K_MERGES = 8


def _key(r):
    return (r["query_id"], r["rank"], r["doc_id"], r["score"])


def main() -> int:
    seg_dir = sys.argv[1]
    n_turns = int(sys.argv[2])
    expected_surviving = int(sys.argv[3])
    expected_total = int(sys.argv[4])
    json_out = sys.argv[5] if len(sys.argv) > 5 else None

    # the master is get_spark's default, as in tools/soak.py
    spark = get_spark(
        app_name="soak-resume",
        shuffle_partitions=64,
        extra_conf={
            "spark.sql.broadcastTimeout": "1800",
            "spark.cleaner.periodicGC.interval": "60s",
        },
    )

    rel = {n: spark.read.parquet(os.path.join(seg_dir, n)) for n in ("postings", "terms", "docs", "blocks")}
    row = rel["docs"].agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    cur = InvertedIndex(
        postings=rel["postings"],
        terms=rel["terms"],
        docs=rel["docs"],
        n_docs=int(row["n"]),
        avgdl=float(row["avgdl"]),
        cfg=DEFAULT_CONFIG,
        blocks=rel["blocks"],
    )

    results: list = []

    def pruning_fraction(ix, label):
        st: dict = {}
        run_queries_wand(spark, ix, PROBE, k=10, force_wand=True, stats_out=st).collect()
        frac = st["blocks_surviving"] / max(st["blocks_total"], 1)
        print(f"  {label}: {st['blocks_surviving']}/{st['blocks_total']} = {frac:.4f}")
        return frac, st

    def assert_identical(ix, label):
        t0 = time.monotonic()
        e = run_queries(spark, ix, PROBE, k=10).collect()
        t_exact = time.monotonic() - t0
        st: dict = {}
        t0 = time.monotonic()
        w = run_queries_wand(spark, ix, PROBE, k=10, force_wand=True, stats_out=st).collect()
        t_wand = time.monotonic() - t0
        assert sorted(map(_key, w)) == sorted(map(_key, e)), f"{label}: WAND != exact"
        print(f"PASS {label}: WAND == exact bit-identical ({len(e)} rows)")
        results.append(
            {
                "check": label,
                "status": "PASS",
                "rows_compared": len(e),
                "exact_sec": round(t_exact, 2),
                "wand_forced_sec": round(t_wand, 2),
                "pruning": {k: v for k, v in st.items() if k.startswith("blocks_")},
            }
        )

    # restart recovery: the reloaded segment must probe identically to the
    # pre-restart session's "after K merges" numbers
    frac_merged, st_m = pruning_fraction(cur, f"after {K_MERGES} merges (restart-recovered)")
    assert st_m["blocks_surviving"] == expected_surviving, (st_m, expected_surviving)
    assert st_m["blocks_total"] == expected_total, (st_m, expected_total)
    assert_identical(cur, f"restart-recovered segment after {K_MERGES} merges")

    # a merged index prunes like a fresh build of the SAME final corpus
    n_base_convs = n_turns // 10
    delta_convs = max(n_base_convs // 250, 100)
    full = build_index(
        synth_transcripts_skewed(spark, n_base_convs + K_MERGES * delta_convs, 10),
        with_ordinals=True,
        with_blocks=True,
    )
    frac_full, st_f = pruning_fraction(full, "fresh full rebuild (same corpus)")
    assert st_m["blocks_surviving"] <= st_f["blocks_surviving"] * 1.05 + 4, (st_m, st_f)
    full.release()

    t0 = time.monotonic()
    compacted = compact_index(cur)
    frac_compacted, _ = pruning_fraction(compacted, "post-compaction")
    t_compact = time.monotonic() - t0
    assert_identical(compacted, "post-compaction")
    results.append(
        {
            "check": f"merged pruning after {K_MERGES} merges vs a fresh rebuild (restart-resumed)",
            "status": "PASS",
            "pruning_fraction_after_merges": round(frac_merged, 4),
            "pruning_fraction_fresh_full_rebuild": round(frac_full, 4),
            "pruning_fraction_post_compaction": round(frac_compacted, 4),
            "compact_sec": round(t_compact, 1),
        }
    )

    spark.stop()
    if json_out:
        with open(json_out) as f:
            payload = json.load(f)
        payload["checks"].extend(results)
        payload["complete"] = True
        payload["resume_note"] = (
            f"merge-chain tail resumed from the merge-{K_MERGES} parquet segment in a "
            "fresh process; restart recovery asserted bit-identical pruning stats "
            "vs the pre-restart probe"
        )
        tmp = json_out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, json_out)
        print(f"appended to {json_out}")
    print("SOAK RESUME: all invariants hold")
    return 0


if __name__ == "__main__":
    sys.exit(main())
