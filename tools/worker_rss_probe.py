"""Reproduce (and prove the bound for) Python-worker RSS growth across
Arrow batches — the long-session failure mode that killed the r4 soak.

PySpark reuses Python worker processes across tasks
(``spark.python.worker.reuse``, default true). Each Arrow batch a worker
handles can leave memory behind (allocator fragmentation, pyarrow pools,
object caches), so a reused worker's RSS is a high-water mark over
every task it has ever run. On a 32-slot local session driving a multi-hour
merge chain, those workers plus a 48g driver JVM exhausted the box ~80 min
into the r4 soak (`tools/soak_resume.py:1-20`). This is not a sandbox
artifact: a 100-TB build's executors run Python workers for days, and
per-worker growth x cores is the same budget line.

Measurement is taken from INSIDE the worker (the kernel reads
/proc/self/status VmRSS after doing the real tokenize+count work from
functions/tokenizer.py), keyed by worker pid — this sandbox runs workers in a
PID/proc view the driver cannot enumerate, so external sampling reads zero.
Worker-pid recurrence across jobs doubles as the proof of whether workers are
in fact reused in each mode.

Usage:
    python tools/worker_rss_probe.py                       # both modes
    python tools/worker_rss_probe.py reuse|noreuse         # one mode
    python tools/worker_rss_probe.py both WORKER_RSS_rN.json

Expected: with reuse=true the same pids recur across jobs with monotone RSS;
with reuse=false fresh pids per task and flat RSS. The bound adopted from
this measurement: tools/soak.py sets ``spark.python.worker.reuse=false`` for
the merge-chain session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROUNDS = 8
CONVS = 60_000  # 600k turns/job through the tokenize+count Arrow kernel


def _probe_kernel():
    """mapInArrow kernel: the build's counting kernel (functions/tokenizer.py
    term_counts_arrow_kernel) over each (doc_id, text) batch, then one
    (pid, rss_kb) row per batch so the worker reports its own footprint."""
    from bge_m3_onnx_spark.functions.tokenizer import term_counts_arrow_kernel

    count = term_counts_arrow_kernel()

    def kernel(batches):
        import pyarrow as pa

        for _ in count(batches):  # the real kernel's work
            rss = 0
            with open("/proc/self/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss = int(line.split()[1])
                        break
            yield pa.record_batch(
                [pa.array([os.getpid()], pa.int64()), pa.array([rss], pa.int64())],
                names=["pid", "rss_kb"],
            )

    return kernel


def run_mode(reuse: bool) -> list[dict]:
    from pyspark.sql import functions as F

    from bge_m3_onnx_spark.session import get_spark
    from bge_m3_onnx_spark.sources.transcripts import doc_id_col, synth_transcripts

    spark = get_spark(
        app_name=f"rss_probe_{'reuse' if reuse else 'noreuse'}",
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.python.worker.reuse": str(reuse).lower()},
    )
    probe = _probe_kernel()
    rows = []
    seen_pids: set[int] = set()
    for i in range(ROUNDS):
        per_worker = (
            synth_transcripts(spark, CONVS, 10)
            .select(doc_id_col().alias("doc_id"), "text")
            .mapInArrow(probe, "pid long, rss_kb long")
            .groupBy("pid")
            .agg(F.max("rss_kb").alias("rss_kb"))
            .collect()
        )
        pids = {int(r["pid"]) for r in per_worker}
        recur = len(pids & seen_pids)
        seen_pids |= pids
        rss = sorted(int(r["rss_kb"]) for r in per_worker)
        rows.append(
            {
                "job": i,
                "workers": len(pids),
                "recurring_pids": recur,
                "rss_max_mb": round(rss[-1] / 1024, 1),
                "rss_median_mb": round(rss[len(rss) // 2] / 1024, 1),
                "rss_total_mb": round(sum(rss) / 1024, 1),
            }
        )
        print(json.dumps(rows[-1]), flush=True)
    spark.stop()
    return rows


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "both"
    if mode in ("reuse", "noreuse"):
        rows = run_mode(mode == "reuse")
        print("RESULT " + json.dumps({"mode": mode, "rounds": rows}))
        return 0
    out = {}
    for m in ("reuse", "noreuse"):  # each mode in its own process / JVM
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), m],
            capture_output=True,
            text=True,
            check=True,
        )
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")][-1]
        out[m] = json.loads(line[len("RESULT "):])["rounds"]

    def _summ(rows):
        return {
            "rss_max_worker_mb_first_job": rows[0]["rss_max_mb"],
            "rss_max_worker_mb_last_job": rows[-1]["rss_max_mb"],
            "growth_mb": round(rows[-1]["rss_max_mb"] - rows[0]["rss_max_mb"], 1),
            "recurring_pids_by_job": [r["recurring_pids"] for r in rows],
        }

    summary = {
        "arrow_jobs_per_mode": ROUNDS,
        "turns_per_job": CONVS * 10,
        "kernel": "functions/tokenizer term_counts_arrow_kernel (the build's counting kernel)",
        "reuse_true": _summ(out["reuse"]),
        "reuse_false": _summ(out["noreuse"]),
        "rounds": out,
    }
    print(json.dumps(summary, indent=1))
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
