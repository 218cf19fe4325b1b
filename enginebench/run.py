"""Benchmark of the engine, driven only through its public API.

Run from the repository root:

    python3 enginebench/run.py --workload serve --seed 1 --seconds 15 --trace 0

One process, one ``local[4]`` session and one client in a closed loop: each
request waits for its answer before the next is sent. A single client, because
``run_queries_wand`` sets the session-global ``spark.sql.shuffle.partitions``.
The driver JVM gets a fixed, pre-touched heap of ``HEAP``: on a virtual machine
the first touch of each new page is slow, and a heap that grows during the
measured loop made whole runs 20-30% slower at random.

Set-up builds the index from a seeded skewed corpus written to Parquet,
SETUP_REPEATS times, then makes one whole warm-up pass over the workload's
requests. Workloads:

* ``serve``: a routed ``run_queries_wand`` request (k=10) from a seeded
  Zipf-weighted mix of 1-4 terms, against an index set-up wrote with
  ``materialize_index`` and read back with ``load_materialized``.
* ``prune``: a ``run_queries_wand(force_wand=True)`` request, drawn in turn
  from three prunable shapes, against an index set-up built with
  ``build_index(with_blocks=True)`` and cached in memory.

Every answer is checked after the clock stops: against ``tests/oracle.py``
(rank and doc_id exact, score within ``ORACLE_SCORE_ATOL``), and forced-WAND
answers also against ``run_queries`` on the same index, bit for bit.
Diagnostics go to stderr. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run turns on Spark's event log, wraps every call into an engine
layer in a span whose name becomes the Spark job group, and passes
``stats_out`` to ``run_queries_wand``. Layers a workload does not load on its
own path are driven once over the delta batch at the end ("layer probes"), so
every layer reports in every workload. The probes include ``merge_delta`` of
a seeded delta (10% of the base) into the served index, checked against the
oracle over base + delta.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("serve", "prune")
WORKERS = 4
BASE_TURNS = 10_000
DELTA_TURNS = BASE_TURNS // 10
MIX_SIZE = 16
PROBE_QUERIES = 4
SETUP_REPEATS = 2
SERVE_TAIL_PERCENTILE = 75.0
K = 10
HEAP = "1g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into the run directory, and let workers import the engine from
    any working directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # every JVM, the spark-submit launcher's too: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = [str(ROOT)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [str(ROOT)]


# Scores are compared to the oracle within this absolute tolerance: the engine
# takes idf's log in the JVM and the oracle in CPython, and the two can differ
# in the last bit. Rank and doc_id must match exactly; forced-WAND answers must
# equal run_queries' bit for bit.
ORACLE_SCORE_ATOL = 1e-12


def rows_of(rows) -> list[tuple[int, str, float]]:
    return [(r["rank"], r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


def matches_oracle(got: list, expected: list) -> bool:
    return len(got) == len(expected) and all(
        g[:2] == e[:2] and abs(g[2] - e[2]) <= ORACLE_SCORE_ATOL for g, e in zip(got, expected)
    )


def note(span, **attrs) -> None:
    if span is not None:
        span.attrs.update(attrs)


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: Path):
        self.args = args
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_ms: list[float] = []
        self.diag: dict = {"workload": args.workload, "seed": args.seed}
        self.spark = None
        self.proc = None
        self.pss = None
        self.payload = 0.0
        self.build_s: list[float] = []
        self.load_s: list[float] = []
        self.manifests: list[dict] = []
        self._oracles: dict[str, object] = {}
        self._topk: dict[tuple[str, str, int], list] = {}

    # ---------------------------------------------------------------- inputs
    def make_inputs(self) -> None:
        from inputs import generate

        self.inp = generate(self.args.seed, BASE_TURNS, DELTA_TURNS, MIX_SIZE)
        d = self.run_dir / "in"
        d.mkdir()
        self.base_path = str(d / "base.parquet")
        self.delta_path = str(d / "delta.parquet")
        self.inp.base.write_parquet(self.base_path)
        self.inp.delta.write_parquet(self.delta_path)

    def oracle(self, which: str):
        """Reference index over 'base' or 'union' (base + delta)."""
        if which not in self._oracles:
            from tests.oracle import oracle_from_rows

            rows = {
                "base": self.inp.base.rows,
                "union": lambda: self.inp.base.rows() + self.inp.delta.rows(),
            }[which]()
            self._oracles[which] = oracle_from_rows(rows)
        return self._oracles[which]

    def expected(self, which: str, query: str, k: int) -> list:
        key = (which, query, k)
        if key not in self._topk:
            self._topk[key] = self.oracle(which).topk(query, k)
        return self._topk[key]

    def postings_count(self, which: str) -> int:
        return sum(len(p) for p in self.oracle(which).postings.values())

    # --------------------------------------------------------------- session
    def start_session(self) -> None:
        from bge_m3_onnx_spark.session import get_spark
        from procs import PssSampler
        from spans import Tracer

        rd = self.run_dir
        conf = {
            "spark.local.dir": str(rd / "local"),
            "spark.sql.warehouse.dir": str(rd / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.traced else "false",
        }
        if self.traced:
            (rd / "events").mkdir()
            conf["spark.eventLog.dir"] = (rd / "events").as_uri()
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"enginebench-{self.args.workload}",
            master=f"local[{WORKERS}]",
            extra_conf=conf,
        )
        self.session_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.proc = sc._gateway.proc
        self.pss = PssSampler(self.proc.pid).start()
        self.tracer = Tracer(sc, self.traced)

    def close(self) -> None:
        """Stop the session and reap the JVM and its Python workers."""
        from procs import reap

        if self.spark is not None:
            self.spark.stop()
        if self.pss is not None:
            self.pss.sample()
            self.peak_pss_mb = self.pss.stop()
        if self.proc is not None:
            killed = reap(self.proc)
            if killed:
                self.diag["killed_pids"] = killed

    # ----------------------------------------------------------- engine calls
    def read(self, path: str):
        return self.spark.read.parquet(path)

    def build_forced(self, transcripts):
        """build_index(with_blocks=True) with every persisted relation forced."""
        from bge_m3_onnx_spark.plans.build_index import build_index

        span = self.tracer.span
        with span("ordinals"):
            idx = build_index(transcripts, with_blocks=True)
        with span("postings") as s:
            n_postings = idx.postings.count()
            note(s, rows=n_postings)
        with span("terms"):
            idx.terms.count()
        with span("docs"):
            idx.docs.count()
        with span("compress") as s:
            note(s, rows=idx.blocks.count())
        return idx, n_postings

    def merge_forced(self, idx, delta):
        from bge_m3_onnx_spark.streaming.incremental import merge_delta

        with self.tracer.span("incremental"):
            merged = merge_delta(self.spark, idx, delta)
            n_postings = merged.postings.count()
            merged.terms.count()
            merged.docs.count()
            merged.blocks.count()
        return merged, n_postings

    def materialize(self, transcripts, input_path: str, index_dir: Path):
        from bge_m3_onnx_spark.plans.checkpoint import load_materialized, materialize_index

        tr = self.tracer
        with tr.span("checkpoint.materialize"):
            man = materialize_index(
                self.spark, transcripts, str(index_dir), input_path=input_path,
                on_stage=lambda name: (tr.close_stage(), tr.open_stage(f"checkpoint.{name}")),
            )
            tr.close_stage()
        t0 = time.perf_counter()
        with tr.span("checkpoint.load"):
            midx = load_materialized(self.spark, str(index_dir))
        self.load_s.append(time.perf_counter() - t0)
        self.manifests.append(man.stages)
        return midx

    def request(self, layer: str, idx, query: str, k: int, force: bool):
        """One closed-loop request: the entry-point call, then the collect."""
        from bge_m3_onnx_spark.plans.wand import run_queries_wand

        stats = {} if self.traced else None
        with self.tracer.span(f"{layer}.call") as s:
            df = run_queries_wand(self.spark, idx, {1: query}, k=k, force_wand=force, stats_out=stats)
        with self.tracer.span(f"{layer}.collect"):
            rows = rows_of(df.collect())
        if stats is not None:
            note(s, router_exact=float(stats.get("router_choice") == "exact"))
            for key in ("blocks_total", "blocks_surviving", "blocks_extra_decoded", "n_candidates"):
                if key in stats:
                    note(s, **{key: stats[key]})
            if "t_theta_sec" in stats:
                note(s, theta_ms=stats["t_theta_sec"] * 1e3, final_ms=stats["t_final_sec"] * 1e3)
        return rows

    def exact(self, idx, queries: dict[int, str], k: int) -> dict[int, list]:
        from bge_m3_onnx_spark.plans.query import run_queries

        with self.tracer.span("query.call"):
            df = run_queries(self.spark, idx, queries, k=k)
        with self.tracer.span("query.collect"):
            rows = df.collect()
        out: dict[int, list] = {q: [] for q in queries}
        for r in rows:
            out[r["query_id"]].append(r)
        return {q: rows_of(rs) for q, rs in out.items()}

    # ---------------------------------------------------------------- checks
    def problem(self, what: str) -> None:
        """A wrong result outside the measured loop: the run is not correct."""
        if len(self.problems) < 20:
            self.problems.append(what)

    def fail(self, what: str) -> None:
        """A failed request of the measured loop."""
        self.failed += 1
        self.problem(what)

    # ------------------------------------------------------------- workloads
    def run(self) -> None:
        self.make_inputs()
        self.oracle("base")
        self.start_session()
        tr = self.tracer
        with tr.span("run"):
            with tr.span("phase.setup"):
                base, delta = self.read(self.base_path), self.read(self.delta_path)
                if self.args.workload == "serve":
                    calls = self.setup_serve(base)
                    self.requests = [("query", q, K, False) for q in self.inp.serve_mix]
                else:
                    calls = self.setup_prune(base)
                    self.requests = [("wand", q, k, True) for _, q, k in self.inp.prune_shapes]
                t0 = time.perf_counter()
                for layer, q, k, force in self.requests:  # one whole warm-up pass
                    self.request(layer, self.idx, q, k, force)
                warmup_s = time.perf_counter() - t0
            self.setup_s = self.session_s + statistics.median(calls) + warmup_s
            self.diag.update(session_s=self.session_s, setup_calls_s=calls, warmup_s=warmup_s)
            with tr.span("phase.loop"):
                t0 = time.perf_counter()
                self.loop(t0 + self.args.seconds)
                self.diag["loop_s"] = time.perf_counter() - t0
            with tr.span("phase.checks"):
                self.check_answers()
                if self.traced:
                    self.payload = self.payload_per_posting(self.idx.blocks)
            if self.traced:
                with tr.span("phase.probe"):
                    self.probe_layers(delta)

    def setup_prune(self, base) -> list[float]:
        """Build and cache the index SETUP_REPEATS times; serve the last."""
        calls, idx = [], None
        for r in range(SETUP_REPEATS):
            if idx is not None:
                idx.release()
            t0 = time.perf_counter()
            idx, n = self.build_forced(base)
            calls.append(time.perf_counter() - t0)
            if n != self.postings_count("base"):
                self.problem(f"build has {n} postings")
            if r == 0:
                self.index_bytes = self.cached_bytes()
        self.idx, self.build_s = idx, calls
        return calls

    def setup_serve(self, base) -> list[float]:
        """Materialize and load the index SETUP_REPEATS times; serve the last.
        The build time is the materialization without the load."""
        calls = []
        for r in range(SETUP_REPEATS):
            d = self.run_dir / f"index{r}"
            if r:
                shutil.rmtree(self.run_dir / f"index{r - 1}")
            t0 = time.perf_counter()
            self.idx = self.materialize(base, self.base_path, d)
            calls.append(time.perf_counter() - t0)
            self.build_s.append(calls[-1] - self.load_s[-1])
        self.index_bytes = sum(
            f.stat().st_size
            for f in d.rglob("*")
            if f.is_file() and (f.suffix == ".parquet" or f.name == "stats.json")
        )
        return calls

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def merge(self, delta) -> None:
        """Merge the delta into the served index, check the merged generation
        against the oracle over base + delta, then release it."""
        merged, n = self.merge_forced(self.idx, delta)
        if n != self.postings_count("union"):
            self.problem(f"merge has {n} postings")
        probes = dict(enumerate(self.inp.serve_mix[:PROBE_QUERIES], start=1))
        got = self.exact(merged, probes, K)
        for q, text in probes.items():
            if not matches_oracle(got[q], self.expected("union", text, K)):
                self.problem(f"merged index answers {text!r} wrongly")
        merged.release()

    def loop(self, deadline: float) -> None:
        """Closed loop over the request list until the deadline."""
        self.answers = []
        i = 0
        while time.perf_counter() < deadline:
            layer, q, k, force = self.requests[i % len(self.requests)]
            i += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                rows = self.request(layer, self.idx, q, k, force)
            except Exception as e:  # a failed request must not end the run
                self.fail(f"request {q!r}: {type(e).__name__}: {e}")
                continue
            self.op_ms.append((time.perf_counter() - t0) * 1e3)
            self.answers.append((q, k, force, rows))

    def check_answers(self) -> None:
        """Every answer against the oracle; forced-WAND answers also against
        run_queries on the same index, bit for bit."""
        ref = {}
        for q, k, force, rows in self.answers:
            ok = matches_oracle(rows, self.expected("base", q, k))
            if force:
                if (q, k) not in ref:
                    ref[q, k] = self.exact(self.idx, {1: q}, k)[1]
                ok = ok and rows == ref[q, k]
            if not ok:
                self.fail(f"answer to {q!r} k={k} force_wand={force}")

    def probe_layers(self, delta) -> None:
        """Traced run only: drive once, over the delta batch, the layers this
        workload does not load on its own path."""
        self.merge(delta)
        if self.args.workload == "serve":
            idx, _ = self.build_forced(delta)
            idx.release()
            _, q, k = self.inp.prune_shapes[0]
            rows = self.request("wand", self.idx, q, k, force=True)
            if not matches_oracle(rows, self.expected("base", q, k)):
                self.problem(f"probe WAND answers {q!r} wrongly")
        else:
            self.materialize(delta, self.delta_path, self.run_dir / "probe_index")

    def payload_per_posting(self, blocks) -> float:
        from pyspark.sql import functions as F

        row = blocks.agg(
            F.sum(F.length("ords_vb") + F.length("tfs_vb") + F.length("dls_vb")).alias("b"),
            F.sum("n").alias("n"),
        ).collect()[0]
        return float(row["b"]) / float(row["n"])

    # --------------------------------------------------------------- results
    def end_to_end(self) -> dict:
        """Every end-to-end metric: (value, unit). ``build_turns_per_s`` comes
        from the build the served index comes from: set-up's in-memory builds
        (prune) or its materializations (serve)."""
        from stats import median, tail

        p50 = median(self.op_ms)
        self.diag.update(requests=len(self.op_ms), request_p50_ms=p50, request_ms=self.op_ms)
        if self.args.workload == "serve":
            try:
                self.diag["request_tail"] = tail(self.op_ms, SERVE_TAIL_PERCENTILE)
            except ValueError as e:
                self.diag["request_tail"] = f"not reported: {e}"
        return {
            "setup_s": (self.setup_s, "s"),
            "request_p50_ms": (p50, "ms"),
            "build_turns_per_s": (BASE_TURNS / median(self.build_s), "1/s"),
            "index_bytes_per_turn": (self.index_bytes / BASE_TURNS, "B"),
            "peak_pss_mb": (self.peak_pss_mb, "MB"),
        }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bge_m3_onnx_spark" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle.py"
    ).is_file():
        print(
            "enginebench: bge_m3_onnx_spark/ and tests/oracle.py must sit next to"
            f" {HERE.name}/; run it from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    from procs import cpu_control_s, steal_jiffies

    run_dir = ROOT / ".enginebench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    try:
        isolate(run_dir)
        cpu_pre = cpu_control_s()
        steal0 = steal_jiffies()
        bench = Bench(args, run_dir)
        try:
            bench.run()
        finally:
            bench.close()
        metrics = finish(bench)
        bench.diag["steal_s"] = (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
        bench.diag["cpu_control_s"] = {"before": cpu_pre, "after": cpu_control_s()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass
    bench.diag["problems"] = bench.problems
    print(json.dumps(bench.diag), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0 and not bench.problems,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def finish(bench: Bench) -> dict:
    """Metrics once the session has stopped (the event log is complete then)."""
    if not bench.op_ms:
        raise RuntimeError("no operation completed")
    m = bench.end_to_end() if not bench.traced else layer_metrics(bench)
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def layer_metrics(bench: Bench) -> dict:
    from bge_m3_onnx_spark.plans.checkpoint import STAGES
    from spans import layer_report
    from stats import median

    layers, spark = layer_report(
        bench.tracer.spans, str(bench.run_dir / "events"), len(bench.op_ms)
    )
    bench.diag["layers"] = layers
    bench.diag["spark"] = spark

    def lay(name: str, field: str) -> float:
        return float(layers[name][field]) if name in layers else 0.0

    def attr(name: str, key: str) -> float:
        return float(layers.get(name, {}).get("attrs", {}).get(key, 0.0))

    man = bench.manifests
    m = {"session.start_s": (bench.session_s, "s")}
    m["ordinals.s"] = (lay("ordinals", "self_s"), "s")
    m["ordinals.jobs"] = (lay("ordinals", "jobs"), "count")
    m["postings.s"] = (lay("postings", "self_s"), "s")
    m["postings.task_s"] = (lay("postings", "task_s"), "s")
    m["postings.rows"] = (attr("postings", "rows"), "count")
    m["postings.gc_ms"] = (lay("postings", "gc_ms"), "ms")
    m["terms.s"] = (lay("terms", "self_s"), "s")
    m["terms.shuffle_write_mb"] = (lay("terms", "shuffle_write_mb"), "MB")
    m["docs.s"] = (lay("docs", "self_s"), "s")
    m["compress.s"] = (lay("compress", "self_s"), "s")
    m["compress.shuffle_write_mb"] = (lay("compress", "shuffle_write_mb"), "MB")
    m["compress.spill_mb"] = (lay("compress", "spill_mb"), "MB")
    m["compress.blocks"] = (attr("compress", "rows"), "count")
    m["compress.payload_bytes_per_posting"] = (bench.payload, "B")
    m["incremental.s"] = (lay("incremental", "self_s"), "s")
    m["incremental.jobs"] = (lay("incremental", "jobs"), "count")
    m["incremental.shuffle_write_mb"] = (lay("incremental", "shuffle_write_mb"), "MB")
    for st in STAGES:
        m[f"checkpoint.{st}_s"] = (median([s[st]["wall_ms"] / 1e3 for s in man]), "s")
    m["checkpoint.bytes_written_mb"] = (
        median([sum(s[st].get("bytes", 0) for st in STAGES) / 1e6 for s in man]),
        "MB",
    )
    m["checkpoint.load_s"] = (median(bench.load_s), "s")
    m["query.driver_ms"] = (lay("query.call", "self_s") * 1e3, "ms")
    m["query.collect_ms"] = (lay("query.collect", "self_s") * 1e3, "ms")
    m["query.df_lookup_jobs"] = (lay("query.call", "jobs"), "count")
    m["query.jobs"] = (lay("query.collect", "jobs"), "count")
    m["query.tasks"] = (lay("query.collect", "tasks"), "count")
    m["query.scan_mb"] = (lay("query.collect", "input_mb"), "MB")
    m["query.router_exact_frac"] = (attr("query.call", "router_exact"), "fraction")
    m["wand.call_ms"] = (lay("wand.call", "self_s") * 1e3, "ms")
    m["wand.collect_ms"] = (lay("wand.collect", "self_s") * 1e3, "ms")
    m["wand.jobs"] = (lay("wand.call", "jobs") + lay("wand.collect", "jobs"), "count")
    m["wand.theta_ms"] = (attr("wand.call", "theta_ms"), "ms")
    m["wand.final_ms"] = (attr("wand.call", "final_ms"), "ms")
    total = attr("wand.call", "blocks_total")
    m["wand.blocks_total"] = (total, "count")
    m["wand.blocks_surviving_frac"] = (
        attr("wand.call", "blocks_surviving") / total if total else 0.0,
        "fraction",
    )
    m["wand.blocks_extra_decoded"] = (attr("wand.call", "blocks_extra_decoded"), "count")
    m["wand.candidates"] = (attr("wand.call", "n_candidates"), "count")
    for key, unit in (("task_s", "s"), ("gc_ms", "ms"), ("sched_delay_ms", "ms"), ("spill_mb", "MB"), ("unattributed_s", "s")):
        m[f"spark.{key}"] = (spark[key], unit)
    m["trace.request_p50_ms"] = (median(bench.op_ms), "ms")
    return m


if __name__ == "__main__":
    sys.exit(main())
