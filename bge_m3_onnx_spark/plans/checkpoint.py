"""Resumable, staged index materialization with per-partition lineage + metrics.

North rule: "resumable from checkpoint with per-partition lineage + metrics".

The build is a linear DAG of stages, each materialized to Parquet under the index
directory and recorded in ``_manifest/manifest.json``:

    tokenized   (doc_id, term_tfs, dl, doc_ord)-- the one Arrow counting-kernel pass
    docs        (doc_id, doc_ord, dl)          -- sorted by doc_ord (ord→id lookups prune)
    postings    (term, doc_id, doc_ord, tf, dl)-- bucket=pmod(xxhash64(term), B) dirs
    terms       (term, df)
    stats       stats.json: every field of plans/build_index.py:IndexManifest
    blocks      compressed block rows           -- bucket=pmod(xxhash64(term), B) dirs

Restarting after a failure skips every stage whose manifest entry is ``done`` and
whose Parquet commit marker (_SUCCESS) exists — downstream stages read the
materialized output of upstream stages, never recompute them. A restart with
another input, snapshot or build parameter (``n_buckets`` and the cfg fields
the stages read) reuses nothing: every stage runs again. Lineage per stage
records the pinned input snapshot, wall time, and per-output-file rows/bytes read
straight from the Parquet footers (the per-partition metrics: one file per output
partition).

With an Iceberg catalog the input read is snapshot-pinned via
``option('snapshot-id', ...)``; on plain Parquet the input path itself is the
snapshot (see sources/catalog.py's SnapshotTable for the versioned-directory
emulation).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.operators import postings as P
from bge_m3_onnx_spark.operators.compress import build_blocks
from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals
from bge_m3_onnx_spark.plans.build_index import IndexManifest, InvertedIndex

STAGES = ["tokenized", "docs", "postings", "terms", "stats", "blocks"]


class StageFailure(RuntimeError):
    """Injected by tests to simulate a mid-build crash."""


def _file_lineage(path: str, prefix: str = "") -> list[dict]:
    """Per-partition metrics from Parquet footers: (file, rows, bytes)."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.endswith(".parquet") and os.path.isfile(full):
            out.append(
                {
                    "file": prefix + name,
                    "rows": pq.ParquetFile(full).metadata.num_rows,
                    "bytes": os.path.getsize(full),
                }
            )
        elif os.path.isdir(full) and not prefix:  # partitioned layout (bucket=N/...)
            out += _file_lineage(full, f"{name}/")
    return out


@dataclass
class BuildManifest:
    index_dir: str
    input_path: str = ""
    snapshot_id: int | None = None
    # the build parameters the stage outputs depend on (materialize_index)
    params: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    @property
    def path(self) -> str:
        return os.path.join(self.index_dir, "_manifest", "manifest.json")

    @classmethod
    def load_or_new(
        cls, index_dir: str, input_path: str, snapshot_id: int | None, params: dict
    ) -> "BuildManifest":
        man = cls(index_dir=index_dir, input_path=input_path, snapshot_id=snapshot_id, params=params)
        if os.path.exists(man.path):
            with open(man.path) as f:
                d = json.load(f)
            key = (d.get("input_path"), d.get("snapshot_id"), d.get("params"))
            if key == (input_path, snapshot_id, params):
                man.stages = d.get("stages", {})
        return man

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "input_path": self.input_path,
                    "snapshot_id": self.snapshot_id,
                    "params": self.params,
                    "stages": self.stages,
                },
                f,
                indent=2,
            )
        os.replace(tmp, self.path)

    def is_done(self, stage: str) -> bool:
        info = self.stages.get(stage)
        if not info or info.get("status") != "done":
            return False
        out = info.get("output")
        if out and not os.path.exists(os.path.join(out, "_SUCCESS")):
            return False  # manifest says done but commit marker is gone → redo
        return True

    def mark_done(self, stage: str, output: str | None, wall_ms: float, extra: dict | None = None) -> None:
        entry = {"status": "done", "wall_ms": round(wall_ms, 1), "output": output}
        if output and os.path.isdir(output):
            lineage = _file_lineage(output)
            entry["partitions"] = len(lineage)
            entry["rows"] = sum(x["rows"] for x in lineage)
            entry["bytes"] = sum(x["bytes"] for x in lineage)
            entry["lineage"] = lineage
        if extra:
            entry.update(extra)
        self.stages[stage] = entry
        self.save()


def materialize_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    input_path: str = "",
    snapshot_id: int | None = None,
    n_buckets: int = 16,
    fail_after: str | None = None,
    on_stage: Callable[[str], None] | None = None,
) -> BuildManifest:
    """Run (or resume) the staged build. ``fail_after`` injects a crash after the
    named stage commits — the resume test kills and restarts the build with it."""
    os.makedirs(index_dir, exist_ok=True)
    # everything a stage reads besides its input: tokenizer (max_tokens,
    # special_terms), bucket layout, block cut and block maxima (k1, b,
    # block_size). Stored as JSON, compared as JSON.
    params = {
        "n_buckets": n_buckets,
        "max_tokens": cfg.max_tokens,
        "special_terms": sorted(cfg.special_terms),
        "k1": cfg.k1,
        "b": cfg.b,
        "block_size": cfg.block_size,
    }
    man = BuildManifest.load_or_new(index_dir, input_path, snapshot_id, params)

    def stage(name: str, fn: Callable[[], tuple[str | None, dict | None]]) -> None:
        if man.is_done(name):
            return
        if on_stage:
            on_stage(name)
        t0 = time.monotonic()
        output, extra = fn()
        man.mark_done(name, output, (time.monotonic() - t0) * 1000.0, extra)
        if fail_after == name:
            raise StageFailure(f"injected failure after stage {name!r}")

    tok_path = os.path.join(index_dir, "tokenized")
    docs_path = os.path.join(index_dir, "docs")
    post_path = os.path.join(index_dir, "postings")
    terms_path = os.path.join(index_dir, "terms")
    blocks_path = os.path.join(index_dir, "blocks")

    def st_tokenized():
        # boundary sample + bucket counts run on the light count-only twin —
        # the fat term_tfs kernel runs exactly once, inside the write
        from bge_m3_onnx_spark.sources.transcripts import doc_id_col

        tok = assign_dense_ordinals(
            P.counted_docs(transcripts, cfg), "doc_id", "doc_ord",
            stats_df=P.doc_len_docs(transcripts, cfg),
            key_df=transcripts.select(doc_id_col().alias("doc_id")),
        )
        tok.write.mode("overwrite").parquet(tok_path)
        return tok_path, None

    def st_docs():
        tok = spark.read.parquet(tok_path)
        (
            tok.select("doc_id", "doc_ord", "dl")
            .repartitionByRange(n_buckets, "doc_ord")
            .sortWithinPartitions("doc_ord")
            .write.mode("overwrite")
            .parquet(docs_path)
        )
        return docs_path, None

    def write_term_buckets(df: DataFrame, path: str, order: str) -> None:
        # the one partition layout of postings and blocks; its modulus is
        # the manifest's term_buckets
        (
            df.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
            .repartition("bucket")
            .sortWithinPartitions("term", order)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )

    def st_postings():
        tok = spark.read.parquet(tok_path)
        write_term_buckets(P.postings_from_counted(tok), post_path, "doc_ord")
        return post_path, None

    def st_terms():
        posts = spark.read.parquet(post_path)
        P.term_stats(posts, cfg).coalesce(max(1, n_buckets // 4)).write.mode(
            "overwrite"
        ).parquet(terms_path)
        return terms_path, None

    def st_stats():
        docs = spark.read.parquet(docs_path)
        row = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
        IndexManifest(
            n_docs=int(row["n"]),
            avgdl=float(row["avgdl"] or 0.0),
            k1=cfg.k1,
            b=cfg.b,
            block_size=cfg.block_size,
            term_buckets=n_buckets,
        ).write(index_dir)
        return None, {"rows": int(row["n"])}

    def st_blocks():
        posts = spark.read.parquet(post_path)
        terms = spark.read.parquet(terms_path)
        man = IndexManifest.read(index_dir)
        blocks = build_blocks(posts, terms, man.n_docs, man.avgdl, cfg)
        write_term_buckets(blocks, blocks_path, "block_id")
        return blocks_path, None

    stage("tokenized", st_tokenized)
    stage("docs", st_docs)
    stage("postings", st_postings)
    stage("terms", st_terms)
    stage("stats", st_stats)
    stage("blocks", st_blocks)
    return man


def load_materialized(
    spark: SparkSession, index_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> InvertedIndex:
    man = IndexManifest.read(index_dir)
    cfg = man.reconcile_cfg(cfg, index_dir)
    post_path = os.path.join(index_dir, "postings")
    blocks_path = os.path.join(index_dir, "blocks")
    postings_b = spark.read.parquet(post_path)
    blocks_b = spark.read.parquet(blocks_path)
    # Query paths push ``bucket IN (driver-hashed term buckets)`` so the scan
    # partition-prunes; the bucket-free ``postings``/``blocks`` keep every
    # other consumer (merges, unions) on the unchanged schema. Indexes
    # materialized before term_buckets was persisted load with pruning
    # disabled.
    n_buckets = man.term_buckets
    return InvertedIndex(
        postings=postings_b.drop("bucket"),
        terms=spark.read.parquet(os.path.join(index_dir, "terms")),
        docs=spark.read.parquet(os.path.join(index_dir, "docs")),
        n_docs=man.n_docs,
        avgdl=man.avgdl,
        cfg=cfg,
        blocks=blocks_b.drop("bucket"),
        term_buckets=n_buckets,
        postings_bucketed=postings_b if n_buckets else None,
        blocks_bucketed=blocks_b if n_buckets else None,
    )
