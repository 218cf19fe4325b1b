"""Index build plan: transcripts → inverted index (logical + materialized).

Milestone-1 path (`build_index`) keeps everything as DataFrames; the materialized
path (`materialize_index`, plans/checkpoint.py drives it stage-by-stage) writes:

    <index_dir>/postings/   (term, doc_id, tf, dl)      partitioned: bucket-by-term
    <index_dir>/terms/      (term, df)
    <index_dir>/docs/       (doc_id, dl)
    <index_dir>/blocks/     compressed blocks (operators/compress.py)
    <index_dir>/stats.json  {n_docs, avgdl, k1, b, ...}
    <index_dir>/_manifest/  per-stage, per-partition lineage + metrics

On a real cluster the index is Iceberg tables bucketed by term — see
:func:`write_index_iceberg` (``writeTo(...).partitionedBy(bucket(B, 'term'))``;
jar-gated in this sandbox) — so query-time term predicates prune to B' << B
buckets. Plain Parquet here gets the same effect with ``repartition(B, 'term')``
+ min/max column stats + pushed term filters.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_in
from bge_m3_onnx_spark.operators import postings as P


@dataclass
class InvertedIndex:
    """Logical index: handles to the relations + broadcast-able scalars."""

    postings: DataFrame  # (term, doc_id, tf, dl)
    terms: DataFrame  # (term, df)
    docs: DataFrame  # (doc_id, dl)
    n_docs: int
    avgdl: float
    cfg: EngineConfig
    blocks: DataFrame | None = None  # compressed (set by materialize/compress step)
    # ε-drift merges since the blocks were last cut under exact corpus stats —
    # drives the after-K-merges auto-compaction policy (streaming/incremental.py:
    # each kept-block merge multiplies untouched terms' pruning bounds by ≥1, so
    # pruning weakens monotonically until a compaction resets it)
    merges_since_compaction: int = 0
    _df_memo: dict = field(default_factory=dict, repr=False)
    # intermediate cached relations owned by this index generation (e.g. the
    # tokenized-delta relation a merge persisted); released with the index.
    _aux_cached: list = field(default_factory=list, repr=False)
    # Materialized-layout partition-pruning hooks (set by load_materialized /
    # load_index when the on-disk layout is bucket=pmod(xxhash64(term), B)
    # partition directories): the SAME relations WITH the bucket partition
    # column, plus the modulus B. Query paths compute each query term's bucket
    # on the driver (functions/hashing.py — the pure-Python XXH64 twin) and
    # push ``bucket IN (...)`` into the scan, so Catalyst partition-prunes
    # B−B' directories instead of reading every bucket's files. ``postings``
    # and ``blocks`` above stay bucket-free — merge/union consumers
    # (streaming/incremental.py) never see the extra column.
    term_buckets: int | None = None
    postings_bucketed: DataFrame | None = field(default=None, repr=False)
    blocks_bucketed: DataFrame | None = field(default=None, repr=False)

    def pruned_postings(self, terms: list[str]) -> DataFrame:
        """Postings restricted to ``terms``: pushed ``term IN`` always; plus
        pushed ``bucket IN`` partition pruning when the index is materialized
        in the bucketed layout. Identical rows either way (bucket is a pure
        function of term, pinned against Spark by tests/test_hashing.py). The
        predicate is one SQL expression (functions/sql_literal.py), not one
        py4j call per term."""
        if not terms:
            return self.postings.filter(F.lit(False))
        pred = sql_in("term", terms)
        if self.term_buckets and self.postings_bucketed is not None:
            from bge_m3_onnx_spark.functions.hashing import term_bucket

            bs = sorted({term_bucket(t, self.term_buckets) for t in terms})
            return self.postings_bucketed.filter(
                f"{sql_in('bucket', bs)} AND {pred}"
            ).drop("bucket")
        return self.postings.filter(pred)

    def pruned_blocks(self, terms: list[str]) -> DataFrame:
        """Compressed blocks restricted to ``terms`` — same bucket-pruning
        contract as :meth:`pruned_postings`."""
        assert self.blocks is not None
        if not terms:
            return self.blocks.filter(F.lit(False))
        pred = sql_in("term", terms)
        if self.term_buckets and self.blocks_bucketed is not None:
            from bge_m3_onnx_spark.functions.hashing import term_bucket

            bs = sorted({term_bucket(t, self.term_buckets) for t in terms})
            return self.blocks_bucketed.filter(
                f"{sql_in('bucket', bs)} AND {pred}"
            ).drop("bucket")
        return self.blocks.filter(pred)

    def release(self) -> None:
        """Unpersist every cached relation this index generation owns.

        Merge chains (streaming/incremental.merge_delta) persist each
        generation's postings/docs/blocks; nothing else ever unpersists them,
        so a K-deep chain otherwise accumulates K generations of executor
        storage. Call this on the SUPERSEDED index after materializing the
        relations of its successor (count()/write — not before: the successor's
        lineage unions this generation's cached relations, and releasing first
        forces a full chain recompute from source on the successor's first
        action). ``unpersist`` on a never-persisted relation is a no-op, so
        this is safe on any index."""
        for rel in (self.postings, self.terms, self.docs, self.blocks, *self._aux_cached):
            if rel is not None:
                rel.unpersist()

    def df_for_terms(self, term_list: list[str]) -> dict[str, int]:
        """Driver-side df lookup with a per-index memo: the first query for a
        term pays one pruned (In-filtered, cached) scan of the tiny terms
        relation; repeated terms are free. Query plans then embed idf as
        LITERALS — no per-query join subjob against terms at all. Absent terms
        memoize as 0 and are dropped by callers (inner-join semantics).

        The memo is per-InvertedIndex and indexes are immutable (merges build a
        NEW index), so staleness is impossible."""
        missing = [t for t in term_list if t not in self._df_memo]
        if missing:
            for r in self.terms.filter(sql_in("term", missing)).collect():
                self._df_memo[r["term"]] = int(r["df"])
            for t in missing:
                self._df_memo.setdefault(t, 0)
        return {t: self._df_memo[t] for t in term_list if self._df_memo[t] > 0}


def build_index(
    transcripts: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    cache: bool = True,
    with_ordinals: bool = False,
    with_blocks: bool = False,
) -> InvertedIndex:
    from bge_m3_onnx_spark.operators.compress import build_blocks
    from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals_with_aggs

    counted = P.counted_docs(transcripts, cfg)
    # NOTE: the counted relation is deliberately NOT cached — memory-store writes
    # of the fat (doc_id, term_tfs[], …) rows contend across threads and cost far
    # more than the ~1 recompute of the vectorized tokenizer (measured: persist
    # 56 s vs recompute 4 s at 1M turns × 32 threads); at 10^12 rows it wouldn't
    # fit anyway. The materialized build (plans/checkpoint.py) writes Parquet.
    #
    # Statistics jobs (ordinal bucket counts, Σdl / avgdl) run on the LIGHT
    # count-only twin of counted (identical doc_id/dl — tests pin the kernels
    # against each other): pass 1 ships 4 bytes per doc through Arrow instead
    # of the full term_tfs struct array (guide §4.1). The fat kernel then runs
    # exactly once, inside the postings materialization.
    light = P.doc_len_docs(transcripts, cfg)
    if with_ordinals or with_blocks:
        # docs comes from the LIGHT twin ranked under the SAME boundaries
        # (attach_to): identical (doc_id, dl, doc_ord) rows, but materializing
        # it pays the 4-byte count kernel + a narrow-row ranking sort instead
        # of the fat term_tfs kernel + a struct-array sort (guide §4.1). The
        # docs relation is usually materialized lazily at QUERY time (the
        # WAND ordinal→docID join), where the fat path cost ~24 s at 1M docs.
        from bge_m3_onnx_spark.sources.transcripts import doc_id_col

        counted, n, aggs, docs_light = assign_dense_ordinals_with_aggs(
            counted, key="doc_id", out="doc_ord",
            extra_aggs=[F.sum("dl").alias("sum_dl")],
            stats_df=light,
            attach_to=light,
            # keys without any kernel: the boundary sample scans the raw
            # transcripts projection, not the opaque mapInArrow twin
            key_df=transcripts.select(doc_id_col().alias("doc_id")),
        )
        sum_dl = sum(r["sum_dl"] or 0 for r in aggs)
        stats = P.CorpusStats(n_docs=n, avgdl=(sum_dl / n) if n else 0.0)
    else:
        docs_light = light
        stats = P.corpus_stats(light)
    # postings derive by pure explode (term counting already happened inside the
    # Arrow kernel — SPIMI in-mapper combining), so the build has NO aggregation
    # shuffle on the fat exploded relation.
    posting = P.postings_from_counted(counted)
    if cache:
        posting = posting.persist()
    # terms and docs are SMALL relations (vocab-sized / one row per doc with 3
    # narrow columns) recomputed through the aggregation (terms) or the tokenizer
    # UDF (docs) on every use — caching them makes the per-query df lookup and the
    # final ordinal→docID join read from memory instead of re-deriving the corpus.
    terms = P.term_stats(posting, cfg)
    docs = docs_light
    if cache:
        terms = terms.persist()
        docs = docs.persist()
    blocks = None
    if with_blocks:
        blocks = build_blocks(posting, terms, stats.n_docs, stats.avgdl, cfg)
        if cache:
            blocks = blocks.persist()
    return InvertedIndex(
        postings=posting,
        terms=terms,
        docs=docs,
        n_docs=stats.n_docs,
        avgdl=stats.avgdl,
        cfg=cfg,
        blocks=blocks,
    )


def _stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def write_stats(index_dir: str, idx: InvertedIndex) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(_stats_path(index_dir), "w") as f:
        json.dump(
            {
                "n_docs": idx.n_docs,
                "avgdl": idx.avgdl,
                "k1": idx.cfg.k1,
                "b": idx.cfg.b,
                "block_size": idx.cfg.block_size,
                # block maxima are ε-inflated bounds while > 0: the WAND
                # metadata-only θ must not trust them (plans/wand.py)
                "merges_since_compaction": idx.merges_since_compaction,
            },
            f,
            indent=2,
        )


def reconcile_cfg(cfg: EngineConfig, stats: dict, index_dir: str) -> EngineConfig:
    """An index must be queried with the k1/b/block_size it was BUILT with —
    stats.json persists them for exactly this purpose. Score math (k1/b) and the
    WAND block coverage (block_size) silently break on mismatch, so the loaded
    config always adopts the stored values; drift from the caller's cfg is loud."""
    import dataclasses

    stored = {k: stats[k] for k in ("k1", "b", "block_size") if k in stats}
    mismatches = {
        k: (getattr(cfg, k), v) for k, v in stored.items() if getattr(cfg, k) != v
    }
    if mismatches:
        import warnings

        warnings.warn(
            f"EngineConfig passed to load for {index_dir!r} disagrees with stats.json "
            f"on {mismatches} (passed, stored); using the STORED values — an index is "
            "only valid under the parameters it was built with.",
            stacklevel=3,
        )
    return dataclasses.replace(cfg, **stored)


def load_index(
    spark: SparkSession, index_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> InvertedIndex:
    with open(_stats_path(index_dir)) as f:
        stats = json.load(f)
    cfg = reconcile_cfg(cfg, stats, index_dir)
    blocks_dir = os.path.join(index_dir, "blocks")
    blocks = spark.read.parquet(blocks_dir) if os.path.isdir(blocks_dir) else None
    return InvertedIndex(
        postings=spark.read.parquet(os.path.join(index_dir, "postings")),
        terms=spark.read.parquet(os.path.join(index_dir, "terms")),
        docs=spark.read.parquet(os.path.join(index_dir, "docs")),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        cfg=cfg,
        blocks=blocks,
        merges_since_compaction=int(stats.get("merges_since_compaction", 0)),
    )


def write_index_iceberg(
    idx: InvertedIndex, table_prefix: str, n_buckets: int = 256
) -> None:
    """Write the index as Iceberg tables, postings/blocks bucketed by term —
    the real-cluster layout the north rule names (`writeTo(...).partitionedBy(
    bucket(B, term))`). Requires an Iceberg catalog on the session
    (spark.sql.catalog.<name> configured with the iceberg-spark-runtime jar);
    this sandbox ships no Iceberg jar, so the local test only asserts the
    graceful failure mode and the DataFrameWriterV2 plan construction.

    ``table_prefix`` is a catalog-qualified prefix, e.g. ``local.db.idx``.
    """
    (
        idx.postings.writeTo(f"{table_prefix}_postings")
        .partitionedBy(F.bucket(n_buckets, F.col("term")))
        .using("iceberg")
        .createOrReplace()
    )
    idx.terms.writeTo(f"{table_prefix}_terms").using("iceberg").createOrReplace()
    (
        idx.docs.writeTo(f"{table_prefix}_docs")
        .partitionedBy(F.bucket(n_buckets, F.col("doc_id")))
        .using("iceberg")
        .createOrReplace()
    )
    if idx.blocks is not None:
        (
            idx.blocks.writeTo(f"{table_prefix}_blocks")
            .partitionedBy(F.bucket(n_buckets, F.col("term")))
            .using("iceberg")
            .createOrReplace()
        )
    spark = idx.postings.sparkSession
    spark.sql(
        f"ALTER TABLE {table_prefix}_postings SET TBLPROPERTIES ("
        f"'engine.n_docs'='{idx.n_docs}', 'engine.avgdl'='{idx.avgdl}', "
        f"'engine.k1'='{idx.cfg.k1}', 'engine.b'='{idx.cfg.b}', "
        f"'engine.block_size'='{idx.cfg.block_size}', "
        f"'engine.merges_since_compaction'='{idx.merges_since_compaction}')"
    )


def write_index_bucketed(
    idx: InvertedIndex, table_prefix: str, n_buckets: int = 256
) -> None:
    """SparkSessionExtensions-free analog of :func:`write_index_iceberg`: the
    same bucket-by-term layout through plain Parquet ``bucketBy`` managed
    tables, which the session catalog supports with no extra jar. Hash-bucketed
    on the join/agg keys (postings/blocks by term, docs by doc_id), so
    term-equality lookups bucket-prune (``SelectedBucketsCount`` in the scan)
    and term-keyed aggregations need no exchange. Engine scalars ride on the
    postings table's TBLPROPERTIES exactly as the Iceberg path stores them.

    Unlike Iceberg's ``bucket(B, term)`` transform this is Spark's own bucketed
    format (metastore-described, not snapshot-versioned) — the layout contract
    (co-located terms, pruned lookups) is identical, which is what SCALE.md's
    bucket-pruning claim needs executed evidence for in this jar-less sandbox.
    """
    spark = idx.postings.sparkSession
    (
        idx.postings.write.bucketBy(n_buckets, "term")
        .sortBy("term")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_postings")
    )
    idx.terms.write.format("parquet").mode("overwrite").saveAsTable(f"{table_prefix}_terms")
    (
        idx.docs.write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_docs")
    )
    if idx.blocks is not None:
        (
            idx.blocks.write.bucketBy(n_buckets, "term")
            .sortBy("term")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(f"{table_prefix}_blocks")
        )
    spark.sql(
        f"ALTER TABLE {table_prefix}_postings SET TBLPROPERTIES ("
        f"'engine.n_docs'='{idx.n_docs}', 'engine.avgdl'='{idx.avgdl}', "
        f"'engine.k1'='{idx.cfg.k1}', 'engine.b'='{idx.cfg.b}', "
        f"'engine.block_size'='{idx.cfg.block_size}', "
        f"'engine.merges_since_compaction'='{idx.merges_since_compaction}', "
        f"'engine.has_blocks'='{idx.blocks is not None}')"
    )


def load_index_bucketed(
    spark: SparkSession, table_prefix: str, cfg: EngineConfig | None = None
) -> InvertedIndex:
    """Rehydrate an :class:`InvertedIndex` from :func:`write_index_bucketed`
    tables. Scans inherit the bucket spec, so downstream term-keyed joins/aggs
    skip the shuffle and term-equality filters bucket-prune.

    Like the file-based :func:`load_index`, the scoring parameters come from the
    STORED TBLPROPERTIES, not the caller's cfg: an index must be queried with
    the k1/b/block_size it was BUILT with, or scores mis-rank and the stored
    block_max_score no longer upper-bounds query-time scores (WAND's lossless
    pruning breaks). ``reconcile_cfg`` warns loudly on any drift."""
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_prefix}_postings").collect()
    }
    stored = {}
    if "engine.k1" in props:
        stored["k1"] = float(props["engine.k1"])
    if "engine.b" in props:
        stored["b"] = float(props["engine.b"])
    if "engine.block_size" in props:
        stored["block_size"] = int(props["engine.block_size"])
    missing = {"engine.k1", "engine.b", "engine.block_size"} - set(props)
    if missing and props.get("engine.has_blocks") == "True":
        # tables written before these properties existed fall through to the
        # caller's cfg SILENTLY — exactly the mismatch class (stored
        # block_max_score no longer bounding query scores) reconcile_cfg
        # exists to make loud (ADVICE r5)
        import warnings

        warnings.warn(
            f"bucketed index {table_prefix!r} has compressed blocks but lacks "
            f"TBLPROPERTIES {sorted(missing)}; falling back to the caller's cfg — "
            "queries are only valid if it matches the build-time parameters",
            stacklevel=2,
        )
    cfg = reconcile_cfg(cfg or DEFAULT_CONFIG, stored, table_prefix)
    blocks = None
    if props.get("engine.has_blocks") == "True":
        blocks = spark.table(f"{table_prefix}_blocks")
    return InvertedIndex(
        postings=spark.table(f"{table_prefix}_postings"),
        terms=spark.table(f"{table_prefix}_terms"),
        docs=spark.table(f"{table_prefix}_docs"),
        n_docs=int(props["engine.n_docs"]),
        avgdl=float(props["engine.avgdl"]),
        cfg=cfg,
        blocks=blocks,
        merges_since_compaction=int(props.get("engine.merges_since_compaction", 0)),
    )
