"""Index build plan: transcripts → inverted index (logical + materialized).

Milestone-1 path (`build_index`) keeps everything as DataFrames; the materialized
path (`materialize_index`, plans/checkpoint.py drives it stage-by-stage) writes:

    <index_dir>/postings/   (term, doc_id, doc_ord, tf, dl)  bucket=N/ dirs
    <index_dir>/terms/      (term, df)
    <index_dir>/docs/       (doc_id, doc_ord, dl)
    <index_dir>/blocks/     compressed blocks (operators/compress.py)  bucket=N/ dirs
    <index_dir>/stats.json  index scalars, every field of :class:`IndexManifest`
    <index_dir>/_manifest/  per-stage, per-partition lineage + metrics

Postings and blocks are written ``partitionBy("bucket")`` with
``bucket = pmod(xxhash64(term), B)``; a query hashes its terms on the driver
and pushes ``bucket IN (...)``, so the scan partition-prunes to B' << B
directories (:meth:`InvertedIndex.pruned_postings`). On a real cluster the same
idea is Iceberg tables bucketed by term — see :func:`write_index_iceberg`
(``writeTo(...).partitionedBy(bucket(B, 'term'))``; needs the Iceberg jar).
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.sql_literal import sql_in
from bge_m3_onnx_spark.operators import postings as P


def block_meta_rows(rows) -> tuple[dict[str, list[tuple[int, float]]], dict[str, int]]:
    """Collected :meth:`InvertedIndex.pruned_block_meta` rows → ({term:
    [(block_id, block_max_score), ...] in row order}, {term: stored
    block_range})."""
    pairs: dict[str, list[tuple[int, float]]] = {}
    ranges: dict[str, int] = {}
    for t, bid, rng, bmax in rows:
        pairs.setdefault(t, []).append((int(bid), float(bmax)))
        ranges[t] = int(rng)
    return pairs, ranges


class _BlockMetaMemo:
    """``entries``: {term: (stored block_range, ((block_id, block_max_score),
    ...))}; ``rows``: their block rows, a term without blocks counting as one.
    Writers hold ``lock``; readers take one entry with ``entries.get``. The
    count travels with the entries, so an index re-based by
    ``dataclasses.replace`` shares both."""

    def __init__(self) -> None:
        self.entries: dict = {}
        self.rows = 0
        self.lock = threading.Lock()

    def clear(self) -> None:
        with self.lock:
            self.entries.clear()
            self.rows = 0

    def insert(self, new: dict, max_rows: int) -> None:
        """Memoize ``new`` unless its rows alone pass ``max_rows``; clear
        first when the memo would pass it."""
        rows = sum(max(len(ps), 1) for _, ps in new.values())
        if rows > max_rows:
            return
        with self.lock:
            if self.rows + rows > max_rows:
                self.entries.clear()
                self.rows = 0
            for t, e in new.items():
                if t not in self.entries:  # a concurrent call may hold it already
                    self.entries[t] = e
                    self.rows += max(len(e[1]), 1)


@dataclass
class InvertedIndex:
    """Logical index: handles to the relations + broadcast-able scalars."""

    postings: DataFrame  # (term, doc_id, tf, dl)
    terms: DataFrame  # (term, df)
    docs: DataFrame  # (doc_id, dl)
    n_docs: int
    avgdl: float
    cfg: EngineConfig
    # compressed blocks (set by the compress step); every block_max_score is
    # the exact score of a real posting under (n_docs, avgdl), merged or not
    blocks: DataFrame | None = None
    # Driver-side memos of per-term facts that are fixed for the life of this
    # index generation (indexes are immutable: merge_delta, compact_index and
    # load_materialized build a NEW InvertedIndex, whose memos start empty).
    # _df_memo: {term: df}, unbounded (one int per term).
    # _block_meta: the block-metadata memo of block_meta_for_terms, bounded
    # by the caller's max_rows block rows. Filled to WAND's 200k-row cap it
    # holds ~23 MiB of Python objects on the driver when terms have ~200
    # blocks each (~120 B per (block_id, block_max_score) row), and up to
    # ~60 MiB when every term has a single block (key and entry per row);
    # measured with tracemalloc on CPython 3.11. That cost applies to EVERY
    # index generation the caller keeps alive.
    _df_memo: dict = field(default_factory=dict, repr=False)
    _block_meta: _BlockMetaMemo = field(default_factory=_BlockMetaMemo, repr=False)
    # intermediate cached relations owned by this index generation (e.g. the
    # tokenized-delta relation a merge persisted); released with the index.
    _aux_cached: list = field(default_factory=list, repr=False)
    # Materialized-layout partition-pruning hooks (set by load_materialized,
    # whose on-disk layout is bucket=pmod(xxhash64(term), B) partition
    # directories): the SAME relations WITH the bucket partition
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
        return self._pruned(self.postings, self.postings_bucketed, terms)

    def pruned_blocks(self, terms: list[str]) -> DataFrame:
        """Compressed blocks restricted to ``terms`` — same bucket-pruning
        contract as :meth:`pruned_postings`."""
        assert self.blocks is not None
        return self._pruned(self.blocks, self.blocks_bucketed, terms)

    def pruned_block_meta(self, terms: list[str]) -> DataFrame:
        """The block metadata θ and WAND's phase 2 read: (term, block_id,
        block_range, block_max_score) of :meth:`pruned_blocks`, no payload."""
        return self.pruned_blocks(terms).select("term", "block_id", "block_range", "block_max_score")

    def _pruned(self, rel: DataFrame, bucketed: DataFrame | None, terms: list[str]) -> DataFrame:
        if not terms:
            return rel.filter(F.lit(False))
        pred = sql_in("term", terms)
        if self.term_buckets and bucketed is not None:
            from bge_m3_onnx_spark.functions.hashing import term_bucket

            bs = sorted({term_bucket(t, self.term_buckets) for t in terms})
            return bucketed.filter(f"{sql_in('bucket', bs)} AND {pred}").drop("bucket")
        return rel.filter(pred)

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

    def block_meta_for_terms(
        self, term_list: list[str], max_rows: int, partitions: int
    ) -> tuple[dict[str, tuple[int, tuple[tuple[int, float], ...]]], int]:
        """Driver-side block metadata with a per-index memo, like
        :meth:`df_for_terms`. Returns ``({term: (stored block_range,
        ((block_id, block_max_score), ...) sorted by block_id)}, n_scanned)``
        for the terms of ``term_list`` that have blocks; ``n_scanned`` is the
        number of terms this call had to collect (0 when all were memoized).
        The terms not yet memoized are collected in ONE pruned metadata scan
        (:meth:`pruned_block_meta` coalesced to ``partitions``; no window, no
        postings read).

        The memo holds at most ``max_rows`` block rows (a term without blocks
        counts as one). A scan larger than the bound is returned unmemoized
        and leaves the memo as it is; an insert that would pass the bound
        clears the memo first. Each entry is an immutable tuple read once with
        ``.get``, so a concurrent clear can only turn a hit into a miss."""
        memo = self._block_meta
        out, missing = {}, []
        for t in dict.fromkeys(term_list):
            hit = memo.entries.get(t)
            if hit is None:
                missing.append(t)
            elif hit[1]:
                out[t] = hit
        if missing:
            pairs, ranges = block_meta_rows(
                self.pruned_block_meta(missing).coalesce(partitions).collect()
            )
            new = {t: (ranges.get(t, 0), tuple(sorted(pairs.get(t, ())))) for t in missing}
            memo.insert(new, max_rows)
            out.update((t, e) for t, e in new.items() if e[1])
        return out, len(missing)


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


@dataclass(frozen=True)
class IndexManifest:
    """The index scalars, and the one format of ``<index_dir>/stats.json``.

    ``write`` and ``read`` are the only code that touches the file; the
    Iceberg writer renders its ``engine.*`` table properties from the same
    fields. A read fails loudly on a missing required field or a field this
    class does not know, so a file from a newer or older layout is never
    half-understood. One retired field is still read: files written while
    merges kept a clock carry ``"merges_since_compaction": 0``, which is
    dropped (any other value is an error)."""

    n_docs: int
    avgdl: float
    k1: float
    b: float
    block_size: int
    # modulus B of the ``bucket = pmod(xxhash64(term), B)`` partition layout
    # of postings/blocks (materialize_index). Persisted because an empty
    # bucket writes no directory, so B cannot be inferred from the bucket=*
    # dirs. None: the relations are not laid out that way.
    term_buckets: int | None = None

    @classmethod
    def of(cls, idx: InvertedIndex) -> IndexManifest:
        return cls(
            n_docs=idx.n_docs,
            avgdl=idx.avgdl,
            k1=idx.cfg.k1,
            b=idx.cfg.b,
            block_size=idx.cfg.block_size,
            term_buckets=idx.term_buckets,
        )

    def write(self, index_dir: str) -> None:
        os.makedirs(index_dir, exist_ok=True)
        with open(os.path.join(index_dir, "stats.json"), "w") as f:
            json.dump(dataclasses.asdict(self), f, indent=2)

    @classmethod
    def read(cls, index_dir: str) -> IndexManifest:
        path = os.path.join(index_dir, "stats.json")
        with open(path) as f:
            stored = json.load(f)
        # 0: blocks cut under the stored stats, as every index has them now
        clock = stored.pop("merges_since_compaction", 0)
        if clock != 0:
            raise ValueError(
                f"{path}: merges_since_compaction={clock!r}: the block maxima are "
                "inflated bounds, which no reader accepts; rebuild the index"
            )
        fields = dataclasses.fields(cls)
        unknown = sorted(set(stored) - {f.name for f in fields})
        if unknown:
            raise ValueError(f"{path}: unknown index manifest field(s) {unknown}")
        missing = [
            f.name for f in fields
            if f.default is dataclasses.MISSING and f.name not in stored
        ]
        if missing:
            raise ValueError(f"{path}: missing index manifest field(s) {missing}")
        return cls(**stored)

    def reconcile_cfg(self, cfg: EngineConfig, index_dir: str) -> EngineConfig:
        """An index must be queried with the k1/b/block_size it was BUILT
        with. Score math (k1/b) and the WAND block coverage (block_size)
        silently break on mismatch, so the loaded config always adopts the
        stored values; drift from the caller's cfg is loud."""
        stored = {"k1": self.k1, "b": self.b, "block_size": self.block_size}
        mismatches = {
            k: (getattr(cfg, k), v) for k, v in stored.items() if getattr(cfg, k) != v
        }
        if mismatches:
            warnings.warn(
                f"EngineConfig passed to load for {index_dir!r} disagrees with stats.json "
                f"on {mismatches} (passed, stored); using the STORED values — an index is "
                "only valid under the parameters it was built with.",
                stacklevel=3,
            )
        return dataclasses.replace(cfg, **stored)


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
    props = dataclasses.asdict(IndexManifest.of(idx))
    # term_buckets stays unset: Iceberg's bucket(B, term) transform is not
    # the pmod(xxhash64(term), B) layout that field describes
    del props["term_buckets"]
    idx.postings.sparkSession.sql(
        f"ALTER TABLE {table_prefix}_postings SET TBLPROPERTIES ("
        + ", ".join(f"'engine.{k}'='{v}'" for k, v in props.items())
        + ")"
    )
