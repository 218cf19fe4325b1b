"""Incremental indexing over snapshot ranges (and a Structured Streaming wrapper).

The reference is strictly one-shot batch (SURVEY.md §2.9); the north rule's
"resumable from Iceberg-snapshot checkpoints" maps to batch-over-snapshot-ranges:
each increment reads only the new snapshots, tokenizes only the new turns, and
merges delta postings into the index. The merge is associative, so the same
function also serves as a ``foreachBatch`` sink for ``readStream`` if a true
streaming feed is wired up.

Merge semantics (exactly equivalent to a full rebuild, tests assert it):

    postings' = (postings ∪ delta_postings) groupBy(term, doc_id) max(tf)
                -- tf is functionally dependent on (term, doc_id): docIDs are
                   unique per turn, so new docs only ADD rows and a REPLAYED delta
                   collides on identical rows → max() makes replays true no-ops
                   (idempotent; exactly-once does not rest on offsets alone)
    docs'     = (docs ∪ delta_docs) dropDuplicates(doc_id)
                                        (ordinals reassigned: new docs get ordinals
                                         after the current max — append-only)
    terms'    = postings' groupBy(term) count
    stats'    = recomputed from docs'   (N, avgdl shift → idf/norms shift, so BM25
                                         scores are always w.r.t. the full corpus)

Block delta-maintenance (no full rebuild): the delta's term set gets exact
new blocks (df changed → block_range changed → those terms' blocks are re-cut);
every UNTOUCHED term keeps its existing block rows and payload. Kept blocks stay
correct because (a) the block_id ↔ ordinal mapping is self-described —
``block_range`` is stored per block row and readers (plans/wand.py) use the
stored value — and (b) their ``block_max_score`` is recomputed under the merged
(N, avgdl): the max, over the block's postings keyed by
``floor(doc_ord / stored block_range)``, of the query path's own SQL score
expression (operators/bm25.py). So on every index, merged or fresh, each stored
block max is the exact score of a real posting, and WAND treats a merged index
exactly like a fresh one.

At 10^12 scale an hourly increment touches a tiny fraction of the vocabulary; the
delta-term rebuild reads only those terms' postings via the bucketed layout's term
pruning, and the kept blocks cost one JVM aggregation over the untouched terms'
postings — no decode, no Python task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.operators import postings as P
from bge_m3_onnx_spark.operators.bm25 import bm25_term_score, idf_col
from bge_m3_onnx_spark.operators.compress import build_blocks
from bge_m3_onnx_spark.operators.ordinals import assign_dense_ordinals
from bge_m3_onnx_spark.plans.build_index import InvertedIndex
from bge_m3_onnx_spark.plans.wand import _KEYS, _block_of


def merge_delta(
    spark: SparkSession,
    idx: InvertedIndex,
    delta_transcripts: DataFrame,
    cfg: EngineConfig | None = None,
) -> InvertedIndex:
    """Merge a batch of new transcripts into an existing logical index.

    Cache ownership contract: the returned index persists its own postings /
    docs / blocks (and the tokenized delta, tracked in ``_aux_cached``) and
    SUPERSEDES ``idx``. The caller owns the hand-off: materialize the returned
    relations (count()/write), then call ``idx.release()`` on the old
    generation — otherwise a K-deep merge chain accumulates K generations of
    cached relations in executor storage (the r4 soak's RSS/disk growth). Do
    not release before materializing: the new lineage unions the old cached
    relations, and dropping them first recomputes the whole chain from source.
    """
    cfg = cfg or idx.cfg
    has_ord = "doc_ord" in idx.postings.columns

    tok = P.counted_docs(delta_transcripts, cfg)
    if has_ord:
        base = int(idx.docs.agg(F.max("doc_ord")).collect()[0][0] or -1) + 1
        # stats/key twins (r6): counted_docs is an opaque mapInArrow relation
        # now, so without these the boundary sample and the bucket-count job
        # would each run the fat term-counting kernel over the whole delta —
        # the count-only kernel (bucket counts) and the raw key projection
        # (sample) keep the fat kernel to its single ranking pass.
        from bge_m3_onnx_spark.sources.transcripts import doc_id_col

        tok = assign_dense_ordinals(
            tok, "doc_id", "doc_ord",
            stats_df=P.doc_len_docs(delta_transcripts, cfg),
            key_df=delta_transcripts.select(doc_id_col().alias("doc_id")),
        ).withColumn("doc_ord", F.col("doc_ord") + F.lit(base))
    tok = tok.persist()

    delta_postings = P.postings_from_counted(tok)
    # max(), not sum(): tf is functionally dependent on (term, doc_id), so a
    # replayed delta is a no-op instead of doubling tf (see module docstring).
    postings = (
        idx.postings.unionByName(delta_postings)
        .groupBy("term", "doc_id")
        .agg(
            F.max("tf").cast("int").alias("tf"),
            F.max("dl").alias("dl"),
            *([F.max("doc_ord").alias("doc_ord")] if has_ord else []),
        )
    ).persist()
    # groupBy+max (not dropDuplicates): on a replay the same doc_id may carry a
    # fresh ordinal — max() picks it consistently with the postings agg above.
    docs = (
        idx.docs.unionByName(P.doc_stats(tok))
        .groupBy("doc_id")
        .agg(
            F.max("dl").alias("dl"),
            *([F.max("doc_ord").alias("doc_ord")] if has_ord else []),
        )
        .persist()
    )
    terms = P.term_stats(postings, cfg)
    row = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    blocks = None
    if idx.blocks is not None and has_ord:
        blocks = _merge_blocks(idx, delta_postings, postings, terms, n_docs, avgdl, cfg)
        # Persist: blocks are metadata-sized (~block_size-th of the postings),
        # and every query touches them. Without this a K-deep merge chain keeps
        # the full union/anti-join lineage live — once the caller unpersists an
        # ancestor's postings, any probe recomputes K merges from source (at
        # 10M turns that blew the 300 s broadcast timeout inside a WAND probe;
        # caught by the r4 soak's compaction check).
        blocks = blocks.persist()

    return InvertedIndex(
        postings=postings,
        terms=terms,
        docs=docs,
        n_docs=n_docs,
        avgdl=avgdl,
        cfg=cfg,
        blocks=blocks,
        # the tokenized delta stays cached until this generation is released
        _aux_cached=[tok],
    )


def _merge_blocks(
    idx: InvertedIndex,
    delta_postings: DataFrame,
    postings: DataFrame,
    terms: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
) -> DataFrame:
    """Delta-term re-cut + kept blocks with exact maxima for untouched terms
    (module doc)."""
    delta_terms = delta_postings.select("term").distinct()
    # exact re-cut for terms whose df (→ block_range) changed; at scale the term
    # In-semi-join prunes the bucketed postings scan to the delta vocabulary.
    rebuilt = build_blocks(
        postings.join(F.broadcast(delta_terms), "term", "left_semi"),
        terms,
        n_docs,
        avgdl,
        cfg,
    )
    # untouched terms: keep block rows and payload, and set block_max_score to
    # the max of the query path's score expression over each block's postings
    # under the merged (N, avgdl). An untouched term's df and postings are the
    # ones its blocks were cut from, so keying them by the STORED range
    # reproduces every kept block exactly.
    kept = idx.blocks.join(F.broadcast(delta_terms), "term", "left_anti")
    # the kept terms' stored ranges as a lineage-free (vocabulary-sized)
    # relation: a second plain reference to ``kept`` would copy the previous
    # generation's whole logical plan, doubling a K-merge chain's plan (and
    # its planning time) with every merge
    ranges = kept.select("term", "block_range").distinct().localCheckpoint(eager=False)
    score = bm25_term_score("tf", "dl", idf_col("CAST(df AS DOUBLE)", n_docs), avgdl, cfg)
    maxima = (
        postings.join(ranges.join(terms, "term"), "term")
        .selectExpr("term", _block_of("doc_ord", "block_range"), f"{score} AS s")
        .groupBy(*_KEYS)
        .agg(F.max("s").alias("block_max_score"))
    )
    kept = kept.drop("block_max_score").join(maxima, _KEYS)
    return rebuilt.unionByName(kept.select(*rebuilt.columns))


def index_snapshot_range(
    spark: SparkSession,
    table,  # SnapshotTable
    idx: InvertedIndex | None,
    from_exclusive: int | None,
    to_inclusive: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> InvertedIndex:
    """Advance the index across a snapshot range — the checkpointed unit of work."""
    delta = table.read_incremental(from_exclusive, to_inclusive)
    if idx is None:
        from bge_m3_onnx_spark.plans.build_index import build_index

        # with_blocks: this is the serving build path — the north rule's query
        # side is block-max WAND.
        return build_index(delta, cfg, with_ordinals=True, with_blocks=True)
    return merge_delta(spark, idx, delta, cfg)


def stream_build(
    spark: SparkSession,
    input_dir: str,
    schema,
    on_batch,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Structured Streaming wrapper: file-source stream of transcript Parquet →
    foreachBatch(on_batch). The engine's merge is batch-associative, so the sink
    simply calls merge_delta per micro-batch; exactly-once comes from the
    checkpointed source offsets + idempotent (term, doc_id) merge."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(lambda df, bid: on_batch(df, bid))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(idx: InvertedIndex, cfg: EngineConfig | None = None) -> InvertedIndex:
    """Layout tidy-up (the Lucene forceMerge analog): re-cut EVERY term's
    blocks under the CURRENT (n_docs, df), so kept terms' block ranges match
    what a fresh build would cut. Neither correctness nor pruning needs it —
    a merge already leaves exact block maxima — so run it off the query path,
    whenever the layout should look fresh again.

    One build_blocks pass over the postings relation — the same term-partitioned
    shuffle as a fresh build; at 10^12 scale schedule per term-bucket so the
    bucketed layout compacts incrementally.
    """
    cfg = cfg or idx.cfg
    # persisted like merge_delta's blocks: every query reads them, and an
    # uncached relation re-runs the blocks build (its Python encode kernel
    # included) inside each query
    blocks = build_blocks(idx.postings, idx.terms, idx.n_docs, idx.avgdl, cfg).persist()
    return InvertedIndex(
        postings=idx.postings,
        terms=idx.terms,
        docs=idx.docs,
        n_docs=idx.n_docs,
        avgdl=idx.avgdl,
        cfg=cfg,
        blocks=blocks,
    )
