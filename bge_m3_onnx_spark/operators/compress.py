"""Compressed posting blocks: delta-gap + varbyte, with block-max BM25 metadata.

Block layout (one row per (term, block)):

    term             string
    block_id         long     -- doc_ord // block_range
    block_range      long     -- ordinal span per block, frozen AT BUILD TIME
    n                int      -- postings in block
    first_ord        long     -- absolute ordinal of the first posting
    ords_vb          binary   -- VB(gaps of doc ordinals)
    tfs_vb           binary   -- VB(tf per posting)
    dls_vb           binary   -- VB(dl per posting)  [self-contained scoring]
    block_max_score  double   -- max exact BM25 term contribution in block

``block_range`` is stored per row (constant within a term) so the block_id ↔
ordinal mapping is SELF-DESCRIBED: an incremental merge (streaming/incremental.py)
can keep untouched terms' blocks even after (N, avgdl, df) drift — readers use the
stored range, never a recomputation from current corpus stats.

Skew design (the stopword-at-10^12 problem): block membership is a PURE FUNCTION of
(doc_ord, df, N) — ``block_id = doc_ord // max(1, N*block_size/df)`` — so assembling a
hot term's billions of postings shards into millions of independent (term, block_id)
groups of ~block_size rows each. No task ever materializes a whole term; no global
per-term rank is needed. This replaces the reference's single-document dict loop
(/root/reference/samples/python/bge_m3_embedder.py:133-143) with an embarrassingly
parallel groupBy + Arrow kernel.

Who reads what: WAND (plans/wand.py) reads only the metadata columns (term,
block_id, block_range, block_max_score). No query reads the varbyte payload: a
block's postings are read from the postings relation, keyed by the same
``floor(doc_ord / block_range)`` as ``build_blocks`` below, with no Python task on
the query path. ``decode_blocks`` stays as the codec's inverse that tests compare
against (tests/test_compress.py pins decoded payload == keyed postings on fresh,
merged and compacted indexes). The payload is still written and measured
(``bench.py``, enginebench's ``compress.payload_bytes_per_posting``).

Python-boundary design (r6, guide §4.2): both kernels are ``mapInArrow``, not
``mapInPandas``. The r5 pandas kernels spent ~3 s of a 4.4 s blocks stage (2M
turns, 32 cores) converting 8.6M Arrow string cells to Python objects and back —
the encode math itself cost < 0.1 s. The Arrow kernels never materialize a
Python string: term group boundaries come from dictionary-encoded indices, the
per-block term column is an Arrow ``take`` of the group-start indices, varbyte
cells are built by slicing ONE vectorized encode of the whole batch with
offset arithmetic (``pa.Array.from_buffers`` over a single data buffer), and
decode reads each binary column's values as the contiguous Arrow data buffer —
the per-block b"".join is gone.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bge_m3_onnx_spark.config import DEFAULT_CONFIG, EngineConfig
from bge_m3_onnx_spark.functions.varbyte import vb_decode, vb_encode_with_lengths

BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("block_id", LongType(), False),
        StructField("block_range", LongType(), False),
        StructField("n", IntegerType(), False),
        StructField("first_ord", LongType(), False),
        StructField("ords_vb", BinaryType(), True),
        StructField("tfs_vb", BinaryType(), True),
        StructField("dls_vb", BinaryType(), True),
        StructField("block_max_score", DoubleType(), False),
    ]
)

_BLOCK_PA_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("block_id", pa.int64()),
        ("block_range", pa.int64()),
        ("n", pa.int32()),
        ("first_ord", pa.int64()),
        ("ords_vb", pa.binary()),
        ("tfs_vb", pa.binary()),
        ("dls_vb", pa.binary()),
        ("block_max_score", pa.float64()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_ord", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
    ]
)

_DECODED_PA_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("doc_ord", pa.int64()),
        ("tf", pa.int32()),
        ("dl", pa.int32()),
    ]
)


def _bm25_np(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float, cfg: EngineConfig
) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * tf * (cfg.k1 + 1.0) / (tf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / avgdl))


def _segmented_binary(values: np.ndarray, seg_starts: np.ndarray, seg_ends: np.ndarray) -> pa.Array:
    """VB-encode ``values`` once, then expose segment [seg_starts[i], seg_ends[i])
    (VALUE indices) as row i of a binary array — one data buffer, offsets from
    pure arithmetic, zero per-segment encode calls."""
    buf, lengths = vb_encode_with_lengths(values)
    cum = np.concatenate(([0], np.cumsum(lengths)))  # byte offset of each value
    offsets = np.empty(len(seg_starts) + 1, dtype=np.int32)
    offsets[:-1] = cum[seg_starts]
    offsets[-1] = cum[seg_ends[-1]] if len(seg_ends) else 0
    return pa.Array.from_buffers(
        pa.binary(),
        len(seg_starts),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)],
    )


def build_blocks(
    postings_with_ord: DataFrame,
    terms: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """postings (term, doc_id, tf, dl, doc_ord) × terms (term, df) → block rows.

    The postings⋈terms equi-join on term IS the term-partitioned merge shuffle of
    the north rule; AQE skew-join splits any residual hot partitions, and the
    (term, block_id) grouping bounds every Arrow kernel invocation at ~block_size
    rows regardless of df.
    """
    avgdl_f = float(avgdl)
    k1, b = cfg.k1, cfg.b
    # block range replicates EngineConfig.block_range_for_term in integer SQL math
    block_range = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(int(n_docs) * cfg.block_size) / F.col("df")).cast("long"),
    )
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    p = (
        postings_with_ord.join(terms, "term")
        .withColumn("block_range", block_range)
        .withColumn("block_id", F.floor(F.col("doc_ord") / F.col("block_range")).cast("long"))
        .withColumn("idf", idf)
        .select("term", "block_id", "block_range", "doc_ord", "tf", "dl", "idf")
    )
    # idf stays a Spark-side java.lang.Math.log value: the stored block_max
    # must EXACTLY equal an achievable query-time score (WAND's pruning and the
    # MaxScore partition reason about bit-equality; a numpy-log twin could sit
    # one ulp below it). block_id, by contrast, is pure float64 floor-division
    # arithmetic the kernel reproduces bit-identically from block_range — so it
    # is dropped from the Arrow boundary below (guide §2.3/§4.1: don't ship a
    # column the kernel can recompute from one it already has).

    # One Arrow pass per partition instead of a grouped-apply per (term, block):
    # grouped applyInPandas costs ~ms per group (Arrow batch + frame per group),
    # which dominates when groups are ~block_size rows. We shuffle by term, sort
    # within partitions by (term, block_id, doc_ord), and cut group boundaries
    # ourselves inside mapInArrow, carrying a possibly-split trailing group across
    # Arrow batches.
    # hash-shuffle on (term, block_id): every group lands whole in one partition,
    # while a hot term's millions of blocks spread across ALL partitions (the skew
    # story survives); sort restores group contiguity for the boundary cut.
    sorted_p = (
        p.repartition("term", "block_id")
        .sortWithinPartitions("term", "block_id", "doc_ord")
        # the projection preserves the sort; block_id is re-derived in-kernel
        .select("term", "block_range", "doc_ord", "tf", "dl", "idf")
    )

    def _bids_np(ords: np.ndarray, brs: np.ndarray) -> np.ndarray:
        # bit-identical to the SQL floor(doc_ord / block_range) that keyed the
        # shuffle/sort: Spark's `/` on longs is IEEE float64 division
        return np.floor(ords.astype(np.float64) / brs.astype(np.float64)).astype(np.int64)

    def _encode_table(tbl: pa.Table) -> pa.RecordBatch:
        t = tbl.combine_chunks()
        term_arr = t.column("term").chunk(0)
        brs = t.column("block_range").to_numpy()
        ords = t.column("doc_ord").to_numpy()
        bids = _bids_np(ords, brs)
        tfs = t.column("tf").to_numpy().astype(np.int64)
        dls = t.column("dl").to_numpy().astype(np.int64)
        idfs = t.column("idf").to_numpy()
        codes = term_arr.dictionary_encode().indices.to_numpy()
        scores = _bm25_np(tfs, dls, idfs, avgdl_f, cfg)
        total = len(bids)
        change = np.flatnonzero((codes[1:] != codes[:-1]) | (bids[1:] != bids[:-1])) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [total]))
        # within-block ordinal gaps, concatenated across ALL blocks of the batch:
        # drop the diffs that straddle a block boundary, encode ONCE, slice per
        # block by byte offsets (first_ord is stored raw, so a block contributes
        # n-1 gap values)
        d = np.diff(ords)
        keep = np.ones(max(total - 1, 0), dtype=bool)
        keep[change - 1] = False
        gap_vals = d[keep].astype(np.uint64)
        ns = ends - starts
        gap_starts = np.concatenate(([0], np.cumsum(ns - 1)))  # VALUE index per block
        ords_vb = _segmented_binary(gap_vals, gap_starts[:-1], gap_starts[1:])
        tfs_vb = _segmented_binary(tfs.astype(np.uint64), starts, ends)
        dls_vb = _segmented_binary(dls.astype(np.uint64), starts, ends)
        idx = pa.array(starts)
        return pa.record_batch(
            [
                term_arr.take(idx),
                pa.array(bids[starts], type=pa.int64()),
                pa.array(brs[starts], type=pa.int64()),
                pa.array(ns.astype(np.int32)),
                pa.array(ords[starts], type=pa.int64()),
                ords_vb,
                tfs_vb,
                dls_vb,
                pa.array(np.maximum.reduceat(scores, starts)),
            ],
            schema=_BLOCK_PA_SCHEMA,
        )

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry: pa.Table | None = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            n_rows = tbl.num_rows
            if n_rows == 0:
                continue
            codes = tbl.column("term").combine_chunks().dictionary_encode().indices.to_numpy()
            bids = _bids_np(
                tbl.column("doc_ord").to_numpy(), tbl.column("block_range").to_numpy()
            )
            tail_eq = (codes == codes[-1]) & (bids == bids[-1])
            rev = tail_eq[::-1]
            tail_len = n_rows if rev.all() else int(rev.argmin())
            carry = tbl.slice(n_rows - tail_len)
            body = tbl.slice(0, n_rows - tail_len)
            if body.num_rows:
                yield _encode_table(body)
        if carry is not None and carry.num_rows:
            yield _encode_table(carry)

    return sorted_p.mapInArrow(encode_partition, BLOCK_SCHEMA)


def _binary_values_buffer(arr: pa.Array) -> bytes:
    """The concatenation of a non-null BinaryArray's values — read straight from
    the Arrow data buffer via the offsets array (no per-row Python objects)."""
    if arr.null_count:  # engine blocks never carry null buffers; stay correct anyway
        return b"".join(bytes(x) for x in arr.to_pylist())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=len(arr) + 1, offset=arr.offset * 4)
    data = arr.buffers()[2]
    return data[int(offsets[0]) : int(offsets[-1])].to_pybytes()


def _decode_batch(rb: pa.RecordBatch) -> pa.RecordBatch | None:
    """Decode ALL blocks of one Arrow batch in a handful of numpy passes.

    VB is self-delimiting, so the per-block byte buffers concatenate into one
    stream that decodes in a single vectorized call; the per-block gap→ordinal
    cumsum becomes ONE global cumsum with a per-segment base correction. No
    per-block numpy setup cost — and with Arrow, 'concatenate the buffers' is
    just reading the column's contiguous data buffer."""
    ns = rb.column(rb.schema.get_field_index("n")).to_numpy().astype(np.int64)
    total = int(ns.sum())
    if total == 0:
        return None
    firsts = rb.column(rb.schema.get_field_index("first_ord")).to_numpy().astype(np.int64)

    def col(name: str) -> pa.Array:
        a = rb.column(rb.schema.get_field_index(name))
        return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

    gaps = vb_decode(_binary_values_buffer(col("ords_vb"))).astype(np.int64)
    tfs = vb_decode(_binary_values_buffer(col("tfs_vb"))).astype(np.int32)
    dls = vb_decode(_binary_values_buffer(col("dls_vb"))).astype(np.int32)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    arr = np.zeros(total, dtype=np.int64)
    is_start = np.zeros(total, dtype=bool)
    is_start[starts] = True
    arr[~is_start] = gaps  # within-block gap values, in global order
    # global cumsum == per-block cumsum iff each segment start carries
    # first_i − last_value(i−1); last_value(i) = first_i + Σ gaps(i).
    seg_gap_sums = np.add.reduceat(arr, starts)  # arr[starts] is still 0 here
    last_vals = firsts + seg_gap_sums
    arr[starts] = firsts - np.concatenate(([0], last_vals[:-1]))
    ords = np.cumsum(arr)
    term_out = col("term").take(pa.array(np.repeat(np.arange(len(ns)), ns)))
    return pa.record_batch(
        [term_out, pa.array(ords), pa.array(tfs), pa.array(dls)],
        schema=_DECODED_PA_SCHEMA,
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """block rows → (term, doc_ord, tf, dl), cross-block-vectorized mapInArrow."""

    def decode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            out = _decode_batch(rb)
            if out is not None:
                yield out

    return blocks.mapInArrow(decode_batches, DECODED_SCHEMA)
