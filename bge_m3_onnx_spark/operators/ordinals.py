"""Dense global doc ordinals, scale-safe AND re-evaluation-safe.

Gap compression needs integer doc ids that are dense and totally ordered. The naive
``row_number() OVER (ORDER BY doc_id)`` funnels 10^12 rows through ONE task. The
classic two-phase fix (range-partition → per-partition counts → offsets) has a trap:
``repartitionByRange`` samples boundaries with a fresh seed per JOB, so the counts
job and the ranking job can see DIFFERENT partition boundaries → misaligned offsets
→ duplicate ordinals (this bit us: two docs decoded to one ordinal). Instead:

1. one seeded sample of keys → bucket boundaries chosen ON THE DRIVER (a tiny,
   explicit list — the single source of truth for every later job),
2. bucket = #boundaries ≤ key, a PURE FUNCTION of the key (stable across jobs,
   partitionings, and retries),
3. per-bucket counts → cumulative offsets (driver arithmetic),
4. ordinal = offset[bucket] + row_number() within bucket − 1.

Result == ``rank by key − 1`` exactly (keys unique), which is what lets the DuckDB
oracle reproduce it with a plain window function while the physical plan stays
fully parallel (the window sorts each bucket independently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


SAMPLE_FRACTION = 0.002  # boundary sample; only affects bucket BALANCE, never values
# Hard cap on keys collected to the driver for boundary selection, REGARDLESS of
# corpus size (0.002 · 10^12 would OOM the driver — VERDICT r1). Boundary quality
# needs only O(buckets · ~100) keys; the cap is enforced by a deterministic
# hash-ordered TakeOrdered, which is itself a uniform sub-sample of the sample.
MAX_BOUNDARY_SAMPLE = 100_000


def _bisect_expr(boundaries: list, key: str):
    """``bisect_right(boundaries, key)`` as a balanced when/otherwise tree —
    O(log B) whole-stage-codegen comparisons per row. The r1-r5 spelling,
    ``size(filter(array(...), b -> key >= b))``, evaluated the lambda
    interpreted per array element with per-row allocation: the identical
    counts job measured 15.1 s (HOF) vs 2.9 s (tree) at 2M docs / 32 buckets
    (guide §1.2 step 2 — the HOF cost is per-row machinery, not comparisons).
    Both forms count boundaries ≤ key over the sorted de-duplicated list, and
    any monotone bucket function yields identical ordinals."""

    def node(lo: int, hi: int):
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.col(key) >= F.lit(boundaries[mid]), node(mid + 1, hi)
        ).otherwise(node(lo, mid))

    return node(0, len(boundaries))


def assign_dense_ordinals_with_aggs(
    df: DataFrame,
    key: str = "doc_id",
    out: str = "doc_ord",
    num_partitions: int | None = None,
    extra_aggs: list | None = None,
    max_boundary_sample: int = MAX_BOUNDARY_SAMPLE,
    stats_df: DataFrame | None = None,
    attach_to: DataFrame | None = None,
    key_df: DataFrame | None = None,
):
    """Add ``out`` = dense 0-based ordinal of ``key`` (keys must be unique).

    Returns (df_with_ordinals, n_rows, agg_rows) where agg_rows are the
    per-bucket results of ``extra_aggs`` — callers piggyback corpus statistics
    (e.g. Σdl) onto the counts job instead of paying another full pass.
    Two driver jobs total: the boundary sample (key column only — Catalyst prunes
    the tokenizer UDF out of both) and the per-bucket counts. Driver memory is
    bounded at ``max_boundary_sample`` keys.

    ``num_partitions`` sets the ranking-window width (default: the cluster's
    ``defaultParallelism``). The key is cut into 4× that many buckets, so the
    bucket count is ``4 * num_partitions``; ordinal values do not depend on
    either number.

    ``stats_df`` (optional): a CHEAPER relation with the SAME key multiset and
    any columns ``extra_aggs`` reference — the sample and the counts job run on
    it instead of ``df`` (guide §4.1: the counts job needs per-doc scalars, not
    the full tokenized payload ``df`` computes). Bucket membership is a pure
    function of the key, so per-bucket counts/offsets from ``stats_df`` apply
    to ``df`` exactly; only the final ranking window touches ``df`` itself.

    ``key_df`` (optional): a relation carrying ONLY the key multiset, for the
    boundary sample. The sample needs nothing but keys, and since the light
    twin became an opaque mapInArrow relation (r6) Catalyst can no longer
    prune its kernel out of the sample scan — callers that can derive the key
    without any kernel (e.g. doc_id from the raw transcripts) pass it here.
    Boundaries only steer bucket balance, so any same-multiset source is
    equivalent.

    ``attach_to`` (optional): a second relation with the SAME key multiset —
    returned (as a 4th tuple element) with the SAME ordinals attached via the
    SAME boundaries/offsets. Lets a caller rank a cheap twin (e.g. the light
    (doc_id, dl) relation for the docs table) without re-deriving boundaries;
    ordinal values are identical because they are a pure function of the key
    ranking, which both relations share."""
    spark = df.sparkSession
    # Ranking-window width is pinned EXPLICITLY (repartition before the window)
    # instead of inheriting spark.sql.shuffle.partitions: the window can be
    # materialized lazily inside a consumer that scoped the session width to
    # its own (tiny) metadata jobs — plans/wand.py sizes shuffles from Σdf,
    # and a corpus-sized ranking sort inherited width 1 there (measured: 24 s
    # single-task sort at 1M docs inside a WAND query; guide §2.5/§2.4).
    # Bucket IDs deliberately outnumber the window width ~4x so the hash
    # spreads evenly (guide §2.5: few distinct synthetic keys + hash collisions
    # leave partitions empty); ordinal VALUES are invariant to bucket count.
    p_width = max(1, num_partitions or spark.sparkContext.defaultParallelism)
    n_buckets = 4 * p_width
    src = stats_df if stats_df is not None else df

    sample = sorted(
        r[0]
        for r in (key_df if key_df is not None else src).select(key)
        .sample(False, SAMPLE_FRACTION, seed=42)
        .orderBy(F.md5(F.col(key).cast("string")))
        .limit(max_boundary_sample)
        .collect()
    )
    boundaries: list = []
    if sample and n_buckets > 1:
        step = len(sample) / n_buckets
        boundaries = sorted(
            {sample[min(len(sample) - 1, int(i * step))] for i in range(1, n_buckets)}
        )

    bucket = _bisect_expr(boundaries, key) if boundaries else F.lit(0)

    agg_rows = src.withColumn("__bkt", bucket.cast("int")).groupBy("__bkt").agg(
        F.count("*").alias("cnt"), *(extra_aggs or [])
    ).collect()
    counts = {r["__bkt"]: r["cnt"] for r in agg_rows}
    n = sum(counts.values())
    if n == 0:
        zero = F.lit(0).cast("long")
        if attach_to is not None:
            return df.withColumn(out, zero), 0, agg_rows, attach_to.withColumn(out, zero)
        return df.withColumn(out, zero), 0, agg_rows
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(b) for b in sorted(offsets)]),
            F.array(*[F.lit(offsets[b]) for b in sorted(offsets)]),
        ),
        F.col("__bkt"),
    )

    def attach(rel: DataFrame) -> DataFrame:
        # explicit repartition on the bucket key: the window's required
        # ClusteredDistribution(__bkt) is satisfied, so this IS the window's
        # only exchange — same single shuffle, width pinned to the cluster
        # instead of the ambient session conf (see p_width note above)
        w = Window.partitionBy("__bkt").orderBy(key)
        return (
            rel.withColumn("__bkt", bucket.cast("int"))
            .repartition(p_width, "__bkt")
            .withColumn(out, (F.row_number().over(w) - 1 + offset_expr).cast("long"))
            .drop("__bkt")
        )

    out_df = attach(df)
    if attach_to is not None:
        return out_df, n, agg_rows, attach(attach_to)
    return out_df, n, agg_rows


def assign_dense_ordinals(
    df: DataFrame,
    key: str = "doc_id",
    out: str = "doc_ord",
    num_partitions: int | None = None,
    max_boundary_sample: int = MAX_BOUNDARY_SAMPLE,
    stats_df: DataFrame | None = None,
    key_df: DataFrame | None = None,
) -> DataFrame:
    """:func:`assign_dense_ordinals_with_aggs` without the aggregates: ``df``
    with ``out`` = dense 0-based ordinal of ``key``. ``num_partitions`` sets the
    ranking-window width; the bucket count is 4× that."""
    out_df, _n, _aggs = assign_dense_ordinals_with_aggs(
        df, key, out, num_partitions, max_boundary_sample=max_boundary_sample,
        stats_df=stats_df, key_df=key_df,
    )
    return out_df
