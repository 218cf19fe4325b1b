"""Engine configuration.

BM25 parameters k1=1.2, b=0.75 are fixed by the north rule; everything else is
tunable. Defaults are sized so that the same code is correct at sf0.001 and would
hold up at 10^12 turns (block sizing is derived per-term from df, shuffle width
from the session, skew thresholds from the corpus histogram).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 (north rule: k1=1.2, b=0.75) ---
    k1: float = 1.2
    b: float = 0.75

    # --- tokenizer (mirrors the reference's filter semantics, SURVEY.md §2.2) ---
    # P5 sequence-length clamp (reference: BGE-M3 max 8192 tokens,
    # /root/reference/samples/dotnet/BgeM3.Onnx/M3Embedder.cs:191)
    max_tokens: int = 8192
    # P3 special-token exclusion (reference drops token ids {0,1,2,3} = [PAD]/[UNK]/
    # [CLS]/[SEP], /root/reference/samples/python/bge_m3_embedder.py:30,135).
    # Our terms are strings; the analog is an explicit exclusion set (default empty so
    # SQL oracles stay expressible; tests exercise a non-empty set).
    special_terms: frozenset[str] = field(default_factory=frozenset)

    # --- index build ---
    # Target postings per compressed block. Actual block membership is computed from
    # doc-ordinal ranges (block_range_for_term) so block assembly never needs a global
    # per-term rank — fully parallel and skew-free even for stopword terms with
    # billions of postings.
    block_size: int = 128
    # Salt fan-out for the two-phase per-term aggregation (operators/postings.py
    # term_stats). Salting is applied unconditionally — the cold-term overhead is one
    # extra pass over a tiny (term, salt) relation, so no df threshold gates it.
    hot_term_salts: int = 16

    # --- query ---
    default_k: int = 10
    # Route to the exact path when the query terms' total posting count (Σ df,
    # known on the driver after the first metadata lookup) is below this: WAND's
    # extra driver round-trips only pay off when pruning skips far more posting
    # decode work than the round-trips cost. At 10^12 turns any stopword query
    # clears this instantly; small/selective queries take the one-job exact plan.
    #
    # RE-CALIBRATED r4 (tools/wand_calibrate.py, WAND_CAL_r04.json, 10M-turn
    # skewed corpus on local[32]) after the literal-map + driver-side phase-2
    # rework cut WAND's per-query machinery from ~10-25 s (r3) to ~1.5-3 s:
    # "the" now runs 5.99 s vs exact 5.45 s (0.91x) where r3 measured ~15 s.
    # Exact fits exact_sec ≈ 2.6 s + Σdf/2.7M; WAND on PRUNABLE shapes is
    # ~6-7 s nearly flat (decode is 443/66,226 blocks for "the"), so the two
    # lines cross at Σdf ≈ 10-12M. 12M is just above the largest measured
    # exact-wins prunable point (8.7M at 0.84-0.91x). On a real cluster the
    # exact side's slope grows with corpus/executor ratio while WAND stays
    # flat, so at 10^12 turns any stopword query (Σdf ~10^11) takes WAND.
    wand_route_min_postings: int = 12_000_000
    # Prunability gate (r4): WAND only beats exact when the score mass is
    # CONCENTRATED in one term — θ then dominates the other terms' block
    # maxima and phases 2/3 skip almost everything. The measured signal is
    # residual df = Σdf - max-term df, free on the driver from the df memo:
    #   prunable (WAND 0.84-0.91x): "the"/"of" (residual 0),
    #     "iceberg3 the" (2.8%), "iceberg3 of" (3.6%)
    #   unprunable (WAND 0.13-0.48x): "spark3 iceberg7 the" (11.8%, 69k extra
    #     blocks decoded), "a to and of" (77%, 73% of blocks survive θ)
    # Queries whose residual fraction exceeds this stay on the exact path
    # regardless of Σdf — for multi-hot-term queries pruning NEVER recoups
    # machinery at any corpus size (the surviving fraction is scale-invariant).
    wand_route_max_residual_frac: float = 0.05

    def block_range_for_term(self, df: int, n_docs: int) -> int:
        """Doc-ordinal span per block so a term with document frequency ``df`` over
        ``n_docs`` documents lands ~block_size postings per block. Pure arithmetic on
        (df, N) so executors compute it without any extra shuffle."""
        if df <= 0:
            return max(1, n_docs)
        span = max(1, (n_docs * self.block_size) // df)
        return span


DEFAULT_CONFIG = EngineConfig()
