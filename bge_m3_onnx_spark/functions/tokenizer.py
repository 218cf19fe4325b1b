"""Deterministic, vectorized tokenizer.

Plays the role of the reference's ONNX-exported XLM-RoBERTa tokenizer
(/root/reference/samples/python/bge_m3_embedder.py:114; exported at
bge-m3-to-onnx.ipynb cell-9 via ``gen_processing_models``), re-designed for a
distributed engine: a self-contained BGE-M3-*style* normalizer + word splitter that is

* identical between the Spark Arrow kernels and the pure-Python oracle
  (:func:`tokenize_text`, which the kernels also run on non-ASCII rows),
* NFKC + lowercase (SentencePiece-style normalization),
* unicode word extraction (``[^\\W_]+``) so multilingual turns tokenize
  (the reference corpus includes 10-script lines and the empty string —
  /root/reference/samples/python/generate_reference_embeddings.py:60-69),
* reference filter semantics preserved (SURVEY.md §2.2):
  - P5 truncation to ``max_tokens`` (M3Embedder.cs:191),
  - P3 special-term exclusion (bge_m3_embedder.py:30,135),
  - P4 zero-tf postings never exist (tf comes from counting kept tokens),
  - A2 group-by-term dedupe happens downstream via groupBy(term, doc).count().

On pure-ASCII text the token stream equals ``regexp_extract_all(lower(text),
'[a-z0-9]+')`` — this is what lets the DuckDB SQL oracles in ``__spark_entry__.py``
cross-check the Spark plans exactly.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Iterable

# \w includes underscore; BGE-M3's SentencePiece treats '_' as the word-boundary
# marker, so we exclude it from tokens.
TOKEN_PATTERN = r"[^\W_]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN, re.UNICODE)


def tokenize_text(
    text: str | None,
    max_tokens: int = 8192,
    special_terms: frozenset[str] = frozenset(),
) -> list[str]:
    """Single-string tokenizer — the oracle path. The Spark kernels below
    must produce exactly this, which tests assert."""
    if text is None:
        return []
    norm = unicodedata.normalize("NFKC", text).lower()
    toks = _TOKEN_RE.findall(norm)
    if max_tokens is not None and len(toks) > max_tokens:
        toks = toks[:max_tokens]  # P5 clamp — truncate BEFORE the special filter,
        # mirroring the reference order (tokenize → clamp → filter specials)
    if special_terms:
        toks = [t for t in toks if t not in special_terms]  # P3
    return toks


# ---------------------------------------------------------------------------
# Arrow-native batch kernels (r6, guide §4.2): the pandas UDFs these replaced
# paid two per-row Python conversions per batch — input strings materialized
# as Python objects in a pandas Series, and the returned list column was
# re-converted element-by-element into Arrow by the UDF serializer (measured:
# the conversion, not the tokenization, dominated the fat kernel at ~6.5 s of
# an 11 s postings stage at 1M skewed turns). The mapInArrow kernels below
# never materialize a Python string for ASCII text: lower/split/filter run in
# Arrow C++, per-(doc, term) counting is one np.unique over (row, dict-code)
# keys, and the output list arrays are assembled from numpy offsets — zero
# per-row Python.
#
# Arrow's RE2 regex is ASCII-only for \w (verified: '[^\W_]+' finds nothing in
# 'Ελληνικά'), so the vectorized path handles ONLY rows string_is_ascii says
# are pure ASCII — where NFKC is the identity, lower() matches Python, and
# '[a-z0-9]+' ≡ '[^\W_]+' — and every other row takes the exact Python oracle
# path (tokenize_text). Tests pin both paths to the oracle on every fixture.
# ---------------------------------------------------------------------------


def _ascii_token_stream(txt_a, max_tokens: int, specials: frozenset):
    """ASCII-only string Array → (parents, tokens) after the clamp-then-filter
    order the reference fixes (P5 before P3). parents are int64 row indices
    into txt_a; tokens is an Arrow string array, row-grouped in order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    low = pc.utf8_lower(txt_a)
    sp = pc.split_pattern_regex(low, pattern="[^a-z0-9]+")
    flat = pc.list_flatten(sp)
    par = pc.list_parent_indices(sp)
    keep = pc.not_equal(flat, "")
    parn = par.to_numpy(zero_copy_only=False).astype(np.int64)
    keep_np = keep.to_numpy(zero_copy_only=False)
    parn = parn[keep_np]
    toks = flat.filter(keep)
    if max_tokens is not None and len(parn):
        # token position within its row (rows are contiguous in parn)
        idx = np.arange(len(parn), dtype=np.int64)
        row_change = np.concatenate(([True], parn[1:] != parn[:-1]))
        starts = idx[row_change]
        reps = np.diff(np.append(starts, len(parn)))
        pos = idx - np.repeat(starts, reps)
        clamp = pos < max_tokens
        if not clamp.all():
            parn = parn[clamp]
            toks = toks.filter(pa.array(clamp))
    if specials and len(parn):
        spec = ~pc.is_in(
            toks, value_set=pa.array(sorted(specials), type=pa.string())
        ).to_numpy(zero_copy_only=False)
        if not spec.all():
            parn = parn[spec]
            toks = toks.filter(pa.array(spec))
    return parn, toks


def _ascii_term_entries(txt_a, max_tokens: int, specials: frozenset):
    """ASCII-only string Array → per-(row, term) entries in first-occurrence
    order plus per-row kept-token counts (dl). Entries come back row-sorted."""
    import numpy as np
    import pyarrow as pa

    parn, toks = _ascii_token_stream(txt_a, max_tokens, specials)
    n_rows = len(txt_a)
    dl = np.bincount(parn, minlength=n_rows).astype(np.int32)
    if not len(parn):
        return (
            np.empty(0, dtype=np.int64),
            pa.array([], type=pa.string()),
            np.empty(0, dtype=np.int64),
            dl,
        )
    d = toks.dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    v = len(d.dictionary) + 1
    key = parn * v + codes
    uniq, first_idx, cnts = np.unique(key, return_index=True, return_counts=True)
    # first_idx is a position in the row-ordered token stream, so sorting by it
    # yields (row, first-occurrence) order — exactly Counter() insertion order
    order = np.argsort(first_idx, kind="stable")
    uniq, cnts = uniq[order], cnts[order]
    rows_u = uniq // v
    terms_u = d.dictionary.take(pa.array(uniq % v))
    return rows_u, terms_u, cnts, dl


def _split_ascii(rb, text_col: str = "text"):
    """RecordBatch → (txt filled, ascii bool ndarray). Null text counts as
    ASCII ('' after fill — tokenize_text(None) == [])."""
    import pyarrow.compute as pc

    txt = rb.column(rb.schema.get_field_index(text_col))
    txt = pc.fill_null(txt, "")
    isa = pc.string_is_ascii(txt).to_numpy(zero_copy_only=False)
    return txt, isa


def token_array_arrow_kernel(max_tokens: int = 8192, special_terms: Iterable[str] = ()):  # noqa: ANN201
    """mapInArrow kernel: (doc_id, text) batches → (doc_id, terms, dl) batches,
    terms = tokenize_text(text) in token order and dl its length. ASCII rows
    are tokenized in Arrow C++; other rows take the Python oracle."""
    import numpy as np
    import pyarrow as pa

    specials = frozenset(special_terms)
    out_schema = pa.schema(
        [("doc_id", pa.string()), ("terms", pa.list_(pa.string())), ("dl", pa.int32())]
    )

    def kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            txt, isa = _split_ascii(rb)
            ia = np.flatnonzero(isa)
            parn, toks = _ascii_token_stream(txt.take(pa.array(ia)), max_tokens, specials)
            rows = ia[parn]  # back to original batch row indices
            ib = np.flatnonzero(~isa)
            if len(ib):
                fb = [tokenize_text(txt[int(i)].as_py(), max_tokens, specials) for i in ib]
                rows = np.concatenate([rows, np.repeat(ib, [len(x) for x in fb])])
                # stable sort merges the two row-sorted token streams without
                # disturbing token order within a row
                perm = np.argsort(rows, kind="stable")
                toks = pa.concat_arrays(
                    [toks, pa.array([t for x in fb for t in x], type=pa.string())]
                ).take(pa.array(perm))
                rows = rows[perm]
            dl = np.bincount(rows, minlength=n)
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(dl, out=offs[1:])
            lst = pa.ListArray.from_arrays(pa.array(offs).cast(pa.int32()), toks)
            yield pa.record_batch(
                [rb.column(rb.schema.get_field_index("doc_id")), lst, pa.array(dl.astype(np.int32))],
                schema=out_schema,
            )

    return kernel


def term_counts_arrow_kernel(max_tokens: int = 8192, special_terms: Iterable[str] = ()):  # noqa: ANN201
    """mapInArrow kernel: (doc_id, text) batches → (doc_id, term_tfs, dl)
    batches, term_tfs = Counter(tokenize_text(text)) in first-occurrence order
    and dl its Σtf.

    SPIMI in-mapper combining: the reference's group-by-token dedupe
    (bge_m3_embedder.py:140-143) is per-document, hence LOCAL — doing it inside
    the kernel means the downstream postings relation needs NO aggregation
    shuffle at all (measured: the (term, doc_id) hash agg over the exploded
    relation was the build's dominant, anti-scaling cost — 32 concurrent hash
    tables over ~tens of millions of mostly-unique groups spill against the
    shared memory pool)."""
    import numpy as np
    import pyarrow as pa

    specials = frozenset(special_terms)
    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            (
                "term_tfs",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("term", pa.string(), nullable=False),
                            pa.field("tf", pa.int32(), nullable=False),
                        ]
                    )
                ),
            ),
            ("dl", pa.int32()),
        ]
    )

    def kernel(batches):
        from collections import Counter

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            txt, isa = _split_ascii(rb)
            ia = np.flatnonzero(isa)
            rows_a, terms_a, tfs_a, dl_a = _ascii_term_entries(
                txt.take(pa.array(ia)), max_tokens, specials
            )
            rows_a = ia[rows_a]  # back to original batch row indices
            dl = np.zeros(n, dtype=np.int32)
            dl[ia] = dl_a
            ib = np.flatnonzero(~isa)
            if len(ib):
                fb_rows, fb_terms, fb_tfs = [], [], []
                for i in ib:
                    toks = tokenize_text(txt[int(i)].as_py(), max_tokens, specials)
                    dl[i] = len(toks)
                    for t, c in Counter(toks).items():
                        fb_rows.append(i)
                        fb_terms.append(t)
                        fb_tfs.append(c)
                rows = np.concatenate([rows_a, np.array(fb_rows, dtype=np.int64)])
                # stable sort merges the two row-sorted entry streams without
                # disturbing first-occurrence order within a row
                perm = np.argsort(rows, kind="stable")
                terms = pa.concat_arrays(
                    [terms_a.combine_chunks() if isinstance(terms_a, pa.ChunkedArray) else terms_a,
                     pa.array(fb_terms, type=pa.string())]
                ).take(pa.array(perm))
                tfs = np.concatenate([tfs_a, np.array(fb_tfs, dtype=np.int64)])[perm]
                rows = rows[perm]
            else:
                rows, terms, tfs = rows_a, terms_a, tfs_a
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(np.bincount(rows, minlength=n), out=offs[1:])
            struct = pa.StructArray.from_arrays(
                [terms, pa.array(tfs.astype(np.int32))],
                fields=list(out_schema.field("term_tfs").type.value_type),
            )
            # list<...> offsets are int32: one batch holds < 2**31 (term, tf)
            # entries. The safe cast raises ArrowInvalid past that bound.
            lst = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int64()).cast(pa.int32()), struct
            )
            yield pa.record_batch(
                [rb.column(rb.schema.get_field_index("doc_id")), lst, pa.array(dl)],
                schema=out_schema,
            )

    return kernel


def token_count_arrow_kernel(max_tokens: int = 8192, special_terms: Iterable[str] = ()):  # noqa: ANN201
    """mapInArrow kernel: (doc_id, text) → (doc_id, dl) — the count-only light
    twin. ASCII rows count regex matches in C++ (no specials) or reuse the
    vectorized token stream (specials); other rows take the Python oracle."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    specials = frozenset(special_terms)
    out_schema = pa.schema([("doc_id", pa.string()), ("dl", pa.int32())])

    def kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            txt, isa = _split_ascii(rb)
            dl = np.zeros(n, dtype=np.int32)
            ia = np.flatnonzero(isa)
            if len(ia):
                txt_a = txt.take(pa.array(ia))
                if specials:
                    parn, _ = _ascii_token_stream(txt_a, max_tokens, specials)
                    dl[ia] = np.bincount(parn, minlength=len(ia)).astype(np.int32)
                else:
                    cnt = pc.count_substring_regex(
                        txt_a, pattern="[a-zA-Z0-9]+"
                    ).to_numpy(zero_copy_only=False)
                    if max_tokens is not None:
                        cnt = np.minimum(cnt, max_tokens)
                    dl[ia] = cnt.astype(np.int32)
            for i in np.flatnonzero(~isa):
                dl[i] = len(tokenize_text(txt[int(i)].as_py(), max_tokens, specials))
            yield pa.record_batch(
                [rb.column(rb.schema.get_field_index("doc_id")), pa.array(dl)],
                schema=out_schema,
            )

    return kernel
