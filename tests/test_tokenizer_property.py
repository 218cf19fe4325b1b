"""Property tests for the tokenizer contract.

1. The Arrow token-array kernel (Spark path: ASCII rows in Arrow C++, other
   rows through the oracle) must equal the single-string tokenizer (oracle
   path) on ARBITRARY unicode, mixed in one batch — they are two
   implementations of one spec and the correctness gate rides on their
   identity.
2. The DuckDB oracle regex (`regexp_extract_all(lower(text), '[a-z0-9]+')`,
   no NFKC) equals the engine tokenizer whenever the input is ASCII — the
   documented corpus invariant the oracle CTEs rely on (entry.py _BASE_CTES).
   Non-ASCII text may legitimately diverge (engine NFKC-folds first); the gate
   holds because the shared testdata corpus is ASCII.
"""

from __future__ import annotations

import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from bge_m3_onnx_spark.functions.tokenizer import token_array_arrow_kernel, tokenize_text

_PLAIN_RE = re.compile(r"[a-z0-9]+")


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.text(max_size=80)), max_size=8),
    st.integers(min_value=0, max_value=12),
)
def test_vectorized_kernel_equals_scalar_spec(texts, max_tokens):
    specials = frozenset({"the", "a"})
    rb = pa.record_batch(
        [pa.array([str(i) for i in range(len(texts))]), pa.array(texts, type=pa.string())],
        names=["doc_id", "text"],
    )
    out = token_array_arrow_kernel(max_tokens, specials)(iter([rb]))
    got = [terms for b in out for terms in b.column(1).to_pylist()]
    want = [tokenize_text(t, max_tokens, specials) for t in texts]
    assert got == want


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=127), max_size=200))
def test_oracle_regex_equals_engine_on_ascii(text):
    assert tokenize_text(text, max_tokens=None) == _PLAIN_RE.findall(text.lower())
