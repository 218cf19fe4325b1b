"""Tokenizer unit tests — edge cases lifted from the reference corpus
(/root/reference/samples/python/generate_reference_embeddings.py:60-69)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bge_m3_onnx_spark.functions.tokenizer import (
    _tokenize_series,
    tokenize_text,
    tokenize_udf,
)

EDGE_CASES = [
    "",
    "Hello world",
    "English, Español, Русский, 中文, العربية, हिन्दी, Ελληνικά, עברית, 日本語, 한국어",
    "Text with numbers: 12345 and symbols: !@#$%^&*()",
    "the THE The tHe",
    "under_score snake_case",
    "  leading   spaces\t\ttabs\nnewlines  ",
    None,
]


def test_empty_and_none():
    assert tokenize_text("") == []
    assert tokenize_text(None) == []


def test_ascii_matches_simple_regex():
    # on pure-ASCII text the tokenizer must equal [a-z0-9]+ over lower(text)
    import re

    for t in ["Hello world", "Text with numbers: 12345 and symbols: !@#$%^&*()"]:
        assert tokenize_text(t) == re.findall(r"[a-z0-9]+", t.lower())


def test_casefold_and_dedupe_input():
    assert tokenize_text("the THE The tHe") == ["the"] * 4  # tf semantics downstream


def test_underscore_excluded():
    assert tokenize_text("under_score") == ["under", "score"]


def test_multilingual():
    toks = tokenize_text("English, Русский, 中文")
    assert "english" in toks and "русский" in toks and "中文" in toks


def test_truncation_p5():
    text = " ".join(f"w{i}" for i in range(100))
    assert len(tokenize_text(text, max_tokens=10)) == 10


def test_special_terms_p3():
    toks = tokenize_text("the cls sep pad", special_terms=frozenset({"cls", "sep", "pad"}))
    assert toks == ["the"]


def test_nfkc_normalization():
    # full-width latin normalizes to ascii
    assert tokenize_text("ＨＥＬＬＯ") == ["hello"]


def test_pandas_kernel_matches_scalar():
    s = pd.Series(EDGE_CASES)
    out = _tokenize_series(s, 8192, frozenset())
    for text, got in zip(EDGE_CASES, out):
        assert list(got) == tokenize_text(text)


@pytest.mark.usefixtures("spark")
def test_udf_matches_oracle(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_CASES], "text string")
    rows = df.select(F.col("text"), tokenize_udf()(F.col("text")).alias("toks")).collect()
    for r in rows:
        assert list(r["toks"]) == tokenize_text(r["text"]), r["text"]


@pytest.mark.usefixtures("spark")
def test_term_counts_udf_matches_counter(spark):
    """The SPIMI counting kernel == Counter(tokenize_text(...)) per document,
    and Σtf == token count (dl consistency)."""
    from collections import Counter

    from bge_m3_onnx_spark.functions.tokenizer import term_counts_udf

    df = spark.createDataFrame([(t,) for t in EDGE_CASES], "text string")
    rows = df.select(
        F.col("text"), term_counts_udf()(F.col("text")).alias("tts")
    ).collect()
    for r in rows:
        got = {x["term"]: x["tf"] for x in r["tts"]}
        want = dict(Counter(tokenize_text(r["text"])))
        assert got == want, r["text"]
        assert sum(got.values()) == len(tokenize_text(r["text"]))


def test_token_count_kernel_matches_full_tokenizer():
    """doc_len_docs' count-only kernel (r6 light statistics pass) must produce
    EXACTLY len(tokenize_text(...)) — dl feeds avgdl/ordinal counts, and any
    drift vs the fat kernel would silently skew every BM25 score. The kernel
    runs here on a plain Arrow batch, no Spark."""
    import pyarrow as pa

    from bge_m3_onnx_spark.functions.tokenizer import token_count_arrow_kernel

    texts = EDGE_CASES + [" ".join(f"w{i}" for i in range(100))]
    rb = pa.record_batch(
        [pa.array([f"d{i}" for i in range(len(texts))]), pa.array(texts, type=pa.string())],
        names=["doc_id", "text"],
    )
    for max_tokens, specials in [(8192, frozenset()), (10, frozenset()),
                                 (8192, frozenset({"the", "12345"})),
                                 (3, frozenset({"w1"}))]:
        want = [len(tokenize_text(t, max_tokens, specials)) for t in texts]
        (out,) = token_count_arrow_kernel(max_tokens, specials)(iter([rb]))
        assert out.column(1).to_pylist() == want, (max_tokens, specials)


def test_doc_len_docs_matches_counted_docs(spark):
    from bge_m3_onnx_spark.operators.postings import counted_docs, doc_len_docs
    from bge_m3_onnx_spark.sources.transcripts import synth_transcripts

    t = synth_transcripts(spark, 200, 10)
    full = {r["doc_id"]: r["dl"] for r in counted_docs(t).select("doc_id", "dl").collect()}
    light = {r["doc_id"]: r["dl"] for r in doc_len_docs(t).collect()}
    assert full == light


def test_arrow_kernels_match_oracle_with_config(spark):
    """counted_docs / doc_len_docs (r6 mapInArrow kernels, ASCII fast path +
    Python fallback) must equal the oracle tokenizer under NON-default config
    too: max_tokens clamp (applied before the special filter) and a special
    set that includes ASCII and non-ASCII terms, over a corpus that mixes
    ASCII, multilingual, NFKC-foldable, empty and null rows in one batch."""
    from collections import Counter

    from bge_m3_onnx_spark.config import EngineConfig
    from bge_m3_onnx_spark.operators.postings import counted_docs, doc_len_docs

    texts = [
        "the THE spark spark shuffle cls sep",
        "English, Español, Русский, 中文 cls",
        "ＨＥＬＬＯ ｗｏｒｌｄ cls hello",  # NFKC folds to ascii
        "",
        None,
        "only_separators !!! ___",
        " ".join(f"w{i}" for i in range(30)),  # clamp exercises pos<max_tokens
        "ελληνικά the ελληνικά the the",
    ]
    rows = [(f"c{i}", 0, None, t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = EngineConfig(max_tokens=5, special_terms=frozenset({"cls", "ελληνικά", "w1"}))
    got_counts = {
        r["doc_id"]: {x["term"]: x["tf"] for x in r["term_tfs"]}
        for r in counted_docs(df, cfg).collect()
    }
    got_dl = {r["doc_id"]: r["dl"] for r in doc_len_docs(df, cfg).collect()}
    for i, t in enumerate(texts):
        toks = tokenize_text(t, cfg.max_tokens, cfg.special_terms)
        key = f"c{i}:0"
        assert got_counts[key] == dict(Counter(toks)), (t, got_counts[key])
        assert got_dl[key] == len(toks), (t, got_dl[key])
