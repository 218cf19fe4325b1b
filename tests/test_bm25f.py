"""BM25F invariants: (1) one field at weight 1.0 degenerates to exactly BM25;
(2) the tool-field boost reorders a tool hit above an otherwise-identical text
hit; (3) each field's counting kernel runs once. Value-level parity vs DuckDB
is covered by the bm25f_topk oracle slice."""

from __future__ import annotations

import pyspark.sql.functions as F

from bge_m3_onnx_spark.config import DEFAULT_CONFIG as CFG
from bge_m3_onnx_spark.operators.bm25 import sum_scores_deterministic, term_scores
from bge_m3_onnx_spark.operators.bm25f import (
    doc_level_df,
    field_stats,
    fielded_counted,
    fielded_postings,
    score_bm25f,
)
from bge_m3_onnx_spark.operators.postings import build_postings, tokenized_docs
from bge_m3_onnx_spark.sources.transcripts import synth_transcripts


def _qt(spark, df_map, terms):
    rows = [(1, t, int(df_map[t])) for t in terms if df_map.get(t)]
    return spark.createDataFrame(rows, "query_id int, term string, df long")


def test_single_field_bm25f_equals_bm25(spark):
    t = synth_transcripts(spark, n_convs=60, turns_per_conv=5)
    fc = fielded_counted(t, CFG, fields=("text",))
    fp = fielded_postings(fc)
    avgdl_f = field_stats(fc)
    n_docs = t.count()
    fdf = {r["term"]: r["df"] for r in doc_level_df(fp).collect()}
    terms = ["spark", "shuffle", "the"]
    qt = _qt(spark, fdf, terms)
    got = {
        (r["doc_id"]): round(r["score"], 9)
        for r in score_bm25f(fp, qt, n_docs, avgdl_f, {"text": 1.0}, CFG).collect()
    }

    toks = tokenized_docs(t, CFG)
    qdf = {r["term"]: r["df"] for r in qt.collect()}
    postings = build_postings(toks).filter(F.col("term").isin(list(qdf)))
    per_term = term_scores(
        postings, {t: [1] for t in qdf}, qdf, n_docs, avgdl_f["text"], CFG, ["doc_id"], 2
    )
    want = {
        (r["doc_id"]): round(r["score"], 9)
        for r in sum_scores_deterministic(per_term, ["query_id", "doc_id"]).collect()
    }
    assert got == want and len(got) > 0


def test_tool_field_boost_reorders(spark):
    # two docs, same text-field content; d2 additionally hits in the tool field
    rows = [
        ("c1", 0, "user", "run the search now", None, None),
        ("c1", 1, "tool", "run the pipeline now", "search", None),
        ("c1", 2, "user", "nothing relevant here", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    fc = fielded_counted(t, CFG)
    fp = fielded_postings(fc)
    avgdl_f = field_stats(fc)
    fdf = {r["term"]: r["df"] for r in doc_level_df(fp).collect()}
    qt = _qt(spark, fdf, ["search"])
    scored = score_bm25f(fp, qt, 3, avgdl_f, {"text": 1.0, "tool": 2.0}, CFG).collect()
    by_doc = {r["doc_id"]: r["score"] for r in scored}
    # only the tool turn and the text-mention turn match; tool-field hit must win
    assert set(by_doc) == {"c1:0", "c1:1"}
    assert by_doc["c1:1"] > by_doc["c1:0"]


def test_one_kernel_run_per_field(spark):
    """The optimizer infers a non-empty filter on term_tfs from the explode; it
    must not reach below the counting kernel and run it a second time."""
    t = synth_transcripts(spark, n_convs=4, turns_per_conv=2)
    plan = fielded_postings(fielded_counted(t, CFG))._jdf.queryExecution().executedPlan()
    nodes = [
        line
        for line in plan.toString().splitlines()
        if any(n in line for n in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas"))
    ]
    assert len(nodes) == 2, nodes
