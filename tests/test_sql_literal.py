"""sql_literal renders driver-known values as SQL text that Spark parses back to
the same value, bit for bit, with the type ``F.lit`` gives it."""

from __future__ import annotations

import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bge_m3_onnx_spark.functions.sql_literal import sql_in, sql_literal

_INT32 = (-(2**31), 2**31 - 1)
_INT64 = (-(2**63), 2**63 - 1)

texts = st.lists(
    st.one_of(
        st.characters(),  # any code point but lone surrogates, non-BMP included
        st.sampled_from(["'", '"', "\\", "\\'", "''", "\\\\", "--", "/*", "\n", "\x00"]),
    ),
    max_size=12,
).map("".join)
doubles = st.one_of(
    st.floats(allow_nan=False),  # ±inf, ±0.0, subnormals
    st.sampled_from([5e-324, -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308]),
)
ints = st.one_of(
    st.integers(*_INT64),
    st.sampled_from([_INT32[0], _INT32[1], _INT32[0] - 1, _INT32[1] + 1, *_INT64, 0]),
)
scalars = st.one_of(texts, doubles, ints)


def _same(a, b) -> bool:
    """Equality that tells −0.0 from 0.0 (floats compare by their bits)."""
    if isinstance(a, float) and isinstance(b, float):
        return struct.pack(">d", a) == struct.pack(">d", b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.one_of(scalars, st.lists(texts, min_size=1, max_size=3), st.lists(doubles, min_size=1, max_size=3)),
        min_size=1,
        max_size=16,
    )
)
def test_rendered_values_round_trip(spark, values):
    one = spark.range(1)
    got = one.select(*[F.expr(sql_literal(v)).alias(f"c{i}") for i, v in enumerate(values)])
    want = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    # same type; nullability may differ (CAST('Infinity' AS DOUBLE) is nullable)
    assert [f.dataType.simpleString() for f in got.schema] == [
        f.dataType.simpleString() for f in want.schema
    ]
    row = got.collect()[0]
    for i, v in enumerate(values):
        assert _same(row[i], v), (v, row[i], sql_literal(v))


def test_map_literal_types(spark):
    m = {"b": 2**40, "a\\'": -1}
    got = spark.range(1).select(F.expr(sql_literal(m)).alias("m"))
    want = spark.range(1).select(
        F.create_map(*[x for k, v in m.items() for x in (F.lit(k), F.lit(v))]).alias("m")
    )
    assert got.schema == want.schema
    assert got.collect()[0]["m"] == m
    assert sql_literal({}) == "map()"


def test_strings_ignore_escaped_string_literals(spark):
    s = "a\\'b\\\\'c"
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            assert spark.range(1).select(F.expr(sql_literal(s))).collect()[0][0] == s
    finally:
        spark.conf.set(key, old)


def test_in_predicate(spark):
    df = spark.createDataFrame([("it's",), ("x",), ("y\\",)], "term string")
    assert sorted(r[0] for r in df.filter(sql_in("term", ["it's", "y\\"])).collect()) == ["it's", "y\\"]
    # an empty list is an always-false predicate (``IN ()`` does not parse)
    assert df.filter(sql_in("term", [])).count() == 0
    assert df.filter(f"NOT ({sql_in('term', [])})").count() == 3


@pytest.mark.parametrize(
    "bad,exc",
    [
        (float("nan"), ValueError),
        ("ok\ud800", ValueError),  # lone surrogate: no UTF-8 encoding
        (2**63, ValueError),
        (True, TypeError),
        (object(), TypeError),
    ],
    ids=["nan", "lone_surrogate", "past_bigint", "bool", "object"],
)
def test_unrenderable_values_raise(bad, exc):
    with pytest.raises(exc):
        sql_literal(bad)
