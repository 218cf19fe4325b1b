"""Driver-known values as Spark SQL text: one ``F.expr`` per literal relation.

Building a literal relation from ``F.lit``/``F.create_map``/``F.array`` costs one
py4j round trip per value (a 20-entry map ≈ 60 JVM calls); the same map parsed
from one SQL string costs one. The query plans (plans/query.py, plans/wand.py,
operators/bm25.py) therefore render every driver-known value with
:func:`sql_literal` and hand the whole expression to Spark's parser.

The rendering is exact and structure-safe:

* ``float`` → ``repr(x)`` with a ``D`` suffix. Python's shortest repr
  round-trips through Java's ``Double.parseDouble``, so the parsed double has
  the same bits (−0.0 and subnormals included). ±inf become
  ``CAST('Infinity' AS DOUBLE)``; NaN raises.
* ``int`` → INT when it fits in 32 bits, BIGINT (``L`` suffix) otherwise —
  the types ``F.lit`` gives. Past 64 bits raises.
* ``str`` → ``CAST(X'<utf-8 hex>' AS STRING)``: no quote, backslash or session
  setting (``spark.sql.parser.escapedStringLiterals``) can change how the text
  is read, so query text never alters the expression's structure. A lone
  surrogate cannot be encoded and raises.
* ``list`` → ``array(...)``, ``dict`` → ``map(k, v, ...)``.

Negative numbers are parenthesised, so a rendered value can follow any binary
operator (``x - (-1.5D)``; ``x --1.5D`` would open a SQL comment).
"""

from __future__ import annotations

import math
import numbers

_INT32 = (-(2**31), 2**31 - 1)
_INT64 = (-(2**63), 2**63 - 1)


def sql_literal(value) -> str:
    """SQL text whose value and Spark type equal ``F.lit(value)``'s."""
    if isinstance(value, bool):  # an Integral, but not an INT to Spark
        raise TypeError("no SQL literal for bool")
    if isinstance(value, str):
        return f"CAST(X'{value.encode('utf-8').hex().upper()}' AS STRING)"
    if isinstance(value, numbers.Integral):
        v = int(value)
        if _INT32[0] <= v <= _INT32[1]:
            text = str(v)
        elif _INT64[0] <= v <= _INT64[1]:
            text = f"{v}L"
        else:
            raise ValueError(f"integer {v} does not fit in a BIGINT")
        return f"({text})" if v < 0 else text
    if isinstance(value, numbers.Real):
        x = float(value)
        if math.isnan(x):
            raise ValueError("NaN has no exact SQL literal")
        if math.isinf(x):
            return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
        text = f"{float.__repr__(x)}D"
        return f"({text})" if math.copysign(1.0, x) < 0 else text
    if isinstance(value, list):
        return f"array({', '.join(sql_literal(v) for v in value)})"
    if isinstance(value, dict):
        return "map(" + ", ".join(
            f"{sql_literal(k)}, {sql_literal(v)}" for k, v in value.items()
        ) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def sql_in(column: str, values) -> str:
    """``column IN (v1, v2, ...)`` over rendered ``values``; ``false`` when
    ``values`` is empty (SQL's ``IN ()`` does not parse), as ``isin([])``."""
    values = list(values)
    if not values:
        return "false"
    return f"{column} IN ({', '.join(sql_literal(v) for v in values)})"
