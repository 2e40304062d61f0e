"""Single-round-trip SQL-text builders for constant arrays and vector
math (the r13 selectExpr pattern, factored out).

Why: every py4j round trip costs ~0.3-0.9 ms of driver latency per
PLAN BUILD, and both ``F.lit(list)`` and ``F.lit(ndarray)`` expand to
ONE TRIP PER ELEMENT (measured r14: a 64-float plane literal = ~69
trips; 16 planes = ~2,100 trips before any lambda algebra).  Shipping
the same expression as SQL text parses JVM-side in one trip and
constant-folds to the identical Literal, so results are bit-equal.

Float literals use ``repr(v) + 'D'``: Python repr is the shortest
round-trip decimal and Spark's lexer parses ``<digits>[.<digits>][eN]D``
via Double.parseDouble, which round-trips it to the same IEEE double.
Int literals use the ``L`` suffix (bigint — what ``F.lit(int)`` makes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def d_sql(v: float) -> str:
    """One double literal as SQL text (exact IEEE round trip)."""
    return f"{float(v)!r}D"


def arr_d_sql(vals) -> str:
    """array<double> literal as SQL text."""
    return "array(" + ", ".join(d_sql(v) for v in vals) + ")"


def arr_l_sql(vals) -> str:
    """array<bigint> literal as SQL text."""
    return "array(" + ", ".join(f"{int(v)}L" for v in vals) + ")"


def lit_longs(vals) -> Column:
    """Constant array<bigint> Column in ONE py4j trip."""
    return F.expr(arr_l_sql(vals))


def dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL-text twin of :func:`similarity.dot` — the IDENTICAL
    zip_with/aggregate expression tree, one parse trip."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def norm_sql(a_sql: str) -> str:
    """SQL-text twin of :func:`similarity.norm`."""
    return (
        f"sqrt(aggregate({a_sql}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
