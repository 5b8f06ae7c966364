"""Vector math as pure Catalyst expressions (no Python, no UDF).

``embeddings.embedding`` is ``array<float>``; all math is done in double
precision after an explicit cast so the DuckDB oracles (which cast to
``DOUBLE[]``) accumulate identically. Folds are sequential left-to-right on
both engines; results are rounded before any threshold comparison so a
last-ulp difference can never flip a filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# --- matching DuckDB SQL fragments ---------------------------------------

def sql_double_array(col: str) -> str:
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def sql_l2_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_l2_norm(a)} * {sql_l2_norm(b)}))"
