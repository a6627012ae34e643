"""Vector math as Catalyst higher-order functions — JVM-side, codegen'd.

All distance/similarity math stays inside whole-stage codegen via
`zip_with` + `aggregate` (no Python UDFs in the hot path). Inputs may be
array<float>; accumulation is in double (the `F.lit(0.0)` zero forces
double), mirroring how the reference computes in float32 storage but
does distance tests in the caller's predicate
(MemoryVectorIndexTests.cs:209-217).

`dot`, `euclidean_sq`, `euclidean` and `linf_distance` also take a
Python list as the second operand — one driver-side query vector. They
then return the same fold spelled as ONE SQL-string expression with the
query inlined as an array of exact double literals: one parse round
trip to the JVM instead of a Column call per element and per lambda
node, and no query table to join or broadcast. The values are
bit-identical to the Column form (pytest-pinned, including -0.0,
subnormals and non-finite components).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_database_spark.schemas import sql_ident


def _to_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def _sql_double(x: float) -> str:
    """``x`` as a Spark SQL double literal that parses back to the same
    bits: the shortest round-trip ``repr`` with a ``D`` suffix (covers
    -0.0, subnormals and large exponents), and string casts for the
    non-finite values, which have no literal spelling."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _zip_sql(a: Column | str, q: list, body: str) -> str:
    """``zip_with(a, <q literal>, (x, y) -> body)`` as SQL text: column
    ``a`` (a name, resolved as `F.col` reads it) cast to double, ``q``
    inlined."""
    if not isinstance(a, str):
        raise TypeError(
            "a listed query vector pairs with a column NAME as the first "
            f"operand, got {type(a).__name__}"
        )
    lit = ", ".join(_sql_double(x) for x in q)
    return (
        f"zip_with(CAST({sql_ident(a)} AS ARRAY<DOUBLE>), "
        f"CAST(array({lit}) AS ARRAY<DOUBLE>), (x, y) -> {body})"
    )


def _sum_sql(a: Column | str, q: list, body: str) -> str:
    return f"aggregate({_zip_sql(a, q, body)}, 0.0D, (acc, v) -> acc + v)"


def dot(a: Column | str, b: Column | str | list) -> Column:
    """Inner product, accumulated left-to-right in double."""
    if isinstance(b, list):
        return F.expr(_sum_sql(a, b, "x * y"))
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean_sq(a: Column | str, b: Column | str | list) -> Column:
    if isinstance(b, list):
        return F.expr(_sum_sql(a, b, "(x - y) * (x - y)"))
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean(a: Column | str, b: Column | str | list) -> Column:
    """Exact L2 distance (the tested reference metric,
    MemoryVectorIndexTests.cs:209-217)."""
    if isinstance(b, list):
        return F.expr(f"sqrt({_sum_sql(a, b, '(x - y) * (x - y)')})")
    return F.sqrt(euclidean_sq(a, b))


def linf_distance(a: Column | str, b: Column | str | list) -> Column:
    """Chebyshev distance — the metric implied by the SQL Search's
    axis-aligned query box (DDL.sql:246-254)."""
    if isinstance(b, list):
        return F.expr(f"array_max({_zip_sql(a, b, 'abs(x - y)')})")
    return F.array_max(F.zip_with(_to_double(a), _to_double(b), lambda x, y: F.abs(x - y)))


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column | str) -> Column:
    """Scale a vector to unit L2 norm (null-safe on zero vectors)."""
    ad = _to_double(a)
    n = l2_norm(ad)
    return F.when(n > 0, F.transform(ad, lambda x: x / n)).otherwise(ad)
