"""The listed-query operand of `functions.vector`: ``dot``,
``euclidean``, ``euclidean_sq`` and ``linf_distance`` take one
driver-side query vector as a Python list and inline it as one SQL
expression. Its values must equal the Column form's bit for bit, for
every double a query can hold."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from vector_database_spark.functions import vector as V
from vector_database_spark.functions.vector import _sql_double
from vector_database_spark.operators.search import brute_force_search
from vector_database_spark.schemas import local_frame

INF, NAN = float("inf"), float("nan")

# -0.0, subnormals, the extremes of the finite range, non-finite values
SPECIAL = [
    -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e300, -1e300,
    1.7976931348623157e308, 0.1, 1.0 / 3.0, INF, -INF, NAN,
]


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def test_sql_double_parses_back_to_the_same_bits(spark):
    row = spark.sql(
        "SELECT " + ", ".join(f"{_sql_double(x)} AS c{i}" for i, x in enumerate(SPECIAL))
    ).first()
    assert [_bits(v) for v in row] == [_bits(x) for x in SPECIAL]


@pytest.mark.parametrize("fn", ["dot", "euclidean", "euclidean_sq", "linf_distance"])
def test_listed_query_equals_column_form_bitwise(spark, fn):
    rows = [
        (0, [1.0, -0.0, 5e-324, 1e300]),
        (1, [0.1, 0.2, 0.3, -1e-310]),
        (2, [INF, 1.0, 2.0, 3.0]),
        (3, [NAN, 0.0, 0.0, 0.0]),
        (4, [-0.0, -0.0, -0.0, -0.0]),
        (5, [1e-320, -2.5e-308, 7.0, -3.0]),
    ]
    df = local_frame(spark, rows, "id long, v array<double>")
    queries = [SPECIAL[i : i + 4] for i in range(0, len(SPECIAL), 4)]
    queries += [[-0.0] * 4, [0.5, -0.25, 1e-300, 3.0]]
    f = getattr(V, fn)
    for q in queries:
        got = df.select(
            "id",
            f(F.col("v"), F.lit(q).cast("array<double>")).alias("col"),
            f("v", q).alias("lit"),
        ).collect()
        for r in got:
            assert _bits(r["col"]) == _bits(r["lit"]), (fn, q, r)


def test_listed_query_takes_a_column_name(spark):
    with pytest.raises(TypeError, match="column NAME"):
        V.dot(F.col("v"), [1.0, 2.0])


@pytest.mark.parametrize("metric", ["euclidean", "chebyshev"])
def test_brute_force_one_listed_query_equals_the_panel_form(spark, metric):
    """One listed query takes the literal plan (no query table); its
    rows equal the broadcast panel form's, distances bit for bit."""
    rows = [(i, [0.01 * i, -0.02 * i, 0.5, (-1.0) ** i * 1e-310]) for i in range(40)]
    vecs = local_frame(spark, rows, "id long, vector array<float>")
    q = [0.1, -0.2, 0.5, -0.0]
    panel = local_frame(spark, [(7, q)], "qid long, qvec array<double>")
    one = brute_force_search(vecs, [(7, q)], 0.3, metric=metric)
    ref = brute_force_search(vecs, panel, 0.3, metric=metric)

    def rows_of(df):
        return sorted((r.qid, r.id, _bits(r.dist)) for r in df.collect())

    assert rows_of(one) == rows_of(ref) and rows_of(one)
    assert one.schema["qid"].dataType == ref.schema["qid"].dataType
