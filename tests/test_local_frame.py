"""`schemas.local_frame`: the engine's small driver-side frames (query
panels, centroids, stats rows) are Arrow LocalRelations with exactly
the schema and values of the list `createDataFrame` they replace."""

from __future__ import annotations

import struct

import pytest

from vector_database_spark.operators.search import _as_queries_df
from vector_database_spark.schemas import local_frame

_PANEL_DDL = "qid long, qvec array<double>"


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_edge_doubles_round_trip_exactly(spark):
    edge = [-0.0, 5e-324, 1e300, float("nan"), float("inf"), float("-inf"), 0.1]
    rows = local_frame(spark, [(0, edge), (1, [2.0])], _PANEL_DDL).collect()
    got = {r.qid: r.qvec for r in rows}
    assert [_bits(x) for x in got[0]] == [_bits(x) for x in edge]
    assert got[1] == [2.0]


def test_empty_frame_schema_matches_list_form(spark):
    for ddl in (_PANEL_DDL, "text_id long", "text_id long, ip double, rank long"):
        empty = local_frame(spark, [], ddl)
        assert empty.schema == spark.createDataFrame([], ddl).schema
        assert empty.count() == 0


def test_small_panel_is_local_relation(spark):
    df = local_frame(spark, [(0, [0.5, 1.5]), (1, [2.5, 3.5])], _PANEL_DDL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_list_panel_routes_through_local_frame(spark):
    base = local_frame(spark, [(0, [0.0])], _PANEL_DDL)
    qdf = _as_queries_df(base, [(7, [1, 2]), (8, [3.0, 4.0])])
    assert qdf.schema == spark.createDataFrame([], _PANEL_DDL).schema
    assert [(r.qid, r.qvec) for r in qdf.orderBy("qid").collect()] == [
        (7, [1.0, 2.0]),
        (8, [3.0, 4.0]),
    ]
    with pytest.raises(ValueError, match="mixed vector widths"):
        _as_queries_df(base, [(0, [1.0, 2.0]), (1, [1.0])])
