"""Schemas and loaders for the engine's core tables.

Data model (SURVEY.md §1): the reference stores documents
(`dbo.Document`, DDL.sql:302-309), text chunks with JSON-string float
vectors (`dbo.Text`, DDL.sql:316-326), exploded points
(`dbo.PointType`, DDL.sql:4-13) and the BSP-tree index
(`dbo.TextIndex`, DDL.sql:209-227). Here vectors are native
``array<float>`` columns and the index is a plain DataFrame/Parquet
table partitioned by ``doc_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# dbo.Text analog: native array<float> instead of a JSON string column.
TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("vector", T.ArrayType(T.FloatType(), False), True),
    ]
)

# dbo.PointType analog — long/EAV form the set-based build operates on.
POINTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("value", T.FloatType(), False),
    ]
)

# dbo.TextIndex analog. `dimension` is 0-based. Leaf rows: `id` set and
# child/dimension columns null; id-split rows (stdev = 0): dimension and
# mid null but children set (DDL.sql:190-199).
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("range_id", T.LongType(), False),
        T.StructField("dimension", T.IntegerType(), True),
        T.StructField("mid", T.DoubleType(), True),
        T.StructField("low_range_id", T.LongType(), True),
        T.StructField("high_range_id", T.LongType(), True),
        T.StructField("id", T.LongType(), True),
    ]
)

# Driver-generated fixture tables (TESTDATA.md / FIXTURES.md §B).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A small driver-side table (query panel, centroids, a stats row)
    as a DataFrame over a pyarrow Table: a `LocalRelation` in the plan
    at these sizes, no Python worker, O(1) py4j calls per frame,
    doubles exact (-0.0, NaN, ±inf, subnormals).

    Engine code must not call ``createDataFrame(<python list>)``: its
    identity ``map`` over the pickled rows puts one Python-worker task
    on every default-parallelism slice, a whole stage per call.

    The frame's schema is ``ddl``, nullability included, exactly as
    with the list form.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def as_predicate(where) -> Column:
    """A row filter given as a SQL string or a Column, as a Column: the
    one door every ``where=`` argument of the engine goes through."""
    return F.expr(where) if isinstance(where, str) else where


def sql_ident(name: str) -> str:
    """A column name as SQL text that resolves as ``F.col(name)`` does:
    each dotted part backtick-quoted. Serving paths spell projections
    and filters as SQL strings (``selectExpr``, ``where(str)``): one
    py4j round trip per call instead of one per Column node."""
    return ".".join(f"`{p.replace('`', '``')}`" for p in name.split("."))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from a scale-factor directory."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def ingest_json_vectors(
    df: DataFrame, json_col: str = "vector_json", out_col: str = "vector"
) -> DataFrame:
    """Parse the reference's JSON-string vector encoding into a native
    array<float> (reference: `openjson(Vector)`, DDL.sql:370-371)."""
    return df.withColumn(out_col, F.from_json(F.col(json_col), "array<float>"))


def explode_points(
    df: DataFrame, id_col: str = "id", vector_col: str = "vector"
) -> DataFrame:
    """Wide vectors -> long point form `(id, idx, value)`
    (reference: dbo.PointType, DDL.sql:4-13)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vector_col)).alias("idx", "value"),
    )
