"""DataFrames for tiny driver-side metadata row lists, built as Arrow
``LocalRelation``s.

``spark.createDataFrame(list)`` parallelizes local data as a pickled
Python RDD: every consumer pays a Python-worker round trip per slice,
so a broadcast build of such a frame is a job of Python tasks. The
engine builds these frames on hot paths — the partition-value,
row-tracking and deletion-vector broadcast maps of every scan — so
they are shipped as one Arrow table instead: Spark holds the rows in
the plan (``LocalRelation``), a broadcast of it runs JVM tasks only,
and projections and filters over it are folded on the driver.

Only for metadata-scale lists (file counts the driver already holds);
real data keeps the normal paths.
"""

from __future__ import annotations


def local_rows_df(spark, rows, schema):
    """``createDataFrame`` for a small driver-side list of row tuples,
    shipped as an Arrow ``LocalRelation``. Schema must be explicit
    (StructType or DDL string) — no inference pass."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not rows:
        return spark.createDataFrame([], schema)
    columns = list(zip(*rows))
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(
        pa.table(
            [pa.array(c, f.type) for c, f in zip(columns, arrow)],
            schema=arrow,
        ),
        schema,
    )
