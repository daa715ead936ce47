"""Driver-side rows as a DataFrame, built through Arrow.

``spark.createDataFrame(<list>)`` parallelizes the list and
re-serializes it through a Python ``map`` every time the frame is
consumed: one Python-worker task per default-parallelism slot, per
action. Each such task pays a fixed start-up cost in the worker
(``pyspark.worker_util.setup_spark_files`` invalidates the import
caches, so every cached zip importer re-reads ``pyspark.zip``'s
directory): about 0.2 CPU-s per task on a 4-vCPU VM, however few
rows the task moves. A ``pyarrow.Table`` input becomes a JVM-side
``LocalRelation`` instead, so consuming it starts no Python task.

Every small driver-built frame in ``sources/``, ``operators/``,
``plans/``, ``streaming/`` and ``queries.py`` goes through
:func:`arrow_frame`; ``tests/test_python_boundary.py`` fails on any
other ``createDataFrame`` call there.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def arrow_frame(
    spark: SparkSession, rows: Sequence, schema: str | T.StructType
) -> DataFrame:
    """``rows`` (tuples in schema order, or dicts keyed by field
    name) as a DataFrame of exactly ``schema`` (a DDL string or a
    ``StructType``), built from a ``pyarrow.Table`` typed from that
    schema. A value that does not fit its column's type raises, as
    the list path's schema verification does. Naive ``datetime``
    values are read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array(
            [r[f.name] if isinstance(r, dict) else r[i] for r in rows],
            type=arrow_schema.field(i).type,
        )
        for i, f in enumerate(schema.fields)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
