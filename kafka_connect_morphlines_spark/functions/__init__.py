"""Beyond-reference operator library for large-scale training-data pipelines:
deduplication, similarity search, text analysis, multimodal columns.

These are first-class engine components (BASELINE.json north star), built on
the joins/aggregations Spark provides and designed for 100 TB: no driver-side
collects, no global sorts, broadcast for small sides, salted/banded shuffles
for the quadratic parts.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input has fewer
    partitions (e.g. a single small parquet file -> 1 partition -> 1 core).

    At real scale the scan already has >= cores partitions and this is a
    no-op; the guard exists so compute-heavy per-row operators (minhash,
    simhash, feature extraction) never serialize onto one core because the
    *input layout* was coarse.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def driver_table(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-computed rows as a local relation: the package's one route
    from driver-side rows to a DataFrame.

    Built from an Arrow table, the frame is planned as a
    ``LocalTableScan``, so its actions and broadcasts run no Python task;
    ``createDataFrame`` of a Python list would make a Python RDD that runs
    one Python task per slice at every action.

    ``schema`` is a DDL string or a ``StructType`` and is the frame's
    schema exactly, nullability included.  Each row goes through the
    schema's ``toInternal`` first, so values convert as the list path
    converts them: a naive ``datetime`` is read in the driver's local
    timezone (a bare UTC Arrow timestamp would read it as UTC).  The table
    is built by pyarrow, never through pandas, so a failed conversion
    raises instead of falling back to a Python RDD.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*(struct.toInternal(r) for r in rows))) or [()] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow)]
    for a, f in zip(arrays, arrow):
        if a.null_count and not f.nullable:
            raise ValueError(f"driver_table: NULL in non-nullable field {f.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)
