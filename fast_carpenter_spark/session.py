"""Session factory with the engine's cluster-scale configuration.

One place for the knobs that matter at 10^12 docs, with the reasoning
recorded next to each.  ``build_session()`` is used by the bench/scaling
harnesses; on a real cluster the same settings go through
``spark-submit --conf`` (see scripts/submit_job.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Defaults tuned for the engine's plan shapes.  Values are strings, as
#: spark-submit would pass them.
SCALE_CONF: dict[str, str] = {
    # AQE re-plans at runtime: coalesces small shuffle partitions and
    # splits skewed ones — the backstop behind our explicit salting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 128 MB scan splits: large enough to amortize task overhead, small
    # enough that a 1000-executor cluster keeps every core busy on a
    # 100 TB input (~800k tasks).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow for every pandas_udf / mapInPandas hop (PIP parity kernel,
    # local kNN, media decode); batch size bounds executor-side pandas
    # memory per task.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # The polygon/cover dimension tables are small; let Catalyst choose
    # broadcast up to 64 MB (covers ~1M polygons of metadata).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def build_session(
    *,
    master: str | None = None,
    app_name: str = "fast_carpenter_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """SparkSession with SCALE_CONF applied.

    ``shuffle_partitions`` should be ~2-3x the total cores on a real
    cluster (set explicitly; AQE coalesces the excess).  In local mode it
    defaults to the local core count.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in SCALE_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built table (row tuples or a pandas DataFrame) as a
    ``LocalTableScan`` under ``schema`` (StructType or DDL string).

    ``spark.createDataFrame(list)`` plans a Python RDD: its first action
    starts a PySpark daemon and a Python worker per task (~0.3 s each)
    just to unpickle the rows.  An Arrow table is handed to the JVM whole
    and plans as a ``LocalRelation`` with real size statistics and no
    Python task.  Nulls in a non-nullable column are rejected here, as
    ``createDataFrame``'s schema check would.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
        )
    for field, col in zip(schema.fields, table.columns):
        if not field.nullable and col.null_count:
            raise ValueError(f"column {field.name!r} is not nullable but holds a null")
    return spark.createDataFrame(table, schema)
