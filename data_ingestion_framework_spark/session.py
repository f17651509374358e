"""SparkSession factory with scale-appropriate defaults.

The reference never builds its own session (Databricks provides one);
on OSS we centralize session construction so every entry point gets the
same tuned configuration. Reference parity: session timezone control
(``SET TIME ZONE`` in reference/di_landing_to_raw_generic_v2.py:50).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Defaults chosen for local[N] testing but written so the same code
#: scales: AQE handles runtime coalescing and skew joins on a real
#: cluster; shuffle partitions are set from the local parallelism and
#: should be raised (or left to AQE) at cluster scale.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # INT96 (the legacy default) carries NO parquet min/max statistics,
    # which blinds both row-group pruning and the commit log's per-file
    # stats for timestamp columns; micros is the modern lakehouse form
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.sql.streaming.schemaInference": "true",
    # AQE partition coalescing floor. The default (1m) is a BYTE floor:
    # a CPU-heavy stage over few megabytes (regex redaction chains,
    # shingle/signature folds, GD feature builds) coalesces to 1-5
    # partitions and serializes onto as many cores, even though
    # ``parallelismFirst`` (default true) would otherwise target
    # defaultParallelism. Lowering the floor keeps such stages at
    # cluster parallelism; on big-data stages (>= 1 MB/core of shuffle
    # bytes) the floor is inert, so the setting is scale-neutral — it
    # only matters exactly when bytes are small but per-row work is
    # not. Measured at sf0.1: corpus_pipeline_staged 7.2 s -> 2.8 s,
    # corpus_pipeline_calibrated 10.8 s -> 6.6 s (r15 opt round).
    # Overridable for deployments whose small stages are byte-bound:
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"
    ),
}


def get_spark(
    app_name: str = "data-ingestion-framework-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests, bench and the driver contract all share one
    code path. On a real cluster, pass ``master=None`` with
    ``spark.master`` already set in the environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-built ``rows`` that lives in the JVM as a
    ``LocalRelation``: the rows are shipped once as an Arrow table, so
    no action on the frame starts a Python worker and its plan carries
    no lineage (``createDataFrame(<list>)`` builds a Python-pickled RDD
    instead, ``Scan ExistingRDD``, whose every action runs Python-worker
    tasks). ``schema`` is a ``StructType`` or a DDL string; rows are
    tuples, ``Row`` objects or dicts. An empty ``rows`` gives an empty
    frame of ``schema``.

    Values match ``createDataFrame(rows, schema)`` within two limits:

    * rows that are not dicts are read BY POSITION, ``Row(**kwargs)``
      included — ``createDataFrame`` reads a kwargs ``Row`` by name when
      the schema needs no field conversion, so such a row must list its
      fields in the schema's order; dicts are read by name;
    * a naive ``datetime`` is read in the local time zone (as
      ``createDataFrame`` reads it) only in a TOP-LEVEL ``TIMESTAMP``
      column; one nested in an array, map or struct is taken as UTC.

    Frames above
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) become an Arrow-batch RDD instead, still without Python
    workers."""
    return spark.createDataFrame(*arrow_rows(rows, schema))


def arrow_rows(rows, schema) -> tuple:
    """``(pyarrow.Table, StructType)`` of driver-built ``rows`` under
    ``schema`` (a ``StructType`` or a DDL string), read as
    :func:`local_frame` reads them — the one conversion behind both
    that frame and ``ParquetTable.append_rows``' driver-written file."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    cols: list[list] = [[] for _ in names]
    for r in rows:
        if isinstance(r, dict):
            r = [r.get(n) for n in names]
        for col, v in zip(cols, r):
            col.append(v)
    for col, f in zip(cols, schema.fields):
        if isinstance(f.dataType, TimestampType):
            col[:] = [
                v.astimezone()
                if isinstance(v, datetime.datetime) and v.tzinfo is None
                else v
                for v in col
            ]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)],
        schema=arrow,
    )
    return table, schema


def set_session_timezone(spark: SparkSession, tz: str) -> None:
    """Reference parity for ``SET TIME ZONE '<tz>'``
    (reference/di_landing_to_raw_generic_v2.py:50)."""
    spark.conf.set("spark.sql.session.timeZone", tz)
