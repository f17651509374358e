"""Audit logging + count reconciliation.

Reference parity: the audit-log table schema
(audit/auditlogs.py:33-44 — table_name, audit_operation,
audit_timestamp, audit_user, audit_info JSON, job_id, base_file_path),
command-result wrapping via ``to_json(struct(*))``
(audit/auditlogs.py:16-24), and the count-reconciliation assertions of
the curated pipelines (Raw-To-Curated-Material_Dim.py:188-196).

The reference extracts merge metrics from Delta ``DESCRIBE HISTORY``
(di_landing_to_raw_generic_v2.py:813-891); without a Delta commit log
our merge operators report their own insert/update/delete counts
(computed from the CDC classification — same numbers, no history scan).
"""

from __future__ import annotations

import datetime as dt
import getpass
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_ingestion_framework_spark.session import local_frame
from data_ingestion_framework_spark.sources.tablestore import AppendRowsRefused, ParquetTable

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("audit_operation", T.StringType()),
        # non-nullable, as the footer of a row stamped by Spark's
        # current_timestamp() logs it, so tables written either way agree
        T.StructField("audit_timestamp", T.TimestampType(), False),
        T.StructField("audit_user", T.StringType()),
        T.StructField("audit_info", T.StringType()),
        T.StructField("job_id", T.StringType()),
        T.StructField("base_file_path", T.StringType()),
    ]
)


class AuditLogger:
    """Append-only audit log over a path-backed table and/or a JDBC
    target.

    The reference appends its audit/DQ facts to SQL Server
    (audit/utils.py:7-29 ``sql_server_write``; ~12 call sites in
    reference/di_landing_to_raw_generic_v2.py:115-127). Pass
    ``jdbc_url`` (+ ``jdbc_table``/``jdbc_options``, e.g. the driver
    class) to mirror every audit row to the external DB; ``path=None``
    makes the logger JDBC-only. Both writes are control-plane sized
    (one row per operation)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str | None,
        job_id: str = "",
        jdbc_url: str | None = None,
        jdbc_table: str = "audit_log",
        jdbc_options: dict[str, str] | None = None,
    ):
        if path is None and jdbc_url is None:
            raise ValueError("AuditLogger needs a path and/or a jdbc_url")
        self.spark = spark
        self.table = ParquetTable(spark, path) if path else None
        self.job_id = job_id
        self.jdbc_url = jdbc_url
        self.jdbc_table = jdbc_table
        self.jdbc_options = jdbc_options or {}

    def log(
        self,
        table_name: str,
        operation: str,
        info: dict | None = None,
        base_file_path: str = "",
    ) -> None:
        """One audit row per operation (audit/auditlogs.py:16-24).
        ``info`` is JSON-serialized into ``audit_info``;
        ``audit_timestamp`` is the driver's clock at the call. The table
        write is ``ParquetTable.append_rows``: one parquet file written
        on the driver plus a commit record, so logging starts no Spark
        job. A table that path refuses (write-time rules such as
        constraints, or a schema other than ``AUDIT_SCHEMA``) takes the
        row through ``ParquetTable.append`` instead. The JDBC mirror
        writes the same row as a ``local_frame`` (a JVM
        ``LocalRelation``, no Python worker)."""
        row = (
            table_name,
            operation,
            dt.datetime.now(dt.timezone.utc),
            getpass.getuser(),
            json.dumps(info or {}, sort_keys=True, default=str),
            self.job_id,
            base_file_path,
        )
        if self.table is not None:
            try:
                self.table.append_rows([row], AUDIT_SCHEMA)
            except AppendRowsRefused:
                # a table with write-time rules or another schema takes
                # the row through Spark, as every write did before
                self.table.append(local_frame(self.spark, [row], AUDIT_SCHEMA))
        if self.jdbc_url is not None:
            from data_ingestion_framework_spark.sources.batch import write_jdbc

            write_jdbc(
                local_frame(self.spark, [row], AUDIT_SCHEMA),
                self.jdbc_url,
                self.jdbc_table,
                mode="append",
                options=self.jdbc_options,
            )

    def read(self) -> DataFrame:
        if self.table is not None:
            return self.table.read()
        from data_ingestion_framework_spark.sources.batch import read_jdbc

        return read_jdbc(
            self.spark, self.jdbc_url, self.jdbc_table, options=self.jdbc_options
        )


def merge_stats(change_frame: DataFrame) -> dict[str, int]:
    """Insert/update/delete/unchanged counts from a ``find_delta``
    classification frame — the engine's replacement for Delta
    operationMetrics (di_landing_to_raw_generic_v2.py:826-891).
    One aggregation job."""
    rows = change_frame.groupBy("change_type").count().collect()
    counts = {r["change_type"]: r["count"] for r in rows}
    return {
        "num_inserted": counts.get("insert", 0),
        "num_updated": counts.get("update", 0),
        "num_deleted": counts.get("delete", 0),
        "num_unchanged": counts.get("unchanged", 0),
    }


def reconcile_counts(df: DataFrame, expected: int, label: str = "") -> None:
    """Count-reconciliation assertion
    (Raw-To-Curated-Material_Dim.py:188-196): raises on mismatch."""
    actual = df.count()
    if actual != expected:
        raise AssertionError(
            f"count reconciliation failed{f' [{label}]' if label else ''}: "
            f"expected {expected}, got {actual}"
        )
