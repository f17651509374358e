"""``ParquetTable.append_rows``: driver-written parquet appends.

Pinned here: read-back value identity with ``append(local_frame(...))``
across timestamp, timestamp_ntz, decimal, NULL and nested columns; the
logged schema string byte-identical to a Spark write's; non-nullable
rows fitting nullable table columns without changing the logged
schema; every refusal rule raising before any file or commit lands,
and the refusal list covering every property ``append`` applies; and
an audit table reading on after arrow appends when it already holds
Spark-written files, after a rewrite, and (through the logger's
fallback to ``append``) when it has a rule the driver path refuses."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_framework_spark.session import local_frame
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

SCHEMA = (
    "i int, ts timestamp, ntz timestamp_ntz, d decimal(38,6), s string, "
    "arr array<bigint>, st struct<a:int,b:string>, m map<string,bigint>, "
    "day date, ok boolean"
)
ROWS = [
    (
        1,
        dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
        dt.datetime(1970, 1, 1, 0, 0, 1),
        Decimal("-12345678901234567890123456789012.123456"),
        "héllo",
        [1, None, 2**62],
        (7, None),
        {"k": None, "j": -1},
        dt.date(1, 1, 1),
        False,
    ),
    (2, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), None, Decimal("0.000001"),
     "", [], (None, "x"), {}, dt.date(2024, 2, 29), True),
    (3,) + (None,) * 9,
]


def _rows(table: ParquetTable, order_by: str) -> list:
    return [r.asDict(recursive=True) for r in table.read().orderBy(order_by).collect()]


def test_append_rows_reads_back_like_a_spark_append(spark, tmp_path):
    arrow = ParquetTable(spark, str(tmp_path / "arrow"))
    sparkw = ParquetTable(spark, str(tmp_path / "spark"))
    for rows in (ROWS[:2], ROWS[2:]):  # create, then append to an existing table
        arrow.append_rows(rows, SCHEMA)
        sparkw.append(local_frame(spark, rows, SCHEMA))
    assert arrow.read().schema == sparkw.read().schema
    assert _rows(arrow, "i") == _rows(sparkw, "i")
    # the same rows under an inferred schema too (no logged schema used)
    inferred = spark.read.parquet(arrow.path)
    assert inferred.schema == spark.read.parquet(sparkw.path).schema
    # byte-identical logged schema strings, and footer-counted rows
    for a, s in zip(arrow.history(), sparkw.history()):
        assert a["schema"] == s["schema"]
        assert a["rows_written"] == s["rows_written"]
    assert arrow.count_rows() == 3


def test_append_rows_logs_the_spark_schema_string(spark, tmp_path):
    """Field metadata, non-nullable and nested nullability survive into
    the footer key exactly as Spark writes it."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False, {"comment": "key"}),
            T.StructField("v", T.ArrayType(T.StringType(), False)),
            T.StructField(
                "m", T.MapType(T.StringType(), T.DecimalType(10, 2), False)
            ),
        ]
    )
    rows = [(1, ["a"], {"x": Decimal("1.50")})]
    arrow = ParquetTable(spark, str(tmp_path / "arrow"))
    sparkw = ParquetTable(spark, str(tmp_path / "spark"))
    arrow.append_rows(rows, schema)
    sparkw.append(local_frame(spark, rows, schema))
    assert arrow.last_commit()["schema"] == sparkw.last_commit()["schema"]
    assert _rows(arrow, "k") == _rows(sparkw, "k")


#: case -> (setup(table) run after one Spark-written append of
#: ``(k int, v string)``, the schema append_rows is then called with);
#: "partitioned" partitions that append by ``v``
_BASE = "k int, v string"
_REFUSALS = {
    "partitioned": (lambda t: None, _BASE),
    "constraint": (lambda t: t.add_check_constraint("pos", "k > 0"), _BASE),
    "identity": (lambda t: t.add_identity_column("id"), _BASE),
    "generated": (lambda t: t.add_generated_column("g", "k * 2"), _BASE),
    "column_default": (lambda t: t.set_column_default("v", "z"), _BASE),
    "added_column": (lambda t: t.add_column("extra", "string"), _BASE),
    "column_mapping": (lambda t: t.rename_column("v", "w"), _BASE),
    "widened": (
        lambda t: t.append(
            t.spark.createDataFrame([(2, "b")], "k bigint, v string"),
            merge_schema=True,
        ),
        "k bigint, v string",
    ),
    "other_type": (lambda t: None, "k bigint, v string"),
    "other_order": (lambda t: None, "v string, k int"),
    "extra_column": (lambda t: None, "k int, v string, x int"),
    # a nullable column for one the table logs as non-nullable
    "nullability": (
        lambda t: t.overwrite(t.spark.createDataFrame([(1, "a")], "k int not null, v string")),
        _BASE,
    ),
}


@pytest.mark.parametrize("case", sorted(_REFUSALS))
def test_append_rows_refusals_write_nothing(spark, tmp_path, case):
    setup, schema = _REFUSALS[case]
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, ["v"] if case == "partitioned" else None)
    t.append(spark.createDataFrame([(1, "a")], _BASE))
    setup(t)
    t = ParquetTable(spark, path)
    files, hist = t.file_count(), len(t.history())
    rows = {"other_order": [("e", 5)], "extra_column": [(5, "e", 1)]}
    with pytest.raises(ValueError, match="append_rows"):
        t.append_rows(rows.get(case, [(5, "e")]), schema)
    assert (t.file_count(), len(t.history())) == (files, hist)


def test_append_rows_takes_non_nullable_rows_into_a_nullable_table(spark, tmp_path):
    """A non-nullable rows column fits the table's nullable one; the
    file's footer carries the table's logged schema, so the log does
    not flip to the rows' nullability."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, ["a"])], "k int, v array<string>"))
    logged, files = t.last_commit()["schema"], t.file_count()
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.ArrayType(T.StringType(), False), False),
        ]
    )
    t.append_rows([(2, ["b"])], schema)
    assert t.last_commit()["schema"] == logged
    assert t.file_count() == files + 1
    assert _rows(t, "k") == [{"k": 1, "v": ["a"]}, {"k": 2, "v": ["b"]}]


class _ReadKeys(dict):
    """A properties dict that records every key looked up in it."""

    def __init__(self, props, seen):
        super().__init__(props)
        self.seen = seen

    def get(self, key, default=None):
        self.seen.add(key)
        return super().get(key, default)

    def __getitem__(self, key):
        self.seen.add(key)
        return super().__getitem__(key)

    def __contains__(self, key):
        self.seen.add(key)
        return super().__contains__(key)


def test_append_reads_no_write_rule_append_rows_lacks(spark, tmp_path, monkeypatch):
    """A table property ``append`` reads while ``append_rows`` and
    ``read`` do not is a write-time rule: it must be one of
    ``_SPARK_WRITE_RULES``, which ``append_rows`` refuses, or driver
    rows would skip it."""
    seen: set = set()
    props = ParquetTable.properties
    monkeypatch.setattr(ParquetTable, "properties", lambda self: _ReadKeys(props(self), seen))
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], _BASE))

    def keys(fn) -> set:
        seen.clear()
        fn()
        return set(seen)

    by_append = keys(lambda: t.append(spark.createDataFrame([(2, "b")], _BASE)))
    by_rows = keys(lambda: t.append_rows([(3, "c")], _BASE))
    by_read = keys(lambda: t.read().collect())
    assert "column_defaults" in by_append  # the recording sees append's reads
    assert by_append - by_rows - by_read <= set(ParquetTable._SPARK_WRITE_RULES)


def test_append_rows_refuses_null_in_non_nullable_column(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.IntegerType(), False)])
    t = ParquetTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="non-nullable"):
        t.append_rows([(None,)], schema)
    assert t.history() == [] and not t.exists()


def test_audit_table_with_spark_files_reads_on_after_arrow_appends(spark, tmp_path):
    """An audit table the previous logger wrote through Spark (a
    LocalRelation row stamped with ``current_timestamp()``) takes driver
    appends under ``AUDIT_SCHEMA`` and reads back every row."""
    from data_ingestion_framework_spark.sinks.audit import AUDIT_SCHEMA, AuditLogger

    path = str(tmp_path / "audit")
    nullable_ts = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in AUDIT_SCHEMA.fields]
    )
    old_row = ("orders", "append", None, "u", '{"layer": "bronze"}', "job-0", "")
    ParquetTable(spark, path).append(
        local_frame(spark, [old_row], nullable_ts).withColumn(
            "audit_timestamp", F.current_timestamp()
        )
    )
    logged = ParquetTable(spark, path).last_commit()["schema"]

    log = AuditLogger(spark, path, job_id="job-1")
    log.log("orders", "merge", {"layer": "silver"})
    log.log("orders", "append", {"layer": "bronze"})
    table = ParquetTable(spark, path)
    assert table.last_commit()["schema"] == logged
    assert table.file_count() == 3
    got = sorted(
        (r["audit_operation"], r["job_id"], r["audit_timestamp"] is not None)
        for r in log.read().collect()
    )
    assert got == [
        ("append", "job-0", True),
        ("append", "job-1", True),
        ("merge", "job-1", True),
    ]
    # a plain directory read (footer inference) agrees
    assert spark.read.parquet(path).count() == 3


def test_audit_log_after_a_table_rewrite(spark, tmp_path):
    """A rewrite reads the audit files as nullable and logs
    ``audit_timestamp`` nullable; logging goes on through driver
    appends, and the logged schema stays the rewrite's."""
    from data_ingestion_framework_spark.sinks.audit import AuditLogger

    path = str(tmp_path / "audit")
    log = AuditLogger(spark, path, job_id="job-1")
    log.log("orders", "append", {"layer": "bronze"})
    table = ParquetTable(spark, path)
    table.append(log.read().limit(1).withColumn("job_id", F.lit("job-0")))
    table.compact(target_files=1)
    logged = table.last_commit()["schema"]
    assert T.StructType.fromJson(json.loads(logged))["audit_timestamp"].nullable
    log.log("orders", "merge", {"layer": "silver"})
    log.log("orders", "append", {"layer": "gold"})
    table = ParquetTable(spark, path)
    assert table.last_commit()["schema"] == logged
    assert table.file_count() == 3
    got = sorted(
        (r["job_id"], json.loads(r["audit_info"])["layer"], r["audit_timestamp"] is not None)
        for r in log.read().collect()
    )
    assert got == [
        ("job-0", "bronze", True),
        ("job-1", "bronze", True),
        ("job-1", "gold", True),
        ("job-1", "silver", True),
    ]


def test_audit_log_falls_back_to_spark_append_on_a_refused_table(spark, tmp_path):
    """An audit table with a write-time rule ``append_rows`` refuses
    (here a CHECK constraint) still takes every row, through
    ``ParquetTable.append``, which enforces the rule."""
    from data_ingestion_framework_spark.sinks.audit import AuditLogger

    path = str(tmp_path / "audit")
    log = AuditLogger(spark, path, job_id="job-1")
    log.log("orders", "append", {"layer": "bronze"})
    ParquetTable(spark, path).add_check_constraint("has_user", "audit_user IS NOT NULL")
    log.log("orders", "merge", {"layer": "silver"})
    assert sorted(r["audit_operation"] for r in log.read().collect()) == ["append", "merge"]
