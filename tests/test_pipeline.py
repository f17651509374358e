"""End-to-end medallion pipeline tests: config row → PipelineBuilder →
bronze append + silver SCD merge, with transforms, DQ and audit."""

from __future__ import annotations

import json

from pyspark.sql import Row

from data_ingestion_framework_spark.config import PipelineConfig, load_enabled_configs
from data_ingestion_framework_spark.plans import PipelineBuilder
from data_ingestion_framework_spark.sources.tablestore import ParquetTable


def _landing(spark, path, rows):
    spark.createDataFrame(rows, "pk int, val string, amt double").coalesce(
        1
    ).write.mode("append").parquet(str(path))
    return str(path)


def _config_row(landing, tmp_path, streaming=False):
    return {
        "data_product_name": "test_dp",
        "table_name": "t1",
        "pkeys": "pk",
        "source_filepath": landing,
        "source_data_type": "parquet",
        "source_orderBy_column": "file_modification_time",
        "streaming": str(streaming),
        "cast_column": json.dumps({"amt": "decimal(12,2)"}),
        "transformations": json.dumps(
            [{"type": "with_column", "column": "amt_x2", "expr": "amt * 2"}]
        ),
        "run_dq_rules": "True",
        "dq_config": json.dumps(
            {"rules": [{"rule_id": "r_null_val", "rule_type": "null_check", "column": "val"}]}
        ),
        "audit_write": "True",
        "audit_config": json.dumps({"audit_table_path": f"{tmp_path}/audit"}),
        "writes": json.dumps(
            [
                {
                    "table_medallion_layer": "bronze",
                    "path": f"{tmp_path}/bronze",
                    "mode": "append",
                },
                {
                    "table_medallion_layer": "silver",
                    "path": f"{tmp_path}/silver",
                    "mode": "merge",
                    "scd_type": 2,
                },
            ]
        ),
        "is_table_enabled": "True",
    }


def test_config_from_row_parsing(tmp_path):
    cfg = PipelineConfig.from_row(_config_row("/x", tmp_path))
    assert cfg.pkeys == ["pk"]
    assert cfg.cast_column == {"amt": "decimal(12,2)"}
    assert len(cfg.writes) == 2
    assert cfg.writes[1].scd_type == 2
    assert cfg.dq_rules[0]["rule_id"] == "r_null_val"


def test_run_medallion_end_to_end(spark, tmp_path):
    landing = _landing(
        spark, tmp_path / "landing", [Row(pk=1, val="a", amt=1.5), Row(pk=2, val="b", amt=2.5)]
    )
    cfg = PipelineConfig.from_row(_config_row(landing, tmp_path))
    pb = PipelineBuilder(spark, cfg)
    pb.run_medallion()

    bronze = spark.read.parquet(f"{tmp_path}/bronze")
    assert bronze.count() == 2 and "row_creation_time" in bronze.columns

    silver = spark.read.parquet(f"{tmp_path}/silver")
    rows = {r["pk"]: r for r in silver.collect()}
    assert set(rows) == {1, 2}
    assert str(rows[1]["amt"]) == "1.50"  # cast applied
    assert rows[1]["amt_x2"] is not None  # transform applied
    assert rows[1]["data_quality_valid_flag"] is True  # DQ applied
    assert all(r["is_current"] == 1 for r in rows.values())

    audit = spark.read.parquet(f"{tmp_path}/audit")
    ops = {r["audit_operation"] for r in audit.collect()}
    assert {"append", "merge"} <= ops

    # second run: pk1 changes → SCD2 history row appears
    _landing(spark, tmp_path / "landing", [Row(pk=1, val="a2", amt=9.0)])
    pb2 = PipelineBuilder(spark, PipelineConfig.from_row(_config_row(landing, tmp_path)))
    pb2.run_medallion()
    silver = spark.read.parquet(f"{tmp_path}/silver")
    pk1 = [r for r in silver.collect() if r["pk"] == 1]
    assert sorted((r["val"], r["is_current"]) for r in pk1) == [("a", 0), ("a2", 1)]


def test_medallion_cursor_survives_non_utc_session_tz(spark, tmp_path):
    """The bronze→silver cursor must come from Spark's clock: with
    session tz America/Los_Angeles a naive driver-side UTC datetime
    would be interpreted 7-8h in the future and the silver slice would
    silently select zero rows."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        landing = _landing(
            spark, tmp_path / "landing_tz", [Row(pk=1, val="a", amt=1.0)]
        )
        row = _config_row(landing, tmp_path)
        row["writes"] = json.dumps(
            [
                {"table_medallion_layer": "bronze", "path": f"{tmp_path}/bronze_tz",
                 "mode": "append"},
                {"table_medallion_layer": "silver", "path": f"{tmp_path}/silver_tz",
                 "mode": "merge", "scd_type": 1},
            ]
        )
        row["audit_write"] = "False"
        PipelineBuilder(spark, PipelineConfig.from_row(row)).run_medallion()
        assert spark.read.parquet(f"{tmp_path}/silver_tz").count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_streaming_bronze_cursor_survives_non_utc_session_tz(spark, tmp_path):
    """Streaming bronze has no commit cursor, so silver slices bronze by
    the run's ``row_creation_time`` clock cursor (taken only for a
    streaming config). Under a non-UTC session time zone the slice must
    still select this run's rows, and only them."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        landing = _landing(
            spark, tmp_path / "landing_stz", [Row(pk=1, val="a", amt=1.0)]
        )
        row = _config_row(landing, tmp_path, streaming=True)
        row["writes"] = json.dumps(
            [
                {"table_medallion_layer": "bronze", "path": f"{tmp_path}/bronze_stz",
                 "mode": "append", "checkpointLocation": f"{tmp_path}/ckpt_stz"},
                {"table_medallion_layer": "silver", "path": f"{tmp_path}/silver_stz",
                 "mode": "merge", "scd_type": 2},
            ]
        )
        row["audit_write"] = "False"
        pb = PipelineBuilder(spark, PipelineConfig.from_row(row))
        pb.run_medallion()
        assert pb.bronze_row_creation_time is not None
        silver = spark.read.parquet(f"{tmp_path}/silver_stz")
        assert [(r["pk"], r["val"]) for r in silver.collect()] == [(1, "a")]

        _landing(spark, tmp_path / "landing_stz", [Row(pk=2, val="b", amt=2.0)])
        PipelineBuilder(spark, PipelineConfig.from_row(row)).run_medallion()
        # a full extract: pk 1 is soft-deleted because this run's slice
        # holds pk 2 alone — an empty slice would miss pk 2, an unsliced
        # read would keep pk 1 current
        silver = spark.read.parquet(f"{tmp_path}/silver_stz")
        assert sorted((r["pk"], r["val"], r["is_current"]) for r in silver.collect()) == [
            (1, "a", 0), (2, "b", 1)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_audit_log_launches_no_spark_job(spark, tmp_path, launched_jobs):
    """``AuditLogger.log`` writes its row on the driver
    (``ParquetTable.append_rows``): no Spark job, on a fresh table or
    an existing one, and the rows read back as logged."""
    from data_ingestion_framework_spark.sinks.audit import AuditLogger

    log = AuditLogger(spark, str(tmp_path / "audit"), job_id="job-1")
    with launched_jobs() as ids:
        log.log("orders", "append", {"layer": "bronze"})
        log.log("orders", "merge", {"layer": "silver"})
    assert ids == []
    rows = sorted(log.read().collect(), key=lambda r: r["audit_operation"])
    assert [(r["audit_operation"], r["audit_info"], r["job_id"]) for r in rows] == [
        ("append", '{"layer": "bronze"}', "job-1"),
        ("merge", '{"layer": "silver"}', "job-1"),
    ]
    assert all(r["audit_timestamp"] is not None for r in rows)


def test_batch_medallion_run_job_budget(spark, tmp_path, launched_jobs):
    """A steady batch-bronze ``run_medallion`` (bronze append, SCD2
    silver merge, DQ, two audit rows) launches at most 5 Spark jobs:
    the landing footer read, the bronze write, and the merge's batch-key
    broadcast, key shuffle and write. No clock-cursor job, no audit
    write job."""
    landing = _landing(
        spark, tmp_path / "landing_jb", [Row(pk=1, val="a", amt=1.0), Row(pk=2, val="b", amt=2.0)]
    )
    PipelineBuilder(spark, PipelineConfig.from_row(_config_row(landing, tmp_path))).run_medallion()
    _landing(spark, tmp_path / "landing_jb", [Row(pk=1, val="a2", amt=3.0), Row(pk=3, val="c", amt=4.0)])
    pb = PipelineBuilder(spark, PipelineConfig.from_row(_config_row(landing, tmp_path)))
    with launched_jobs() as ids:
        pb.run_medallion()
    assert len(ids) <= 5, ids
    assert pb.bronze_row_creation_time is None
    silver = spark.read.parquet(f"{tmp_path}/silver").collect()
    # the batch source re-reads the whole landing dir, so pk 2 stays
    # current and pk 1's first file is a replay
    assert sorted((r["pk"], r["val"], r["is_current"]) for r in silver) == [
        (1, "a", 0), (1, "a2", 1), (2, "b", 1), (3, "c", 1)
    ]


def test_streaming_merge_pipeline(spark, tmp_path):
    landing = _landing(
        spark, tmp_path / "landing", [Row(pk=1, val="a", amt=1.0), Row(pk=2, val="b", amt=2.0)]
    )
    row = _config_row(landing, tmp_path, streaming=True)
    row["writes"] = json.dumps(
        [
            {
                "table_medallion_layer": "silver",
                "path": f"{tmp_path}/silver_s",
                "mode": "merge",
                "scd_type": 1,
                "checkpointLocation": f"{tmp_path}/ckpt_s",
            }
        ]
    )
    cfg = PipelineConfig.from_row(row)
    pb = PipelineBuilder(spark, cfg)
    pb.run_streaming_merge(cfg.writes[0])
    got = {r["pk"]: r["val"] for r in spark.read.parquet(f"{tmp_path}/silver_s").collect()}
    assert got == {1: "a", 2: "b"}

    # incremental file + rerun: upsert applies, checkpoint skips old files
    _landing(spark, tmp_path / "landing", [Row(pk=1, val="a2", amt=3.0)])
    pb.run_streaming_merge(cfg.writes[0])
    got = {r["pk"]: r["val"] for r in spark.read.parquet(f"{tmp_path}/silver_s").collect()}
    assert got == {1: "a2", 2: "b"}


def test_mark_initial_completed_write_back(spark, tmp_path):
    from data_ingestion_framework_spark.config import mark_initial_completed

    import pandas as pd

    rows = [
        {"data_product_name": "dp", "table_name": "a", "is_initial_completed": "False"},
        {"data_product_name": "dp", "table_name": "b", "is_initial_completed": "False"},
    ]
    path = f"{tmp_path}/cfg_wb"
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(path)
    mark_initial_completed(spark, path, "a")
    got = {r["table_name"]: r["is_initial_completed"]
           for r in spark.read.parquet(path).collect()}
    assert got == {"a": "True", "b": "False"}
    # idempotent re-run
    mark_initial_completed(spark, path, "a")
    got = {r["table_name"]: r["is_initial_completed"]
           for r in spark.read.parquet(path).collect()}
    assert got == {"a": "True", "b": "False"}


def test_load_enabled_configs(spark, tmp_path):
    rows = [
        {"data_product_name": "dp", "table_name": "a", "is_table_enabled": "True",
         "source_filepath": "/x", "pkeys": "k",
         "writes": json.dumps([{"path": "/t", "mode": "merge"}])},
        {"data_product_name": "dp", "table_name": "b", "is_table_enabled": "False",
         "source_filepath": "/y", "pkeys": "k", "writes": "[]"},
    ]
    import pandas as pd

    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(f"{tmp_path}/cfg")
    cfgs = load_enabled_configs(spark, f"{tmp_path}/cfg", "dp")
    assert [c.table_name for c in cfgs] == ["a"]


def test_multi_bronze_cursor_is_per_table(spark, tmp_path):
    """With TWO bronze writes the silver cursor must be the FIRST
    bronze table's pre-append seq. A single scalar cursor records the
    LAST table's seq and applies it to the first table's commit log —
    once their histories diverge that either raises or slices the
    wrong file set (silver re-processing or dropping rows)."""
    landing = _landing(spark, tmp_path / "landing_mb", [Row(pk=1, val="a", amt=1.0)])
    row = _config_row(landing, tmp_path)
    row["writes"] = json.dumps(
        [
            {"table_medallion_layer": "bronze", "path": f"{tmp_path}/bronze_a", "mode": "append"},
            {"table_medallion_layer": "bronze", "path": f"{tmp_path}/bronze_b", "mode": "append"},
            {"table_medallion_layer": "silver", "path": f"{tmp_path}/silver_mb",
             "mode": "merge", "scd_type": 1},
        ]
    )
    row["audit_write"] = "False"
    PipelineBuilder(spark, PipelineConfig.from_row(row)).run_medallion()
    assert spark.read.parquet(f"{tmp_path}/silver_mb").count() == 1

    # desync the two bronze histories: bronze_b gains an extra commit,
    # so its seq no longer equals bronze_a's
    tb = ParquetTable(spark, f"{tmp_path}/bronze_b")
    tb.append(tb.read())

    _landing(spark, tmp_path / "landing_mb", [Row(pk=2, val="b", amt=2.0)])
    PipelineBuilder(spark, PipelineConfig.from_row(row)).run_medallion()
    silver = {r["pk"]: r["val"] for r in spark.read.parquet(f"{tmp_path}/silver_mb").collect()}
    assert silver == {1: "a", 2: "b"}  # exactly this run's delta merged


def test_catalog_name_addressing(spark, tmp_path):
    """catalog.schema.table and database.table write targets resolve
    under the session warehouse (utils/config_handler.py:101-117);
    register_in_metastore makes spark.table('db.table') work; the
    catalog+database combination is rejected like the reference."""
    import pytest as _pytest

    from data_ingestion_framework_spark.config import (
        WriteConfig,
        resolve_table_path,
        warehouse_dir,
    )

    wh = warehouse_dir(spark)
    w3 = WriteConfig.from_dict(
        {"catalog": "main", "schema": "silver", "table": "cust", "mode": "append"}
    )
    assert w3.target_name() == "main.silver.cust"
    assert w3.resolve_path(spark) == f"{wh}/main/silver/cust"

    w2 = WriteConfig.from_dict(
        {"target_database": "lake_db", "table": "cust2", "mode": "append",
         "register_in_metastore": "true"}
    )
    assert w2.resolve_path(spark) == resolve_table_path("lake_db.cust2", wh)

    with _pytest.raises(ValueError):
        WriteConfig.from_dict({"catalog": "c", "target_database": "d", "table": "t"})

    # end-to-end: a pipeline writing to both name forms
    landing = _landing(
        spark, tmp_path / "landing_cat", [Row(pk=1, val="a", amt=1.0)]
    )
    row = _config_row(landing, tmp_path)
    row["writes"] = json.dumps(
        [
            {"table_medallion_layer": "bronze", "path": f"{tmp_path}/bronze_cat",
             "mode": "append"},
            {"table_medallion_layer": "silver", "catalog": "main",
             "schema": "silver", "table": "cust", "mode": "merge", "scd_type": 1},
            {"table_medallion_layer": "silver", "target_database": "lake_db",
             "table": "cust2", "mode": "merge", "scd_type": 1,
             "register_in_metastore": "true"},
        ]
    )
    row["audit_write"] = "False"
    try:
        PipelineBuilder(spark, PipelineConfig.from_row(row)).run_medallion()
        assert spark.read.parquet(f"{wh}/main/silver/cust").count() == 1
        assert spark.read.parquet(f"{wh}/lake_db/cust2").count() == 1
        # saveAsTable parity: the 2-level name is queryable by name
        assert spark.table("lake_db.cust2").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS lake_db.cust2")
        spark.sql("DROP DATABASE IF EXISTS lake_db")
        import shutil

        shutil.rmtree(f"{wh}/main", ignore_errors=True)
        shutil.rmtree(f"{wh}/lake_db", ignore_errors=True)


def test_quality_weighted_sample_monotone_and_deterministic(spark):
    """Higher weight ⊇ never loses rows kept at lower weight for the
    same salt (thresholds scale monotonically), zero weight keeps
    nothing, weight 1.0 equals deterministic_sample at the base rate."""
    from data_ingestion_framework_spark.operators.sampling import (
        deterministic_sample,
        quality_weighted_sample,
    )
    from pyspark.sql import functions as F

    df = spark.range(2000).selectExpr("id AS doc_id")
    lo = df.withColumn("w", F.lit(0.3))
    hi = df.withColumn("w", F.lit(0.9))
    kept_lo = {r["doc_id"] for r in quality_weighted_sample(lo, "w", 0.5, salt="s").collect()}
    kept_hi = {r["doc_id"] for r in quality_weighted_sample(hi, "w", 0.5, salt="s").collect()}
    assert kept_lo <= kept_hi
    assert 0 < len(kept_lo) < len(kept_hi) < 2000
    zero = df.withColumn("w", F.lit(0.0))
    assert quality_weighted_sample(zero, "w", 0.5, salt="s").count() == 0
    one = df.withColumn("w", F.lit(1.0))
    got = {r["doc_id"] for r in quality_weighted_sample(one, "w", 0.5, salt="s").collect()}
    want = {r["doc_id"] for r in deterministic_sample(df, 0.5, salt="s").collect()}
    # same md5 bucket space; integer-exact threshold derivations agree
    assert got == want


def test_corpus_pipeline_graded_gates(spark):
    """The curated knobs: graded decontamination keeps a long doc with
    one incidental benchmark quote (any-hit drops it), the badword
    gate drops high-fraction docs."""
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.plans.corpus import corpus_pipeline

    quote = "the exact thirteen word answer string that sits in the eval benchmark set"
    filler = " ".join(f"w{i}" for i in range(300))
    docs = spark.createDataFrame(
        [
            (1, f"{quote} {filler}", "s"),          # 1 bad gram in 300+ -> keep graded
            (2, f"{quote} one two three four five six seven eight nine ten", "s"),  # mostly quote -> drop
            (3, "clean bad bad bad text " + filler, "s"),   # badword-heavy? frac small
            (4, ("bad " * 20) + "x y z a b c d e f g h i j k l", "s"),  # badword frac high
            (5, "plain ordinary document " + filler, "s"),
        ],
        "doc_id bigint, text string, source string",
    )
    bench = spark.createDataFrame([(99, quote)], "doc_id bigint, text string")

    graded = corpus_pipeline(
        docs, bench, min_words=5,
        badwords=["bad"], badword_max_fraction=0.1,
        contamination_threshold=0.05,
    )
    kept = sorted(r["doc_id"] for r in graded.collect())
    assert 1 in kept          # graded: 1 shared gram / ~300 = 0.003 < 0.05
    assert 2 not in kept      # 1 shared / 11 grams = 0.09 >= 0.05 -> dropped
    assert 3 in kept          # 3/300 bad tokens < 10%
    assert 4 not in kept      # 20/35 bad tokens -> dropped
    assert 5 in kept

    anyhit = corpus_pipeline(docs, bench, min_words=5)
    kept_any = sorted(r["doc_id"] for r in anyhit.collect())
    assert 1 not in kept_any  # any-hit drops the incidental quote
