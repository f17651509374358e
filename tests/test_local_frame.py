"""``session.local_frame`` — driver-built rows as a JVM
``LocalRelation``. Pinned here: value identity with
``createDataFrame(<list>)`` for every schema the package builds
driver-side frames with, and no Python-RDD scan in the plans that
replaced it (the rank offsets)."""

from __future__ import annotations

import datetime
import os
import sys
from decimal import Decimal

import pytest
from pyspark.sql import Row

from data_ingestion_framework_spark.session import local_frame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (schema, rows) for each migrated call site, plus a type battery
_CASES = {
    "progress_ledger": (
        "query_id string, run_id string, batch_id bigint, ts string, "
        "num_input_rows bigint, batch_duration_ms bigint, "
        "state_rows_total bigint, sources string, backlog_commits bigint",
        [("q", "r", 3, "2024-01-01T00:00:00.000Z", 100, 25, 0, "[]", None)],
    ),
    "audit_row": (
        None,  # AUDIT_SCHEMA, filled in below
        [Row(table_name="t", audit_operation="append",
             audit_timestamp=datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc),
             audit_user="u", audit_info='{"layer": "bronze"}', job_id="j",
             base_file_path="")],
    ),
    "minmax_summary": (
        "n_rows bigint, min_key bigint, max_key bigint, "
        "min_price double, max_price double",
        [(10, 1, 99, 12.5, 99999.25)],
    ),
    "renamed_append": ("pk bigint, customer bigint, price double", [(900000001, 1, 42.5)]),
    "classifier_weights": ("bucket bigint, __w bigint", [(0, 5), (7, -3)]),
    "temperature_grid": ("tn int, td int", [(1, 2), (3, 4)]),
    "bpe_merges": (
        "step int, left string, right string, pair_freq bigint",
        [(1, "a", "b", 10), (2, "ab", "c", 4)],
    ),
    "substring_vocab": ("piece string, cost_units bigint", [("ab", 1), ("é", 2)]),
    "pruned_vocab": (
        "piece string, cost bigint, piece_count bigint", [("ab", 1, 3)]
    ),
    "partition_keys": ("p string, q string", [["1", "__HIVE_DEFAULT_PARTITION__"]]),
    "bloom_bitmap": ("bloom array<bigint>", [([0, -1, 2**62, None],)]),
    "rank_offsets": ("__pid int, __off bigint", [(0, 0), (1, 17)]),
    "quantile_targets": ("p_num int, p_den int, __r bigint", [(1, 2, 5)]),
    "ndcg_discounts": (
        "rank int, w decimal(14,12)", [(1, Decimal("1.000000000000")), (2, Decimal("0.630929753571"))]
    ),
    "ndcg_idcg_prefix": ("__n int, __idcg decimal(20,12)", [(2, Decimal("1.630929753571"))]),
    "describe_history": (
        "version long, timestamp double, operation string, rows_written long",
        [{"version": 1, "timestamp": 1.5, "operation": "create", "rows_written": 0}],
    ),
    "describe_detail": ("`location` string, `num_files` string", [{"location": "/t", "num_files": "3"}]),
    "partition_tuples": (
        "p int, d date, s string", [(1, datetime.date(2024, 2, 29), "007"), (None, None, None)]
    ),
    "mmr_picks": (
        "rank int, vec_id bigint, rel_units bigint, max_prev_sim_units bigint",
        [(1, 3, 999, 0)],
    ),
    "type_battery": (
        "d decimal(38,18), x double, f float, s string, b binary, dt date, "
        "ts timestamp, ntz timestamp_ntz, arr array<bigint>, "
        "m map<string,bigint>, st struct<a:int,b:string>, ok boolean, "
        "i tinyint",
        [
            (Decimal("-12345678901234567890.123456789012345678"), -0.0, 1.5,
             "héllo", b"\x00\xff", datetime.date(1, 1, 1),
             datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
             datetime.datetime(1970, 1, 1),
             [1, None], {"k": None}, (7, None), False, -128),
            (None,) * 13,
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    from data_ingestion_framework_spark.sinks.audit import AUDIT_SCHEMA

    schema, rows = _CASES[case]
    schema = schema or AUDIT_SCHEMA
    for data in (rows, []):
        got = local_frame(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan


def test_rank_offsets_are_a_local_relation(spark):
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.operators.rank import exact_cumulative_counts
    from tools.plan_audit import python_rdd_scans

    vals = spark.range(50).select((F.col("id") % 7).alias("v"), F.lit(1).alias("c"))
    ranked, total = exact_cumulative_counts(vals, "v", "c", "hi")
    assert total == 50
    assert python_rdd_scans(ranked._jdf.queryExecution().executedPlan()) == 0
