"""``registry.load``'s per-session plan-handle memo: entries are
per session, the memoized plan is the uncached plan, and a table whose
files change is re-listed instead of served from a frozen file index."""

from __future__ import annotations

import re

from data_ingestion_framework_spark import registry


def _plan(df) -> str:
    # expression ids differ between two reads of the same files
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def _write(spark, path, lo, hi, mode="overwrite"):
    spark.range(lo, hi).selectExpr(
        "id", "timestamp_micros(id * 1000000) AS ts"
    ).write.mode(mode).parquet(path)


def test_load_memo_is_per_session(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, f"{sf}/events.parquet", 0, 3)
    other = spark.newSession()
    a = registry.load(spark, sf, "events")
    assert registry.load(spark, sf, "events") is a  # memo hit
    b = registry.load(other, sf, "events")
    assert b is not a and b.sparkSession is other
    assert registry.load(other, sf, "events") is b
    assert spark._difs_load_cache is not other._difs_load_cache


def test_memoized_plan_equals_uncached_plan(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, f"{sf}/events.parquet", 0, 3)
    _write(spark, f"{sf}/orders.parquet", 0, 3)
    for name in ("events", "orders"):
        registry.load(spark, sf, name)
        memo = registry.load(spark, sf, name)
        fresh = registry._load_uncached(spark, sf, name)
        assert memo.schema == fresh.schema
        assert _plan(memo) == _plan(fresh)
    assert dict(registry.load(spark, sf, "events").dtypes)["ts"] == "timestamp"


def test_load_sees_appended_rows(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    _write(spark, path, 0, 3)
    df = registry.load(spark, sf, "orders")
    assert df.count() == 3
    assert df.count() == 3  # a second action re-runs the scan
    _write(spark, path, 10, 11, mode="append")
    assert registry.load(spark, sf, "orders").count() == 4


def test_rewritten_directory_is_not_served_stale(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    _write(spark, path, 0, 3)
    assert registry.load(spark, sf, "orders").count() == 3
    _write(spark, path, 100, 105)  # every file replaced
    got = sorted(r["id"] for r in registry.load(spark, sf, "orders").collect())
    assert got == [100, 101, 102, 103, 104]
    # a single-file table re-written in place is re-read as well
    single = f"{sf}/nation.parquet"
    spark.range(2).toPandas().to_parquet(single)
    assert registry.load(spark, sf, "nation").count() == 2
    spark.range(5).toPandas().to_parquet(single)
    assert registry.load(spark, sf, "nation").count() == 5


def test_non_local_path_is_not_memoized(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, f"{sf}/orders.parquet", 0, 3)
    uri = f"file://{sf}"
    a = registry.load(spark, uri, "orders")
    assert a.count() == 3
    assert registry.load(spark, uri, "orders") is not a
