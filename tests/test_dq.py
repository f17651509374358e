from __future__ import annotations

import pytest
from pyspark.sql import Row

from data_ingestion_framework_spark.operators import dq
from data_ingestion_framework_spark.sinks.audit import reconcile_counts


def test_row_local_rules(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, name="ok", bal=50.0, seg="A", phone="123", d="2024-01-01"),
            Row(id=2, name=None, bal=50.0, seg="A", phone="123", d="2024-01-01"),
            Row(id=3, name="ok", bal=99999.0, seg="Z", phone="123", d="2024-01-01"),
            Row(id=4, name="ok", bal=50.0, seg="A", phone="12345678901", d="nope"),
        ]
    )
    rules = [
        dq.DQRule("r_null", "null_check", column="name"),
        dq.DQRule(
            "r_range", "range_check", column="bal",
            operator="between", threshold_low=0.0, threshold_high=1000.0,
        ),
        dq.DQRule("r_vals", "valid_values_check", column="seg", valid_values=["A", "B"]),
        dq.DQRule("r_len", "string_fixed_length", column="phone", max_length=10),
        dq.DQRule("r_date", "date_format_check", column="d", expected_date_format="yyyy-MM-dd"),
    ]
    out = dq.apply_rules(df, rules)
    got = {r["id"]: sorted(r[dq.RESULT_ARRAY]) for r in out.collect()}
    assert got == {
        1: [],
        2: ["r_null"],
        3: ["r_range", "r_vals"],
        4: ["r_date", "r_len"],
    }
    valid = {r["id"]: r[dq.VALID_FLAG] for r in out.collect()}
    assert valid == {1: True, 2: False, 3: False, 4: False}


def test_orphan_and_unique_checks(spark):
    df = spark.createDataFrame(
        [Row(id=1, fk=10), Row(id=2, fk=99), Row(id=3, fk=10), Row(id=3, fk=11)]
    )
    fk_table = spark.createDataFrame([Row(k=10), Row(k=11)])
    rules = [
        dq.DQRule(
            "r_orphan", "orphan_check", column="fk",
            related_table="dim", related_column="k",
        ),
        dq.DQRule("r_uniq", "unique_check", column="id"),
    ]
    out = dq.apply_rules(df, rules, related={"dim": fk_table})
    counts = {
        r["rule_id"]: r["n_violations"]
        for r in dq.violation_counts(out, rules).collect()
    }
    assert counts == {"r_orphan": 1, "r_uniq": 2}


def test_datatype_and_special_char_checks(spark):
    df = spark.createDataFrame(
        [Row(id=1, v="123"), Row(id=2, v="abc"), Row(id=3, v="12x")]
    )
    rules = [
        dq.DQRule("r_dtype", "datatype_check", column="v", expected_datatype="int"),
        dq.DQRule("r_chars", "special_char_check", column="v", allowed_regex="[0-9]"),
    ]
    out = dq.apply_rules(df, rules)
    got = {r["id"]: sorted(r[dq.RESULT_ARRAY]) for r in out.collect()}
    assert got == {1: [], 2: ["r_chars", "r_dtype"], 3: ["r_chars", "r_dtype"]}


def test_quarantine_split(spark):
    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name=None)])
    out = dq.apply_rules(df, [dq.DQRule("r", "null_check", column="name")])
    good, bad = dq.quarantine_split(out)
    assert [r["id"] for r in good.collect()] == [1]
    assert [r["id"] for r in bad.collect()] == [2]


def test_freshness_check(spark):
    import datetime as dt

    from data_ingestion_framework_spark.operators.dq import freshness_check

    now = dt.datetime(2024, 1, 10, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10, 11, 30)), (2, dt.datetime(2024, 1, 9))],
        "pk int, ts timestamp",
    )
    fresh = freshness_check(df, "ts", max_age_seconds=3600, now=now)
    assert fresh["ok"] is True and fresh["lag_seconds"] == 1800
    stale = freshness_check(df, "ts", max_age_seconds=60, now=now)
    assert stale["ok"] is False
    empty = freshness_check(df.limit(0), "ts", 60, now=now)
    assert empty["ok"] is False and empty["max_ts"] is None


def test_row_count_drift_over_commit_log(spark, tmp_path):
    from pyspark.sql import Row

    from data_ingestion_framework_spark.operators.dq import row_count_drift
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "drift"))
    for n in (100, 110, 90):
        t.append(spark.createDataFrame([Row(pk=i) for i in range(n)]))
    ok = row_count_drift(t, tolerance=0.5)
    assert ok["ok"] is True and ok["median"] == 105

    # a 10x batch trips the gate
    t.append(spark.createDataFrame([Row(pk=i) for i in range(1000)]))
    bad = row_count_drift(t, tolerance=0.5)
    assert bad["ok"] is False and bad["latest"] == 1000


def test_zscore_outliers_flags_extreme_value(spark):
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.operators.dq import zscore_outliers

    rows = [(i, "g", 100) for i in range(20)] + [(99, "g", 1000), (50, "h", 7)]
    df = spark.createDataFrame(rows, "id int, grp string, v int")
    got = zscore_outliers(df, "v", ["grp"], threshold=2.0).collect()
    # only the 1000 in group g is an outlier; group h (n=1) emits none,
    # and the 20 identical values are not outliers of themselves
    assert [(r["id"], r["grp"]) for r in got] == [(99, "g")]
    assert got[0]["z"] > 4


def test_column_stats_and_table_analyze(spark, tmp_path):
    """ANALYZE parity: one-pass per-column stats (count/nulls/ndv/
    min/max, long form), exact vs sketch ndv, and ParquetTable.analyze
    persisting them in properties with an analyze commit + the seq
    they describe."""
    from pyspark.sql import Row

    from data_ingestion_framework_spark.operators.dq import column_stats
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    df = spark.createDataFrame(
        [
            Row(id=1, v=10.0, tag="a"),
            Row(id=2, v=None, tag="b"),
            Row(id=3, v=10.0, tag=None),
            Row(id=4, v=30.0, tag="a"),
        ]
    )
    got = {r["column"]: r for r in column_stats(df, exact=True).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_nulls"] == 0
    assert got["id"]["n_distinct"] == 4
    assert (got["id"]["min_value"], got["id"]["max_value"]) == ("1", "4")
    assert got["v"]["n_nulls"] == 1 and got["v"]["n_distinct"] == 2
    assert got["tag"]["n_nulls"] == 1 and got["tag"]["n_distinct"] == 2
    assert (got["tag"]["min_value"], got["tag"]["max_value"]) == ("a", "b")
    # sketch path returns the same schema (values approximate)
    approx = {r["column"]: r for r in column_stats(df, exact=False).collect()}
    assert set(approx) == set(got)

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df)
    data_seq = t.history()[-1]["seq"]
    stats = t.analyze()
    assert stats["id"]["n_distinct"] == 4
    props = t.properties()
    assert props["stats"]["v"]["n_nulls"] == 1
    assert props["analyzed_seq"] == data_seq
    last = t.history()[-1]
    assert last["op"] == "analyze" and last["metrics"]["exact"] is True
    # staleness: a later data commit outruns analyzed_seq
    t.append(df)
    assert t.history()[-1]["seq"] > t.properties()["analyzed_seq"]


def test_equi_depth_histogram_exact_semantics(spark):
    """Ties never split across buckets (a distinct value lands in ONE
    bucket by its end rank), NULLs are excluded, bucket populations
    are as equal as the tie structure allows, and bounds nest."""
    from data_ingestion_framework_spark.operators.dq import (
        equi_depth_histogram,
    )

    rows = [(v,) for v in [1] * 10 + [2] * 10 + [3] * 10 + [None]]
    df = spark.createDataFrame(rows, "k int")
    got = {
        r["bucket"]: (r["lo"], r["hi"], r["n_rows"], r["n_distinct"])
        for r in equi_depth_histogram(df, "k", buckets=3).collect()
    }
    # end ranks 10, 20, 30 -> buckets (10-1)*3//30=0, 1, 2
    assert got == {0: (1, 1, 10, 1), 1: (2, 2, 10, 1), 2: (3, 3, 10, 1)}
    # a dominant value swallows its whole bucket range
    rows = [(1,)] * 25 + [(9,)] * 5
    got = {
        r["bucket"]: (r["lo"], r["hi"], r["n_rows"])
        for r in equi_depth_histogram(
            spark.createDataFrame(rows, "k int"), "k", buckets=3
        ).collect()
    }
    # value 1's end rank is 25 -> bucket (25-1)*3//30 = 2; value 9's is
    # 30 -> bucket 2 as well: one bucket holds everything, no split
    assert got == {2: (1, 9, 30)}


def test_exact_percentiles_match_python_witness(spark):
    """Nearest-rank percentiles over the distributed prefix sum must
    equal the naive sorted-list witness — including duplicate-heavy
    data, the p100 edge, fraction validation and the empty frame."""
    import random

    from data_ingestion_framework_spark.operators.dq import exact_percentiles

    rng = random.Random(11)
    vals = [rng.randint(0, 50) for _ in range(997)] + [None] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    fr = [(1, 4), (1, 2), (3, 4), (99, 100), (1, 1)]
    got = {
        (r["p_num"], r["p_den"]): (r["rank"], r["value"], r["n_rows"])
        for r in exact_percentiles(df, "x", fr).collect()
    }
    clean = sorted(v for v in vals if v is not None)
    n = len(clean)
    for num, den in fr:
        r = max(1, (num * n + den - 1) // den)
        assert got[(num, den)] == (r, clean[r - 1], n), (num, den)
    # invalid fraction refused; empty input yields an empty frame
    try:
        exact_percentiles(df, "x", [(0, 4)])
        raise AssertionError("expected ValueError on fraction 0/4")
    except ValueError:
        pass
    empty = spark.createDataFrame([], "x int")
    assert exact_percentiles(empty, "x", [(1, 2)]).count() == 0


def test_custom_sql_rule_passes_only_on_zero_rows(spark):
    """``custom_sql`` (dq/dq.py:52-59): the rule's query selects the
    violating rows, so it passes iff that query returns none."""
    spark.createDataFrame(
        [Row(id=1, qty=5), Row(id=2, qty=-1), Row(id=3, qty=-7)]
    ).createOrReplaceTempView("dq_custom_sql_t")

    def passes(where: str) -> bool:
        sql = f"SELECT * FROM dq_custom_sql_t WHERE {where}"
        return dq.run_custom_sql_rule(spark, dq.DQRule("r_sql", "custom_sql", sql=sql))

    assert passes("qty > 100")  # 0 rows
    assert not passes("id = 2")  # 1 row
    assert not passes("qty < 0")  # 2 rows


def test_reconcile_counts_match_and_mismatch(spark):
    """Count reconciliation (Raw-To-Curated-Material_Dim.py:188-196):
    silent on a match, raises naming the label and both counts."""
    df = spark.range(3)
    reconcile_counts(df, 3, "silver")
    with pytest.raises(AssertionError, match=r"\[silver\]: expected 4, got 3"):
        reconcile_counts(df, 4, "silver")
    with pytest.raises(AssertionError, match="failed: expected 0, got 3"):
        reconcile_counts(df, 0)
