"""Partition-spec evolution (Iceberg ALTER TABLE ... PARTITION FIELD
parity; metadata-only): old files keep their layout, new writes use the
new one, scans/as_of/data-skipping read both, partition-scoped and
file-scoped statements refuse mixed tables until a rewrite converges
the layout."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_framework_spark.sources.tablestore import ParquetTable


def _rows(lo, hi):
    return [
        Row(k=i, status="E" if i % 2 == 0 else "O", pri=i % 3, v=float(i))
        for i in range(lo, hi)
    ]


@pytest.fixture
def evolved(spark, tmp_path):
    """A table written under spec [status], evolved to [pri], with one
    append in each era."""
    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["status"])
    t.overwrite(spark.createDataFrame(_rows(0, 20)))
    t.evolve_partition_spec(["pri"])
    t.append(spark.createDataFrame(_rows(20, 30)))
    return t


def test_mixed_era_read_unions_both_layouts(spark, evolved):
    got = {r["k"]: (r["status"], r["pri"], r["v"]) for r in evolved.read().collect()}
    assert got == {
        i: ("E" if i % 2 == 0 else "O", i % 3, float(i)) for i in range(30)
    }
    # old files really are under status=, new under pri=
    rels = evolved._data_files()
    assert any(r.startswith("status=") for r in rels)
    assert any(r.startswith("pri=") for r in rels)


def test_evolution_is_metadata_only_and_persists(spark, evolved, tmp_path):
    # no rewrite happened: the set_partition_spec commit lists no new files
    rec = [r for r in evolved.history() if r["op"] == "set_partition_spec"]
    assert len(rec) == 1 and rec[0]["rows_written"] == 0
    # a FRESH handle without partition_by picks up the evolved spec
    t2 = ParquetTable(spark, evolved.path)
    assert t2.partition_by == ["pri"]
    before = sum(r.startswith("pri=") for r in t2._data_files())
    t2.append(spark.createDataFrame(_rows(30, 33)))
    after = sum(r.startswith("pri=") for r in t2._data_files())
    assert after > before  # the fresh handle wrote under the NEW spec


def test_as_of_spans_spec_change(spark, evolved):
    first = evolved.history()[0]["seq"]
    assert sorted(r["k"] for r in evolved.as_of(first).collect()) == list(range(20))
    last = evolved.history()[-1]["seq"]
    assert sorted(r["k"] for r in evolved.as_of(last).collect()) == list(range(30))


def test_partition_and_file_scoped_statements_refuse_mixed(spark, evolved):
    with pytest.raises(ValueError, match="rewrite_to_current_spec"):
        evolved.overwrite_partitions(
            evolved.read().where(F.col("pri") == 0)
        )
    with pytest.raises(ValueError, match="rewrite_to_current_spec"):
        evolved.delete_where(F.col("k") == 1)


def test_rewrite_converges_then_statements_work(spark, evolved):
    evolved.rewrite_to_current_spec()
    rels = evolved._data_files()
    assert all(r.startswith("pri=") for r in rels)
    evolved.delete_where(F.col("k") >= 25)
    assert sorted(r["k"] for r in evolved.read().collect()) == list(range(25))
    # partition-scoped overwrite now addresses current-spec dirs
    repl = evolved.read().where(F.col("pri") == 0).withColumn(
        "v", F.col("v") + 100.0
    )
    evolved.overwrite_partitions(repl)
    got = {r["k"]: r["v"] for r in evolved.read().collect()}
    assert got[3] == 103.0 and got[4] == 4.0


def test_range_scan_prunes_across_eras(spark, evolved):
    # pri is a directory value in the new era and a footer-stats column
    # in the old one; both prune paths must agree with a full filter
    got = sorted(r["k"] for r in evolved.range_scan("pri", 2, 2).collect())
    want = sorted(
        r["k"] for r in evolved.read().where(F.col("pri") == 2).collect()
    )
    assert got == want and got


def _as_dicts(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: d["k"])


def test_scans_pruned_to_old_era_keep_its_columns(spark, evolved):
    # the newest record's logged schema is the [pri]-era footer
    # (k, status, v); a scan that prunes to [status]-era files alone
    # must still return the pri column those files store in-body
    want = _as_dicts(evolved.read().where(F.col("k").between(0, 5)))
    assert len(want) == 6 and all(d["pri"] is not None for d in want)
    got = evolved.range_scan("k", 0, 5)
    assert set(got.columns) == set(evolved.read().columns)
    assert _as_dicts(got) == want
    evolved.build_bloom_index("k")
    files = evolved.lookup_files("k", 3)
    assert files and all("/status=" in p for p in files)
    got = evolved.point_lookup("k", 3)
    assert set(got.columns) == set(evolved.read().columns)
    assert _as_dicts(got) == [d for d in want if d["k"] == 3]


def test_bloom_index_spans_eras(spark, evolved):
    evolved.build_bloom_index("k")
    for k in (4, 27):
        assert [r["v"] for r in evolved.point_lookup("k", k).collect()] == [
            float(k)
        ]


def test_unpartitioned_to_partitioned_evolution(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "u"))
    t.overwrite(spark.createDataFrame(_rows(0, 10)))
    t.evolve_partition_spec(["status"])
    t.append(spark.createDataFrame(_rows(10, 16)))
    got = {r["k"]: r["status"] for r in t.read().collect()}
    assert got == {i: ("E" if i % 2 == 0 else "O") for i in range(16)}


def test_evolve_rejects_unknown_and_generated_columns(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "g"))
    t.overwrite(spark.createDataFrame(_rows(0, 5)))
    with pytest.raises(ValueError, match="not in table"):
        t.evolve_partition_spec(["nope"])
    t.add_generated_column("v2", "v * 2")
    with pytest.raises(ValueError, match="GENERATED"):
        t.evolve_partition_spec(["v2"])


# -- replaceWhere ----------------------------------------------------------


def test_replace_where_partition_fast_path(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "rw"), partition_by=["status"])
    t.overwrite(spark.createDataFrame(_rows(0, 20)))
    before_e_files = [r for r in t._data_files() if r.startswith("status=E")]
    batch = spark.createDataFrame(
        [Row(k=100 + i, status="O", pri=0, v=-1.0) for i in range(3)]
    )
    t.replace_where(batch, F.col("status") == "O")
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [i for i in range(20) if i % 2 == 0] + [100, 101, 102]
    # untouched partition's files never moved (the fast path)
    assert [r for r in t._data_files() if r.startswith("status=E")] == before_e_files
    assert t.history()[-1]["op"] == "overwrite_partitions"


def test_replace_where_empties_matching_partition(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "rw2"), partition_by=["status"])
    t.overwrite(spark.createDataFrame(_rows(0, 10)))
    empty = spark.createDataFrame([], t.read().schema)
    t.replace_where(empty, F.col("status") == "O")
    assert sorted(r["k"] for r in t.read().collect()) == [0, 2, 4, 6, 8]


def test_replace_where_full_rewrite_on_data_predicate(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "rw3"), partition_by=["status"])
    t.overwrite(spark.createDataFrame(_rows(0, 10)))
    batch = spark.createDataFrame([Row(k=99, status="E", pri=1, v=9.0)])
    t.replace_where(batch, F.col("k") >= 6)  # k is NOT a partition col
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 4, 5, 99]
    assert t.history()[-1]["op"] == "replace_where"


def test_replace_where_rejects_out_of_scope_rows(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "rw4"))
    t.overwrite(spark.createDataFrame(_rows(0, 4)))
    bad = spark.createDataFrame([Row(k=1, status="E", pri=0, v=0.0)])
    with pytest.raises(ValueError, match="NOT matching"):
        t.replace_where(bad, F.col("status") == "O")


# -- hidden partitioning (Iceberg transforms) --------------------------------


def _ts_rows(lo, hi):
    import datetime as dt

    return [
        Row(k=i, ts=dt.datetime(2024, 1, 1 + i % 3, i % 24), v=float(i))
        for i in range(lo, hi)
    ]


def test_days_transform_partitioning(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "d"), partition_by=["days(ts)"])
    t.overwrite(spark.createDataFrame(_ts_rows(0, 30)))
    # layout: hidden pt__days_ts=YYYY-MM-DD directories
    rels = t._data_files()
    assert all(r.startswith("pt__days_ts=2024-01-0") for r in rels)
    assert len({r.split("/")[0] for r in rels}) == 3
    # read parity: raw ts survives, the hidden column does not
    got = {r["k"]: r["ts"] for r in t.read().collect()}
    assert len(got) == 30 and got[5].hour == 5
    assert not [c for c in t.read().columns if c.startswith("pt__")]


def test_days_transform_partition_scoped_overwrite(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "o"), partition_by=["days(ts)"])
    t.overwrite(spark.createDataFrame(_ts_rows(0, 30)))
    before = [r for r in t._data_files() if "2024-01-02" in r]
    # replace only day 1's rows (k % 3 == 0 land on 2024-01-01)
    repl = spark.createDataFrame(
        [Row(k=100 + i, ts=__import__("datetime").datetime(2024, 1, 1, i), v=-1.0)
         for i in range(3)]
    )
    t.overwrite_partitions(repl)
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [i for i in range(30) if i % 3 != 0] + [100, 101, 102]
    # untouched day's files never moved
    assert [r for r in t._data_files() if "2024-01-02" in r] == before


def test_bucket_transform_and_evolution_to_it(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "b"))
    t.overwrite(spark.createDataFrame(_ts_rows(0, 10)))
    t.evolve_partition_spec(["bucket(4, k)"])
    t.append(spark.createDataFrame(_ts_rows(10, 20)))
    rels = t._data_files()
    buckets = {r.split("/")[0] for r in rels if r.startswith("pt__bucket_4_k=")}
    assert 1 <= len(buckets) <= 4
    assert sorted(r["k"] for r in t.read().collect()) == list(range(20))
    # as_of spans the evolution
    assert sorted(r["k"] for r in t.as_of(t.history()[0]["seq"]).collect()) == list(range(10))


def test_transform_guards(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "g"), partition_by=["days(ts)"])
    t.overwrite(spark.createDataFrame(_ts_rows(0, 6)))
    # the transform SOURCE column is protected from rename/drop
    with pytest.raises(ValueError, match="partition"):
        t.rename_column("ts", "when")
    # replace_where falls back to the full rewrite (a transform is
    # many-to-one: a source predicate is not partition-exact)
    t.replace_where(
        spark.createDataFrame(_ts_rows(0, 2)), F.col("k") < 2
    )
    assert t.history()[-1]["op"] == "replace_where"
    assert sorted(r["k"] for r in t.read().collect()) == list(range(6))


def test_evolve_refuses_widened_schema(spark, tmp_path):
    """Type widening pins the read schema only for UNPARTITIONED tables
    — evolving a widened table to any spec would unpin it and break
    every subsequent read on mixed narrow/wide footers (including
    rewrite_to_current_spec's own read), so the evolve must refuse."""
    t = ParquetTable(spark, str(tmp_path / "w"))
    t.overwrite(spark.createDataFrame([(1, 2)], "k int, v int"))
    t.append(
        spark.createDataFrame([(2, 2**40)], "k int, v long"),
        merge_schema=True,
    )
    assert t.properties().get("widened_schema")
    with pytest.raises(ValueError, match="widened"):
        t.evolve_partition_spec(["k"])
    # the documented recovery path: overwrite converges, then evolve works
    t.overwrite(t.read())
    t.evolve_partition_spec(["k"])
    assert t.partition_by == ["k"]
