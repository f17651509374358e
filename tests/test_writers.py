"""Writer-layer tests: mode dispatch, ordered source-dir replay, and
the IE dual-target (current + history) merge with a delete feed
(FIXTURES.md F2)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_framework_spark.sinks.writers import (
    BUCKET_COL,
    batch_write,
    ie_dual_target_merge,
    ordered_base_paths,
    replay_merge_by_source_dir,
)
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 2)
T2 = dt.datetime(2024, 1, 3)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk int, val string, mtime timestamp")


def test_batch_write_modes(spark, tmp_table_path):
    t = ParquetTable(spark, tmp_table_path)
    batch_write(_df(spark, [Row(pk=1, val="a", mtime=T0)]), t, mode="append")
    batch_write(_df(spark, [Row(pk=1, val="a", mtime=T0)]), t, mode="append")
    assert t.read().count() == 2
    batch_write(
        _df(spark, [Row(pk=1, val="x", mtime=T0), Row(pk=1, val="y", mtime=T1)]),
        t, mode="overwrite", key_cols=["pk"], order_col="mtime",
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["val"] == "y"  # window-deduped overwrite
    batch_write(
        _df(spark, [Row(pk=2, val="b", mtime=T2)]),
        t, mode="merge", key_cols=["pk"], order_col="mtime",
    )
    assert {r["pk"] for r in t.read().collect()} == {1, 2}


def test_ordered_base_paths(spark, tmp_path):
    for i, (d, ts) in enumerate([("b", T1), ("a", T0), ("c", T2)]):
        spark.createDataFrame(
            [Row(pk=i, val=d, mtime=ts)], "pk int, val string, mtime timestamp"
        ).write.mode("overwrite").parquet(f"{tmp_path}/land/{d}")
    df = spark.read.parquet(f"{tmp_path}/land/*").select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("mtime").alias("file_modification_time"),
    )
    paths = ordered_base_paths(df)
    assert [p.rsplit("/", 1)[-1] for p in paths] == ["a", "b", "c"]


def test_ie_dual_target_merge_with_delete_feed(spark, tmp_path):
    cur = ParquetTable(spark, f"{tmp_path}/cur")
    hist = ParquetTable(spark, f"{tmp_path}/hist")

    # day 1: initial load
    ie_dual_target_merge(cur, hist, _df(spark, [
        Row(pk=1, val="a", mtime=T0), Row(pk=2, val="b", mtime=T0),
    ]), ["pk"], "mtime")
    assert {r["pk"] for r in cur.read().collect()} == {1, 2}

    # day 2: pk1 updated; pk2 deleted via feed
    ie_dual_target_merge(
        cur, hist,
        _df(spark, [Row(pk=1, val="a2", mtime=T1)]),
        ["pk"], "mtime",
        delete_feed=_df(spark, [Row(pk=2, val="b", mtime=T1)]),
        deleted_at=T1,
    )
    # current: pk2 hard-deleted, pk1 latest
    got = {r["pk"]: r["val"] for r in cur.read().collect()}
    assert got == {1: "a2"}
    # history: pk1 two versions; pk2 soft-deleted with delete_time
    h = hist.read().collect()
    pk1 = sorted([r for r in h if r["pk"] == 1], key=lambda r: r["start_time"])
    assert [(r["val"], r["is_current"]) for r in pk1] == [("a", 0), ("a2", 1)]
    pk2 = [r for r in h if r["pk"] == 2]
    assert len(pk2) == 1 and pk2[0]["delete_time"] == T1 and pk2[0]["is_current"] == 0

    # day 3: pk2 resurrected
    ie_dual_target_merge(cur, hist, _df(spark, [
        Row(pk=2, val="b2", mtime=T2),
    ]), ["pk"], "mtime")
    assert {r["pk"]: r["val"] for r in cur.read().collect()} == {1: "a2", 2: "b2"}
    pk2 = sorted(
        [r for r in hist.read().collect() if r["pk"] == 2],
        key=lambda r: r["start_time"],
    )
    assert pk2[-1]["val"] == "b2" and pk2[-1]["is_current"] == 1


# -- bucketed (partition-scoped) merges --------------------------------------


def _files_by_partition(t):
    out = {}
    for f in t._data_files():
        out.setdefault(f.rsplit("/", 1)[0], set()).add(f)
    return out


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL

    t = ParquetTable(spark, f"{tmp_path}/b", partition_by=[BUCKET_COL])
    initial = spark.createDataFrame(
        [Row(pk=i, val=f"v{i}", mtime=T0) for i in range(200)],
        "pk int, val string, mtime timestamp",
    )
    batch_write(initial, t, mode="merge", key_cols=["pk"], order_col="mtime",
                scd_type=2, num_buckets=8)
    before = _files_by_partition(t)
    assert len(before) > 1  # actually partitioned by bucket

    # incremental: 2 keys updated + 1 new key
    batch = _df(spark, [
        Row(pk=3, val="v3b", mtime=T1),
        Row(pk=7, val="v7b", mtime=T1),
        Row(pk=900, val="new", mtime=T1),
    ])
    batch_write(batch, t, mode="merge", key_cols=["pk"], order_col="mtime",
                scd_type=2)

    touched = set(t.history()[-1]["metrics"]["touched_partitions"])
    assert 1 <= len(touched) <= 3  # at most one partition per key
    after = _files_by_partition(t)
    for part, files in before.items():
        if part not in touched:
            assert after[part] == files  # untouched: exact same files
        else:
            assert after[part].isdisjoint(files)  # touched: fully rewritten

    # state equals the non-bucketed full merge
    from data_ingestion_framework_spark.operators import scd as scd_ops

    full = ParquetTable(spark, f"{tmp_path}/full")
    batch_write(initial, full, mode="merge", key_cols=["pk"],
                order_col="mtime", scd_type=2)
    batch_write(batch, full, mode="merge", key_cols=["pk"], order_col="mtime",
                scd_type=2)
    cols = ["pk", "val", "start_time", "end_time", "is_current", "delete_time"]
    got = sorted(map(tuple, t.read().select(*cols).collect()))
    want = sorted(map(tuple, full.read().select(*cols).collect()))
    assert got == want

    # round-trip sanity: a second merge of the same batch no-ops (replay)
    batch_write(batch, t, mode="merge", key_cols=["pk"], order_col="mtime",
                scd_type=2)
    assert sorted(map(tuple, t.read().select(*cols).collect())) == want


def test_bucketed_merge_rejects_bucket_count_change(spark, tmp_path):
    import pytest as _pytest

    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL

    t = ParquetTable(spark, f"{tmp_path}/b", partition_by=[BUCKET_COL])
    batch_write(_df(spark, [Row(pk=1, val="a", mtime=T0)]), t, mode="merge",
                key_cols=["pk"], order_col="mtime", num_buckets=8)
    with _pytest.raises(ValueError, match="num_buckets=8"):
        batch_write(_df(spark, [Row(pk=2, val="b", mtime=T1)]), t,
                    mode="merge", key_cols=["pk"], order_col="mtime",
                    num_buckets=16)


def test_bucketed_ie_merge_delete_feed_empties_bucket(spark, tmp_path):
    """A delete feed that removes every key in a bucket must remove the
    bucket's partition from the current table — not leave stale files
    (the extra_touched path)."""
    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL

    cur = ParquetTable(spark, f"{tmp_path}/cur", partition_by=[BUCKET_COL])
    hist = ParquetTable(spark, f"{tmp_path}/hist", partition_by=[BUCKET_COL])
    rows = [Row(pk=i, val=f"v{i}", mtime=T0) for i in range(20)]
    ie_dual_target_merge(cur, hist, _df(spark, rows), ["pk"], "mtime",
                         num_buckets=4)
    assert cur.read().count() == 20

    # delete ALL keys (every bucket emptied in current), no new data...
    # but ie merge needs a source; send one updated row so one bucket stays
    ie_dual_target_merge(
        cur, hist,
        _df(spark, [Row(pk=0, val="v0b", mtime=T1)]),
        ["pk"], "mtime",
        delete_feed=_df(spark, [Row(pk=i, val="", mtime=T1) for i in range(1, 20)]),
        deleted_at=T1,
    )
    got = {r["pk"]: r["val"] for r in cur.read().collect()}
    assert got == {0: "v0b"}  # all deleted keys gone, incl. whole buckets
    # history soft-deleted every removed key
    h = hist.read().collect()
    deleted = [r for r in h if r["pk"] != 0]
    assert len(deleted) == 19
    assert all(r["delete_time"] == T1 and r["is_current"] == 0 for r in deleted)
    # time travel still reconstructs the pre-delete current state
    assert cur.as_of(1).count() == 20


def test_merge_into_conditional_clauses(spark, tmp_path):
    """Generic MERGE INTO: delete-when, conditional update with source
    references (delete checked before update, Delta clause order),
    conditional insert, untouched pass-through, metrics recorded."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [Row(pk=1, v=10, status="open"),
             Row(pk=2, v=20, status="open"),
             Row(pk=3, v=30, status="open"),
             Row(pk=4, v=40, status="open")]
        )
    )
    source = spark.createDataFrame(
        [Row(pk=1, v=11, status="open"),      # matched -> update
         Row(pk=2, v=99, status="closed"),    # matched + delete cond
         Row(pk=3, v=5, status="open"),       # matched, update cond FALSE
         Row(pk=5, v=50, status="open"),      # unmatched -> insert
         Row(pk=6, v=60, status="closed")]    # unmatched, insert cond FALSE
    )
    metrics = merge_into(
        t,
        source,
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_matched_update_condition=merge_source("v") > F.col("v"),
        when_matched_delete_condition=merge_source("status") == "closed",
        when_not_matched_insert_condition=F.col("status") == "open",
    )
    got = {r["pk"]: (r["v"], r["status"]) for r in t.read().collect()}
    assert got == {
        1: (11, "open"),   # updated from source
        3: (30, "open"),   # update condition false -> untouched
        4: (40, "open"),   # no source row -> untouched
        5: (50, "open"),   # inserted
    }
    assert metrics == {"rows_updated": 1, "rows_deleted": 1, "rows_inserted": 1}
    assert t.history()[-1]["op"] == "merge"

    # duplicate source keys raise, like Delta's multiple-matches error
    dup = spark.createDataFrame([Row(pk=1, v=1, status="a"), Row(pk=1, v=2, status="b")])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="multiple rows per key"):
        merge_into(t, dup, ["pk"], when_matched_update={"v": merge_source("v")})


def test_merge_into_bucketed_partition_scoped(spark, tmp_path):
    """On a key-hash-bucketed target the generic merge commits
    partition-scoped: untouched buckets keep their exact files, an
    emptied bucket's files are removed, results match the unbucketed
    semantics."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.sinks.writers import (
        BUCKET_COL,
        merge_into,
        merge_source,
        stamp_bucket,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tb"), partition_by=[BUCKET_COL])
    initial = spark.createDataFrame(
        [Row(pk=i, v=i * 10) for i in range(40)]
    )
    t.overwrite(stamp_bucket(initial, ["pk"], 8))
    t.set_properties({"num_buckets": "8"})
    before_files = set(t._data_files())

    source = spark.createDataFrame(
        [Row(pk=3, v=999), Row(pk=100, v=1)]  # one update, one insert
    )
    metrics = merge_into(
        t, source, ["pk"], when_matched_update={"v": merge_source("v")}
    )
    assert metrics["rows_updated"] == 1 and metrics["rows_inserted"] == 1
    got = {r["pk"]: r["v"] for r in t.read().collect()}
    assert got[3] == 999 and got[100] == 1 and got[7] == 70 and len(got) == 41

    last = t.history()[-1]
    assert last["op"] == "overwrite_partitions"
    touched = set(last["metrics"]["touched_partitions"])
    assert 1 <= len(touched) <= 2  # only the buckets of pk=3 / pk=100
    # untouched buckets keep their EXACT files
    untouched_before = {
        f for f in before_files
        if not any(f.startswith(p) for p in touched)
    }
    assert untouched_before <= set(t._data_files())

    # a delete that empties a whole bucket removes its files (source =
    # the CURRENT rows of bucket 0 — merge 1 may have inserted into it)
    all_of_one_bucket = t.read().where(F.col(BUCKET_COL) == 0).drop(BUCKET_COL)
    n0 = all_of_one_bucket.count()
    metrics2 = merge_into(
        t,
        all_of_one_bucket,
        ["pk"],
        when_matched_delete_condition=F.lit(True),
        when_not_matched_insert=False,
    )
    assert metrics2["rows_deleted"] == n0
    assert t.read().where(F.col(BUCKET_COL) == 0).count() == 0
    assert not [f for f in t._data_files() if f.startswith(f"{BUCKET_COL}=0/")]


def test_merge_into_null_condition_not_satisfied(spark, tmp_path):
    """Delta's three-valued-logic rule: a clause condition that
    evaluates to NULL (e.g. a NULL source column) is NOT satisfied —
    the row must survive (and not be silently dropped by a NULL
    predicate), and a NULL update condition leaves the row as-is."""
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [Row(pk=1, v=10, status="open"), Row(pk=2, v=20, status="open")]
        )
    )
    source = spark.createDataFrame(
        [Row(pk=1, v=99, status=None),   # NULL delete cond -> keep
         Row(pk=2, v=None, status="open")]  # NULL update cond -> keep v
    )
    metrics = merge_into(
        t,
        source,
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_matched_update_condition=merge_source("v") > F.col("v"),
        when_matched_delete_condition=merge_source("status") == "X",
        when_not_matched_insert=False,
    )
    got = {r["pk"]: (r["v"], r["status"]) for r in t.read().collect()}
    # pk=1: delete condition NULL -> not deleted; update cond true -> v=99
    # pk=2: update condition NULL -> not updated
    assert got == {1: (99, "open"), 2: (20, "open")}
    assert metrics == {"rows_updated": 1, "rows_deleted": 0, "rows_inserted": 0}


def test_merge_into_not_matched_by_source_clauses(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE family (the reference's soft/hard
    delete feeds, writers/writer.py:251-252,394-396,405-406): delete
    checked first, then update; conditions see target columns only;
    matched rows and inserts unaffected."""
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [Row(pk=1, v=10, status="open"),
             Row(pk=2, v=20, status="open"),
             Row(pk=3, v=30, status="stale"),   # NMBS delete cond
             Row(pk=4, v=40, status="open")]    # NMBS update -> soft flag
        )
    )
    source = spark.createDataFrame(
        [Row(pk=1, v=11, status="open"),    # matched -> update
         Row(pk=5, v=50, status="open")]    # unmatched -> insert
    )
    metrics = merge_into(
        t,
        source,
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_not_matched_by_source_update={"status": F.lit("deleted")},
        when_not_matched_by_source_update_condition=F.col("status") == "open",
        when_not_matched_by_source_delete_condition=F.col("status") == "stale",
    )
    got = {r["pk"]: (r["v"], r["status"]) for r in t.read().collect()}
    assert got == {
        1: (11, "open"),      # matched update
        2: (20, "deleted"),   # NMBS update (soft delete)
        4: (40, "deleted"),   # NMBS update
        5: (50, "open"),      # inserted
    }
    # pk=3 hard-deleted by the NMBS delete clause
    assert metrics == {"rows_updated": 3, "rows_deleted": 1, "rows_inserted": 1}

    # unconditional NMBS delete: flag form, no condition
    t2 = ParquetTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([Row(pk=i, v=i) for i in range(6)]))
    m2 = merge_into(
        t2,
        spark.createDataFrame([Row(pk=1, v=100), Row(pk=3, v=300)]),
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_not_matched_by_source_delete=True,
    )
    assert {r["pk"]: r["v"] for r in t2.read().collect()} == {1: 100, 3: 300}
    assert m2 == {"rows_updated": 2, "rows_deleted": 4, "rows_inserted": 0}


def test_merge_into_nmbs_forces_full_table_on_bucketed(spark, tmp_path):
    """A NOT-MATCHED-BY-SOURCE clause makes every bucket touchable, so
    a bucketed table must take the full-table path (same rule as
    batch_write's full-extract branch) — target rows in buckets the
    source never touches still get the clause applied."""
    from data_ingestion_framework_spark.sinks.writers import (
        BUCKET_COL,
        merge_into,
        merge_source,
        stamp_bucket,
    )

    t = ParquetTable(spark, str(tmp_path / "tb"), partition_by=[BUCKET_COL])
    initial = spark.createDataFrame([Row(pk=i, v=i) for i in range(40)])
    t.overwrite(stamp_bucket(initial, ["pk"], 8))
    t.set_properties({"num_buckets": "8"})

    source = spark.createDataFrame([Row(pk=3, v=999)])
    metrics = merge_into(
        t,
        source,
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_not_matched_by_source_delete=True,
    )
    # every key but pk=3 was NMBS-deleted, across ALL buckets
    assert {r["pk"]: r["v"] for r in t.read().collect()} == {3: 999}
    assert metrics["rows_deleted"] == 39 and metrics["rows_updated"] == 1
    assert t.history()[-1]["op"] == "merge"  # full path, not partition-scoped


def test_merge_into_single_pass(spark, tmp_path):
    """The merge builds exactly ONE join (full-outer: matched rows,
    pass-throughs, and inserts all come from it — no separate
    left_anti), no groupBy scan for the multiple-match guard (window
    over the same key shuffle), and persists the joined frame so
    metrics + final write reuse one execution."""
    from unittest import mock

    # pyspark 4: pyspark.sql.DataFrame is an ABC; live frames are the
    # classic subclass, whose own method defs shadow a parent patch
    from pyspark.sql.classic.dataframe import DataFrame

    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([Row(pk=1, v=10), Row(pk=2, v=20)]))
    source = spark.createDataFrame([Row(pk=1, v=11), Row(pk=9, v=90)])

    joins, groupbys, persists = [], [], []
    real_join = DataFrame.join
    real_groupby = DataFrame.groupBy
    real_persist = DataFrame.persist
    with mock.patch.object(
        DataFrame, "join",
        autospec=True,
        side_effect=lambda *a, **k: joins.append(1) or real_join(*a, **k),
    ), mock.patch.object(
        DataFrame, "groupBy",
        autospec=True,
        side_effect=lambda df, *a, **k: groupbys.append(a)
        or real_groupby(df, *a, **k),
    ), mock.patch.object(
        DataFrame, "persist",
        autospec=True,
        side_effect=lambda *a, **k: persists.append(1) or real_persist(*a, **k),
    ):
        metrics = merge_into(
            t, source, ["pk"], when_matched_update={"v": merge_source("v")}
        )
    assert len(joins) == 1, "merge must build exactly one join"
    # the only groupBy allowed is agg()'s internal keyless global
    # aggregate over the persisted frame — no KEYED groupBy scan for
    # the multiple-match guard (that rides the join shuffle's window)
    assert all(len(a) == 0 for a in groupbys), groupbys
    assert len(persists) >= 1, "joined frame must be persisted for reuse"
    assert metrics == {"rows_updated": 1, "rows_deleted": 0, "rows_inserted": 1}
    assert {r["pk"]: r["v"] for r in t.read().collect()} == {1: 11, 2: 20, 9: 90}


def test_merge_into_with_schema_evolution(spark, tmp_path):
    """MERGE ... WITH SCHEMA EVOLUTION: a new source column joins the
    target schema — NULL for untouched rows, populated by inserts and
    update expressions; without the flag the same merge raises. On a
    bucketed (partition-scoped) merge the table is flagged
    schema_evolved so untouched buckets' old-schema files keep
    reading correctly."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.sinks.writers import (
        is_bucketed,
        merge_into,
        merge_source,
        stamp_bucket,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([Row(pk=1, v=10), Row(pk=2, v=20)])
    )
    src = spark.createDataFrame(
        [Row(pk=2, v=21, tag="upd"), Row(pk=3, v=30, tag="new")]
    )
    # without evolution: the unknown target column is an error via the
    # insert guard (source wider than target is fine, but tag would be
    # silently dropped — evolution makes it a real column instead)
    metrics = merge_into(
        t,
        src,
        ["pk"],
        when_matched_update={"v": merge_source("v"), "tag": merge_source("tag")},
        schema_evolution=True,
    )
    assert metrics == {
        "rows_updated": 1, "rows_deleted": 0, "rows_inserted": 1,
    }
    got = {r["pk"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got == {1: (10, None), 2: (21, "upd"), 3: (30, "new")}

    # bucketed path: untouched buckets keep old files; flag must be set
    tb = ParquetTable(spark, str(tmp_path / "tb"), partition_by=["bucket_id"])
    base = spark.createDataFrame(
        [Row(pk=i, v=i * 10) for i in range(1, 9)]
    )
    tb.overwrite(stamp_bucket(base, ["pk"], 4))
    tb.set_properties({"num_buckets": 4, "bucket_cols": ["pk"]})
    assert is_bucketed(tb)
    srcb = spark.createDataFrame([Row(pk=1, v=11, note="x")])
    merge_into(
        tb,
        srcb,
        ["pk"],
        when_matched_update={"v": merge_source("v"), "note": merge_source("note")},
        schema_evolution=True,
    )
    assert tb.properties().get("schema_evolved")
    rows = {r["pk"]: (r["v"], r["note"]) for r in tb.read().collect()}
    assert rows[1] == (11, "x")
    assert rows[5] == (50, None)  # untouched bucket, old-schema file


# -- clustered partitioned commits -------------------------------------------


def _advisory_bytes(spark) -> int:
    raw = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    return spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)


def _state(t, cols):
    return sorted(repr(r) for r in t.read().select(*cols).collect())


@pytest.mark.parametrize("scd_type", [1, 2])
def test_bucketed_merge_writes_one_file_per_touched_bucket(spark, tmp_path, scd_type):
    """A partition-scoped merge clusters its rows by bucket before the
    write, so every touched bucket (all far below the advisory size)
    holds exactly one file afterwards — not one per write task — and
    the merged state equals the same merge into an unbucketed table."""
    initial = spark.createDataFrame(
        [Row(pk=i, val=f"v{i}", mtime=T0) for i in range(400)],
        "pk int, val string, mtime timestamp",
    )
    # updates and inserts over every bucket, spread across 4 input splits
    batch = spark.createDataFrame(
        [Row(pk=i, val=f"u{i}", mtime=T1) for i in range(0, 600, 3)],
        "pk int, val string, mtime timestamp",
    ).repartition(4)
    bucketed = ParquetTable(spark, f"{tmp_path}/b", partition_by=[BUCKET_COL])
    flat = ParquetTable(spark, f"{tmp_path}/flat")
    for t, kw in ((bucketed, {"num_buckets": 16}), (flat, {})):
        batch_write(initial, t, mode="merge", key_cols=["pk"],
                    order_col="mtime", scd_type=scd_type, **kw)
        batch_write(batch, t, mode="merge", key_cols=["pk"],
                    order_col="mtime", scd_type=scd_type)

    last = bucketed.last_commit()
    assert last["op"] == "overwrite_partitions"
    touched = last["metrics"]["touched_partitions"]
    assert len(touched) == 16
    files = _files_by_partition(bucketed)
    advisory = _advisory_bytes(spark)
    for part in touched:
        assert len(files[part]) == 1, (part, files[part])
        size = sum(
            os.path.getsize(os.path.join(bucketed.path, f)) for f in files[part]
        )
        assert size < advisory
    assert bucketed.file_count() == 16

    cols = sorted(flat.read().columns)
    assert BUCKET_COL not in cols
    assert _state(bucketed, cols) == _state(flat, cols)


def _write_plans(monkeypatch, action) -> list[str]:
    """Optimized plans of the frames ``action()`` writes via ``.parquet()``."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        action()
    return plans


def _rebalanced(plans) -> bool:
    return any("RebalancePartitions" in p for p in plans)


def test_only_partition_scoped_commits_cluster(spark, tmp_path, monkeypatch):
    """From a 4-split input, ``overwrite_partitions`` leaves one file per
    touched partition; partitioned ``append`` keeps one file per (write
    task, partition); ``overwrite()`` keeps the caller's layout
    (compact's coalesce, z-order's range sort) and is not rebalanced."""
    df = spark.range(0, 64, 1, 4).selectExpr(
        "id", "CAST(id % 4 AS INT) AS b", "CAST(id % 8 AS INT) AS c"
    )
    part = ParquetTable(spark, f"{tmp_path}/p", partition_by=["b"])
    flat = ParquetTable(spark, f"{tmp_path}/f")

    assert not _rebalanced(_write_plans(monkeypatch, lambda: part.append(df)))
    files = _files_by_partition(part)
    assert sorted(files) == ["b=0", "b=1", "b=2", "b=3"]
    assert all(len(v) == 4 for v in files.values())

    assert _rebalanced(_write_plans(
        monkeypatch, lambda: part.overwrite_partitions(df.where("b IN (1, 2)"))
    ))
    files = _files_by_partition(part)
    assert [len(files[p]) for p in sorted(files)] == [4, 1, 1, 4]
    # already hash-partitioned on the partition column: that exchange
    # clusters the write, and no rebalance shuffles it again
    assert not _rebalanced(_write_plans(
        monkeypatch,
        lambda: part.overwrite_partitions(df.where("b IN (0, 3)").repartition("b")),
    ))
    files = _files_by_partition(part)
    assert [len(files[p]) for p in sorted(files)] == [1, 1, 1, 1]

    assert not _rebalanced(_write_plans(
        monkeypatch, lambda: part.compact(target_files=2)
    ))
    assert part.file_count() <= 2 * 4
    assert not _rebalanced(_write_plans(
        monkeypatch, lambda: part.compact(target_files=2, zorder_by=["id", "c"])
    ))
    assert not _rebalanced(_write_plans(monkeypatch, lambda: flat.append(df)))
    assert sorted(r["id"] for r in part.read().collect()) == list(range(64))


def test_hash_partitioned_on_reads_the_analyzed_plan(spark):
    """``_writer(cluster=True)`` skips its rebalance only for a
    ``repartition`` on exactly the partition columns, with no fixed
    count, seen through Project, Filter and Windows partitioned on
    them, where the column is the same attribute (exprId)."""
    from pyspark.sql.window import Window as W

    from data_ingestion_framework_spark.sources.tablestore import (
        _hash_partitioned_on,
    )

    df = spark.range(0, 16, 1, 2).selectExpr("id", "CAST(id % 4 AS INT) AS b", "id % 8 AS c")
    by_b = df.repartition("b")
    cases = {
        "repartition": (by_b, True),
        "filter and project": (by_b.where("c > 1").withColumn("d", F.col("c") * 2), True),
        "window on b": (by_b.withColumn("n", F.count("*").over(W.partitionBy("b", "c"))), True),
        "window off b": (by_b.withColumn("n", F.count("*").over(W.partitionBy("c"))), False),
        "fixed count": (df.repartition(4, "b"), False),
        "two columns": (df.repartition("b", "c"), False),
        "other column": (df.repartition("c"), False),
        "re-derived b": (by_b.withColumn("b", F.col("b") + 0), False),
        "aggregate": (by_b.groupBy("b").count(), False),
        "none": (df, False),
    }
    got = {k: _hash_partitioned_on(d, ["b"]) for k, (d, _) in cases.items()}
    assert got == {k: want for k, (_, want) in cases.items()}

    # a plan accessor that does not exist (as after a Spark release
    # renames one) raises a Py4J error: read as not partitioned, so the
    # write keeps its rebalance instead of failing
    class Unreadable:
        _jdf = spark._jsparkSession  # has no queryExecution()

    assert _hash_partitioned_on(Unreadable(), ["b"]) is False


def test_replay_merge_by_source_dir_bucketed(spark, tmp_path):
    """Per-source-directory replay in mtime order into a BUCKETED target:
    the directories land out of name order, so the later directory's
    version must win, every replayed batch commits partition-scoped,
    and each commit leaves one file per touched bucket."""
    t = ParquetTable(spark, f"{tmp_path}/b", partition_by=[BUCKET_COL])
    batch_write(
        spark.createDataFrame(
            [Row(pk=i, val=f"v{i}", mtime=T0) for i in range(40)],
            "pk int, val string, mtime timestamp",
        ),
        t, mode="merge", key_cols=["pk"], order_col="mtime", scd_type=1,
        num_buckets=4,
    )
    # "a" is the NEWER directory: name order would replay it first
    for d, ts, tag in (("b", T1, "old"), ("a", T2, "new")):
        spark.createDataFrame(
            [Row(pk=i, val=f"{tag}{i}", mtime=ts) for i in range(0, 20)],
            "pk int, val string, mtime timestamp",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/land/{d}")
    src = spark.read.parquet(f"{tmp_path}/land/*").select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("mtime").alias("file_modification_time"),
    )
    replay_merge_by_source_dir(src, t, ["pk"], scd_type=1)

    replays = t.history()[-2:]
    assert [h["op"] for h in replays] == ["overwrite_partitions"] * 2
    files = _files_by_partition(t)
    for part in replays[-1]["metrics"]["touched_partitions"]:
        assert len(files[part]) == 1
    got = {r["pk"]: r["val"] for r in t.read().collect()}
    assert len(got) == 40
    assert all(got[i] == f"new{i}" for i in range(20))
    assert all(got[i] == f"v{i}" for i in range(20, 40))
