"""Value identity of the bucketed SCD1 merge against a frozen copy of
its previous shape (the precedent is test_scd2_twin.py).

``batch_write``'s partition-scoped SCD1 branch now merges the touched
buckets with ``operators/scd.py:scd1_bucket_merge``: target and batch
rows share one hash exchange on the bucket, and the partition-scoped
write reuses it. The frozen shape ran ``scd1_apply`` (key window on
the batch, anti join of the target) and let ``overwrite_partitions``
rebalance the result by bucket. Both run over the same sequence of
batches into two tables with the same starting state; after every step
the tables hold the same schema and rows (``exceptAll`` both ways),
and ``as_of`` the previous commit reads the state before the step.
Order values are unique within a key: tie order is undefined in both.
"""

from __future__ import annotations

import datetime as dt
import re
import time
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.operators import scd
from data_ingestion_framework_spark.session import local_frame
from data_ingestion_framework_spark.sinks.writers import (
    BUCKET_COL,
    _buckets_fit_one_task,
    batch_write,
    stamp_bucket,
)
from data_ingestion_framework_spark.sources.tablestore import ParquetTable


# --- frozen previous shape (the parity reference) -------------------------

def _old_dedupe_latest(df, key_cols, order_col):
    w = W.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in key_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _old_scd1_apply(target, source, key_cols, order_col):
    latest = _old_dedupe_latest(source, key_cols, order_col)
    untouched = target.join(latest.select(*key_cols), on=key_cols, how="left_anti")
    return untouched.unionByName(latest, allowMissingColumns=True)


def _old_merge(df: DataFrame, table: ParquetTable, key_cols, order_col) -> None:
    """The previous partition-scoped SCD1 branch of ``batch_write``."""
    df = stamp_bucket(df, key_cols, table.properties()["num_buckets"])
    buckets = sorted(r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect())
    target = table.read().where(F.col(BUCKET_COL).isin(buckets))
    table.overwrite_partitions(
        _old_scd1_apply(target, df, key_cols, order_col),
        extra_touched=[f"{BUCKET_COL}={b}" for b in buckets],
    )


# --- inputs ---------------------------------------------------------------

KEYS = ["k1", "k2"]
NUM_BUCKETS = 4
TARGET_SCHEMA = "k1 int, k2 string, val string, mtime timestamp, delete_time timestamp"
SOURCE_SCHEMA = "k1 int, k2 string, val string, mtime timestamp"
#: a batch carrying a column the table does not have yet
WIDE_SCHEMA = SOURCE_SCHEMA + ", note string"


def _at(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)


#: the starting state: duplicate rows of an untouched key (5, 'e'),
#: duplicate rows of a touched one (1, 'a'), NULL key components, and a
#: stamped ``delete_time`` (a column batches never carry)
_TARGET_ROWS = [
    (1, "a", "t1", _at(0), None),
    (1, "a", "t1", _at(0), None),
    (3, "c", "t3", _at(0), None),
    (5, "e", "t5", _at(0), None),
    (5, "e", "t5", _at(0), None),
    (5, "e", "t5b", _at(1), None),
    (None, "n", "tn", _at(0), None),
    (6, None, "t6", _at(0), None),
    (7, "g", "t7", _at(0), _at(2)),
]
#: duplicate batch keys with distinct order values, NULL key
#: components (one shared with a target row), inserts over several buckets
_BATCH_1 = [
    (1, "a", "u1x", _at(10)),
    (1, "a", "u1y", _at(12)),
    (1, "a", "u1z", _at(11)),
    (None, "n", "bn1", _at(10)),
    (None, "n", "bn2", _at(11)),
    (6, None, "b6", _at(10)),
    (None, None, "bnn", _at(10)),
    (5, "a", "b5a", _at(10)),  # a new key in the bucket of (5, 'e')
] + [(k, "new", f"i{k}", _at(10)) for k in range(10, 22)]
#: widens the schema (``note``) and updates an older key
_BATCH_2 = [
    (1, "a", "w1", _at(20), "n1"),
    (3, "c", "w3", _at(21), None),
    (7, "g", "w7", _at(20), "n7"),
    (30, "x", "w30", _at(20), "n30"),
]


def _assert_same(new: DataFrame, old: DataFrame) -> None:
    assert new.schema == old.schema
    only = new.exceptAll(old).withColumn("__side", F.lit("new")).unionByName(
        old.exceptAll(new).withColumn("__side", F.lit("old"))
    )
    assert only.collect() == []


def _start(spark, path: str) -> ParquetTable:
    t = ParquetTable(spark, path, partition_by=[BUCKET_COL])
    t.set_properties({"num_buckets": NUM_BUCKETS})
    t.overwrite(stamp_bucket(local_frame(spark, _TARGET_ROWS, TARGET_SCHEMA), KEYS, NUM_BUCKETS))
    return t


def test_bucket_merge_equals_frozen_shape_over_a_batch_sequence(spark, tmp_path):
    new_t = _start(spark, f"{tmp_path}/new")
    old_t = _start(spark, f"{tmp_path}/old")
    b1 = local_frame(spark, _BATCH_1, SOURCE_SCHEMA)
    b2 = local_frame(spark, _BATCH_2, WIDE_SCHEMA)
    # the second b2 is a replay: the state must not change
    for batch in (b1, b2, b2):
        before = new_t.read().localCheckpoint()
        prev = new_t.last_commit()["seq"]
        batch_write(batch, new_t, mode="merge", key_cols=KEYS, order_col="mtime")
        _old_merge(batch, old_t, KEYS, "mtime")
        assert new_t.last_commit()["op"] == "overwrite_partitions"
        _assert_same(new_t.read(), old_t.read())
        then = new_t.as_of(prev)
        # after a widening commit, as_of lists the partition column
        # before the added one, where read() lists it last
        _assert_same(then, before.select(*then.columns))
        _assert_same(then, old_t.as_of(prev))

    # b1 touched the bucket of the untouched key (5, 'e'), so its
    # duplicates went through the merge window, and all are kept
    rows = new_t.read()
    fives = rows.where("k1 = 5 AND k2 = 'e'").collect()
    assert len(fives) == 3
    touched = new_t.history()[-3]["metrics"]["touched_partitions"]
    assert f"{BUCKET_COL}={fives[0][BUCKET_COL]}" in touched
    # NULL-key target rows stay beside the batch's latest NULL-key row
    assert sorted(
        r["val"] for r in rows.where("k1 IS NULL AND k2 = 'n'").collect()
    ) == ["bn2", "tn"]
    got = {(r["k1"], r["k2"]): (r["val"], r["note"], r["delete_time"])
           for r in rows.where("k1 IN (1, 3, 7)").collect()}
    assert got == {
        (1, "a"): ("w1", "n1", None),
        (3, "c"): ("w3", None, None),
        (7, "g"): ("w7", "n7", None),
    }


# a target or batch row: (k1, k2, val); NULL key components included
row_st = st.tuples(
    st.sampled_from([1, 2, 3, None]),
    st.sampled_from(["a", "b", None]),
    st.sampled_from(["p", "q", None]),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target_rows=st.lists(row_st, max_size=8),
    batch_rows=st.lists(row_st, min_size=1, max_size=8),
)
def test_bucket_merge_equals_frozen_apply_on_frames(spark, target_rows, batch_rows):
    """The merge alone, before any write, over random targets with
    duplicate and NULL keys and batches with duplicate keys."""
    target = stamp_bucket(
        local_frame(
            spark,
            [(k1, k2, v, _at(0), None) for k1, k2, v in target_rows],
            TARGET_SCHEMA,
        ),
        KEYS,
        NUM_BUCKETS,
    )
    batch = stamp_bucket(
        local_frame(
            spark,
            [(k1, k2, v, _at(1 + i)) for i, (k1, k2, v) in enumerate(batch_rows)],
            SOURCE_SCHEMA,
        ),
        KEYS,
        NUM_BUCKETS,
    )
    _assert_same(
        scd.scd1_bucket_merge(target, batch, KEYS, "mtime", BUCKET_COL),
        _old_scd1_apply(target, batch, KEYS, "mtime"),
    )


# --- plan and job pins ----------------------------------------------------

def _bucketed(spark, path: str) -> tuple[ParquetTable, DataFrame]:
    """A 16-bucket table after its initial load, and a batch that
    updates and inserts keys over every bucket."""
    t = ParquetTable(spark, path, partition_by=[BUCKET_COL])
    initial = local_frame(
        spark, [(i, "k", f"v{i}", _at(0)) for i in range(400)], SOURCE_SCHEMA
    )
    batch_write(initial, t, mode="merge", key_cols=KEYS, order_col="mtime",
                num_buckets=16)
    batch = local_frame(
        spark, [(i, "k", f"u{i}", _at(1)) for i in range(0, 600, 3)], SOURCE_SCHEMA
    )
    return t, batch


def _write_plan(spark, write) -> str:
    """The physical plan description of the one data write ``write()``
    runs, from the SQL status store."""
    sc = spark.sparkContext
    # the status store keeps a bounded number of executions, so the
    # write's is found by a description of its own among the last few
    tag = f"bucket-merge-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try:
        write()
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.time() + 30
    while True:  # the listener bus records executions asynchronously
        n = store.executionsCount()
        runs = store.executionsList(max(0, n - 20), 20)
        writes = [
            e
            for e in (runs.apply(i) for i in range(runs.size()))
            if e.description() == tag
            and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
        ]
        if (writes and writes[0].completionTime().isDefined()) or time.time() > deadline:
            break
        time.sleep(0.1)
    assert len(writes) == 1
    return writes[0].physicalPlanDescription()


def _merge(t: ParquetTable, batch: DataFrame) -> None:
    batch_write(batch, t, mode="merge", key_cols=KEYS, order_col="mtime")


def test_bucketed_scd1_write_runs_one_exchange(spark, tmp_path):
    """The executed plan of the merge's write has one Exchange (the
    bucket repartition the merge window runs on) and no rebalance; the
    commit still leaves one file per touched bucket."""
    t, batch = _bucketed(spark, f"{tmp_path}/t")
    plan = _write_plan(spark, lambda: _merge(t, batch))
    final = plan.split("== Initial Plan ==")[0]
    tree = final.split("\n\n")[0]
    assert len(re.findall(r"Exchange", tree)) == 1, plan
    assert "REPARTITION_BY_COL" in plan, plan
    assert "REBALANCE" not in plan, plan
    files = [f for f in t._data_files() if "bucket_id=" in f]
    touched = t.last_commit()["metrics"]["touched_partitions"]
    assert len(touched) == 16
    assert sorted({f.split("/")[0] for f in files}) == sorted(touched)
    assert len(files) == 16


def test_bucket_above_the_advisory_size_keeps_the_rebalance(spark, tmp_path):
    """A touched bucket whose files list more bytes than the advisory
    partition size is merged by ``scd1_apply`` and rebalanced by the
    write, which may split it over tasks; the state equals the one-
    shuffle merge's."""
    t, batch = _bucketed(spark, f"{tmp_path}/t")
    ref, _ = _bucketed(spark, f"{tmp_path}/ref")
    _merge(ref, batch)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        assert not _buckets_fit_one_task(t, list(range(16)))
        plan = _write_plan(spark, lambda: _merge(t, batch))
    finally:
        spark.conf.set(key, prev)
    assert _buckets_fit_one_task(t, list(range(16)))
    assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan
    _assert_same(t.read(), ref.read())


def test_bucketed_scd1_merge_launches_at_most_four_jobs(spark, tmp_path, launched_jobs):
    """The touched-bucket collect (two jobs), the merge's shuffle-map
    job and the write: no second shuffle of the merged rows."""
    t, batch = _bucketed(spark, f"{tmp_path}/t")
    with launched_jobs() as ids:
        _merge(t, batch)
    assert len(ids) <= 4, ids
    assert t.read().count() == 400 + len(range(402, 600, 3))
