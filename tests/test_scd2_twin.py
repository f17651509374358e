"""Value identity of ``operators/scd.py:scd2_apply`` against a frozen
copy of its previous body (the precedent is test_expr_sql_twins.py).

The current function shuffles only the touched rows once: live rows
whose key is in the batch, unioned with the batch, under one key
partitioning. The frozen copy joins, windows, aggregates and
re-joins the whole live state. Hypothesis drives both over batch
sequences covering in-batch multi-versions, a replay of the last
batch, full-extract soft deletes, NULL compare values, target-only and
source-only columns and pre-closed rows, and asserts the same schema
and the same rows (``exceptAll`` both ways) after every step.
Timestamps are unique: tie order on ``order_col`` is undefined in both.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.functions.hashes import hash_diff
from data_ingestion_framework_spark.operators import scd
from data_ingestion_framework_spark.session import local_frame


# --- frozen previous scd2_apply (the parity reference) --------------------

def _old_stamp_scd2_initial(df, key_cols, order_col):
    w = W.partitionBy(*key_cols).orderBy(
        F.col(order_col).asc(), *[F.col(c).asc() for c in key_cols]
    )
    nxt = F.lead(F.col(order_col)).over(w)
    return (
        df.withColumn("start_time", F.col(order_col).cast("timestamp"))
        .withColumn("end_time", nxt.cast("timestamp"))
        .withColumn("is_current", F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)))
        .withColumn("delete_time", F.lit(None).cast("timestamp"))
    )


def _old_scd2_apply(
    target: DataFrame | None,
    source: DataFrame,
    key_cols: list[str],
    order_col: str,
    compare_cols: list[str] | None = None,
    full_extract: bool = False,
    deleted_at=None,
) -> DataFrame:
    src = source
    if compare_cols is None:
        compare_cols = [c for c in scd._data_cols(src, key_cols) if c != order_col]
    src = src.withColumn("__hdiff", hash_diff(src, compare_cols))

    if target is not None:
        live = target.where((F.col("is_current") == 1) & F.col("delete_time").isNull())
        closed = target.where(~((F.col("is_current") == 1) & F.col("delete_time").isNull()))
        cur_info = live.withColumn("__cur_hdiff", hash_diff(live, compare_cols)).select(
            *key_cols,
            F.col("start_time").alias("__cur_start"),
            "__cur_hdiff",
        )
    else:
        live = None
        closed = None
        cur_info = None

    if cur_info is not None:
        src = src.join(cur_info, on=key_cols, how="left")
        src = src.where(
            F.col("__cur_start").isNull()
            | (F.col(order_col).cast("timestamp") > F.col("__cur_start"))
        )

    w_asc = W.partitionBy(*key_cols).orderBy(F.col(order_col).asc(), *key_cols)
    src = src.withColumn("__prev_hdiff", F.lag("__hdiff").over(w_asc))
    if cur_info is not None:
        changed = (
            (F.col("__prev_hdiff").isNull() & (
                F.col("__cur_hdiff").isNull() | (F.col("__hdiff") != F.col("__cur_hdiff"))
            ))
            | (F.col("__prev_hdiff").isNotNull() & (F.col("__hdiff") != F.col("__prev_hdiff")))
        )
    else:
        changed = F.col("__prev_hdiff").isNull() | (
            F.col("__hdiff") != F.col("__prev_hdiff")
        )
    new_versions = src.where(changed).drop(
        "__prev_hdiff", "__cur_hdiff", "__cur_start", "__hdiff"
    )

    stamped = _old_stamp_scd2_initial(new_versions, key_cols, order_col)

    if target is None:
        return stamped

    first_new = stamped.groupBy(*key_cols).agg(
        F.min("start_time").alias("__new_start")
    )
    live_joined = live.join(first_new, on=key_cols, how="left")
    closed_out = (
        live_joined.where(F.col("__new_start").isNotNull())
        .withColumn("end_time", F.col("__new_start"))
        .withColumn("is_current", F.lit(0))
        .drop("__new_start")
    )
    untouched_live = live_joined.where(F.col("__new_start").isNull()).drop("__new_start")

    if full_extract:
        ts = F.lit(deleted_at).cast("timestamp") if deleted_at else F.current_timestamp()
        src_keys = source.select(*key_cols).distinct()
        gone = untouched_live.join(src_keys, on=key_cols, how="left_anti").withColumns(
            {"delete_time": ts, "end_time": ts, "is_current": F.lit(0)}
        )
        kept = untouched_live.join(src_keys, on=key_cols, how="left_semi")
        untouched_live = kept.unionByName(gone)

    return (
        closed.unionByName(closed_out)
        .unionByName(untouched_live)
        .unionByName(stamped, allowMissingColumns=True)
    )


# --- inputs ---------------------------------------------------------------

BASE = dt.datetime(2024, 1, 1)
DELETED_AT = "2024-06-01 00:00:00"
#: source rows carry ``file_path`` (source-only, not compared: it is a
#: control column) and never ``legacy`` (target-only)
SOURCE_SCHEMA = "pk int, val string, n double, mtime timestamp, file_path string"
TARGET_SCHEMA = (
    "pk int, val string, n double, legacy string, mtime timestamp, "
    "start_time timestamp, end_time timestamp, is_current int, "
    "delete_time timestamp"
)


def _at(day: int, second: int) -> dt.datetime:
    return BASE + dt.timedelta(days=day, seconds=second)


#: a prebuilt target: pk 1 has a closed version and a live one, pk 2 a
#: live one with NULL compare values, pk 3 was soft-deleted, pk 4 has
#: ``delete_time`` set while still flagged current (not live either)
_TARGET_ROWS = [
    (1, "a", 1.0, "x", _at(-3, 1), _at(-3, 1), _at(-2, 2), 0, None),
    (1, "b", 1.0, "x", _at(-2, 2), _at(-2, 2), None, 1, None),
    (2, None, None, None, _at(-2, 3), _at(-2, 3), None, 1, None),
    (3, "c", 3.0, "y", _at(-2, 4), _at(-2, 4), _at(-1, 5), 0, _at(-1, 5)),
    (4, "d", 4.0, None, _at(-2, 6), _at(-2, 6), None, 1, _at(-1, 7)),
]

# a batch row: (key, val, n, day offset); day offsets below 0 send
# versions older than the target's live row (dropped by replay
# protection); a global row counter in the seconds keeps every
# timestamp unique
row_st = st.tuples(
    st.integers(1, 5),
    st.sampled_from(["a", "b", None]),
    st.sampled_from([1.0, 2.5, None]),
    st.integers(-3, 2),
)
batch_st = st.tuples(st.lists(row_st, min_size=1, max_size=5), st.booleans())


def _batch(spark, rows, i, counter):
    out = []
    for pk, val, n, day in rows:
        counter[0] += 1
        out.append((pk, val, n, _at(day + 3 * i, 100 + counter[0]), f"f{i}"))
    return local_frame(spark, out, SOURCE_SCHEMA)


def _assert_same(new: DataFrame, old: DataFrame) -> None:
    assert new.schema == old.schema
    # both directions in one job: rows only one side holds, per side
    only = new.exceptAll(old).withColumn("__side", F.lit("new")).unionByName(
        old.exceptAll(new).withColumn("__side", F.lit("old"))
    )
    assert only.collect() == []


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    prebuilt=st.booleans(),
    batches=st.lists(batch_st, min_size=1, max_size=3),
)
@example(  # every case at once: multi-versions, a re-sent unchanged
    # row, a stale version, NULLs, a full extract, a revived deleted key
    prebuilt=True,
    batches=[
        ([(1, "c", 1.0, 0), (1, "c", 1.0, 1), (1, "a", None, 2), (2, None, None, 0),
          (3, "c", 3.0, 0), (5, "a", 2.5, -3)], True),
        ([(2, "b", 2.5, -3), (4, "d", 4.0, 0), (5, "b", None, 1)], False),
    ],
)
def test_scd2_apply_equals_frozen_copy(spark, prebuilt, batches):
    new = old = local_frame(spark, _TARGET_ROWS, TARGET_SCHEMA) if prebuilt else None
    counter = [0]
    frames = [(_batch(spark, rows, i, counter), fe) for i, (rows, fe) in enumerate(batches)]
    # replay the last batch: every version in it is already applied
    for src, fe in frames + frames[-1:]:
        kw = {"full_extract": fe, "deleted_at": DELETED_AT}
        new = scd.scd2_apply(new, src, ["pk"], "mtime", **kw)
        old = _old_scd2_apply(old, src, ["pk"], "mtime", **kw)
        _assert_same(new, old)
        # cut the lineage so each step plans over the last one's rows
        new, old = new.localCheckpoint(), old.localCheckpoint()
