"""SCD Type 1 / Type 2 merge engine.

Reference parity (the core of the framework):
- window-dedup + SCD1 ``MERGE ... UPDATE SET * / INSERT *`` and SCD2
  close-out + append (writers/batch_writers.py:59-162 ``merge_write``)
- full-extract upsert with ``IS DISTINCT FROM`` change detection and
  ``WHEN NOT MATCHED BY SOURCE`` soft deletes (writers/writer.py:177-281)
- initial-load validity stamping (writers/writer.py:62-107)
- the streaming 3-branch CTE (UpdatedRows / DeletedRows / rn-stamped
  source) union → MERGE (writers/writer.py:454-524)
- the curated layer's "merge_key trick" Type2+Type1 single pass
  (reference/Raw-To-Curated-Material_Dim.py:219-285)

Spark-first design: each operator is a pure DataFrame program
``(target_state, source) -> new_target_state``; the caller commits via
``ParquetTable.overwrite`` (sources/tablestore.py). For Delta/Iceberg
targets, ``sinks/merge_sql.py`` renders the equivalent ``MERGE INTO``
statements from the same inputs (equivalence pinned by
``tests/test_merge_sql.py``). A merge
moves only the rows the batch touches: the batch itself and the
target's live rows whose key it carries, found by a semi join against
the batch keys (small, so AQE broadcasts them). Those rows take the one
shuffle on the business key, which every per-key window then shares;
the rest of the target passes through an anti join without being
shuffled. Change detection compares md5 hashes computed JVM-side.

Contract columns (writers/writer.py:19): ``start_time``, ``end_time``,
``is_current``, ``delete_time`` (+ passthrough ``row_creation_time``,
``file_modification_time``, ``file_path``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.functions.hashes import hash_diff
from data_ingestion_framework_spark.functions.sql_dialect import qident

SCD_COLS = ["start_time", "end_time", "is_current", "delete_time"]


def _data_cols(df: DataFrame, key_cols: list[str], exclude: list[str] | None = None) -> list[str]:
    """Non-key business columns used for change detection: everything
    except keys, SCD control columns and caller excludes
    (``except_column_list``, writers/batch_writers.py:83)."""
    skip = set(key_cols) | set(SCD_COLS) | {
        "row_creation_time",
        "file_modification_time",
        "file_path",
        "hkey",
        "hdiff",
        "bucket_id",  # key-hash partition bucket (sinks/writers.py) — derived, not business state
    } | set(exclude or [])
    return [c for c in df.columns if c not in skip]


def dedupe_latest(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Latest-record-per-key via ROW_NUMBER — the reference's most-used
    pattern (writers/writer.py:41,73,84,439,483,608; batch_writers.py:143).
    Pass ``tiebreak_cols`` (a unique column) for deterministic results
    when ``order_col`` has ties within a key."""
    direction = F.col(order_col).desc() if descending else F.col(order_col).asc()
    ties = [
        F.col(c).desc() if descending else F.col(c).asc()
        for c in (tiebreak_cols or key_cols)
    ]
    w = W.partitionBy(*key_cols).orderBy(direction, *ties)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def stamp_scd2_initial(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Initial-load SCD2 stamping (writers/writer.py:84-107): order the
    versions of each key by ``order_col``; ``start_time`` = own order
    value, ``end_time`` = next version's start (null for the latest),
    ``is_current`` = 1 only on the latest. ``scd2_apply`` stamps its
    merged versions with it too."""
    w = W.partitionBy(*key_cols).orderBy(
        F.col(order_col).asc(), *[F.col(c).asc() for c in (tiebreak_cols or key_cols)]
    )
    nxt = F.lead(F.col(order_col)).over(w)
    return (
        df.withColumn("start_time", F.col(order_col).cast("timestamp"))
        .withColumn("end_time", nxt.cast("timestamp"))
        .withColumn("is_current", F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)))
        .withColumn("delete_time", F.lit(None).cast("timestamp"))
    )


def scd1_surrogate_apply(
    target: DataFrame | None,
    source: DataFrame,
    key_cols: list[str],
    order_col: str,
    id_col: str = "row_id",
) -> DataFrame:
    """SCD1 merge that PRESERVES a surrogate-key column across updates
    — the dimensional-modeling contract ``scd1_apply`` can't express
    (its replace-on-match drops the target row including its surrogate,
    minting a new one per update): matched keys inherit the target's
    ``id_col``, unmatched source keys carry NULL, and a table with a
    BY DEFAULT identity column fills those NULLs at write time
    (``ParquetTable._fill_identity``) — so the surrogate is stable for
    a key's lifetime and fresh exactly for first-seen keys.

    Same shuffle shape as ``scd1_apply`` plus one key-join to inherit
    ids (co-partitioned with the merge's own key shuffle)."""
    latest = dedupe_latest(source.drop(id_col), key_cols, order_col)
    if target is None:
        return latest.withColumn(id_col, F.lit(None).cast("long"))
    latest = latest.join(
        target.select(*key_cols, id_col), on=key_cols, how="left"
    )
    untouched = target.join(
        latest.select(*key_cols), on=key_cols, how="left_anti"
    )
    return untouched.unionByName(latest, allowMissingColumns=True)


def scd1_apply(
    target: DataFrame | None,
    source: DataFrame,
    key_cols: list[str],
    order_col: str,
    full_extract: bool = False,
    deleted_at=None,
) -> DataFrame:
    """Compute the new SCD1 (current-only) state.

    Semantics of ``MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
    INSERT *`` after window-dedup (writers/batch_writers.py:99-127), plus
    full-extract soft deletes: keys absent from the source get
    ``delete_time`` stamped instead of being dropped
    (writers/writer.py:251-252 ``WHEN NOT MATCHED BY SOURCE``).

    The program: latest source version per key replaces the target row;
    target rows for unmatched keys pass through (anti join). One shuffle
    on the key for the window, one for the join — co-partitioned.
    """
    latest = dedupe_latest(source, key_cols, order_col)
    if target is None:
        return latest
    keys = latest.select(*key_cols)
    untouched = target.join(keys, on=key_cols, how="left_anti")
    if full_extract:
        ts = F.lit(deleted_at).cast("timestamp") if deleted_at else F.current_timestamp()
        if "delete_time" in untouched.columns:
            untouched = untouched.withColumn(
                "delete_time",
                F.when(F.col("delete_time").isNull(), ts).otherwise(F.col("delete_time")),
            )
        else:
            untouched = untouched.withColumn("delete_time", ts)
    # union over the UNION of both schemas: target-only columns (e.g. a
    # previously stamped delete_time) survive on untouched rows as nulls
    # on the source side, and source-only columns (schema widening)
    # appear as nulls on untouched rows — never silently dropped.
    return untouched.unionByName(latest, allowMissingColumns=True)


def scd1_bucket_merge(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    order_col: str,
    bucket_col: str,
) -> DataFrame:
    """``scd1_apply`` for a key-hash-bucketed target, in one shuffle.

    ``target`` holds the rows of the buckets the batch touches and
    ``source`` is the batch, both carrying ``bucket_col`` (a function
    of the key). Target rows (tag 0) and batch rows (tag 1) are
    unioned and hash-partitioned on the bucket once. One window per
    ``(bucket, key)``, batch rows first, then keeps:

    - the latest batch row of each key (``dedupe_latest``'s order);
    - every target row of a key the batch does not carry;
    - every target row with a NULL key component, which
      ``scd1_apply``'s equi anti join never matches.

    The result is hash-partitioned on ``bucket_col``, so a partition-
    scoped write of it needs no second exchange to leave one file per
    bucket (``ParquetTable._writer``), and each bucket is sorted and
    written by one task. Unbucketed merges keep ``scd1_apply``: there
    the target passes its anti join unshuffled. So do merges touching
    a bucket above the advisory partition size
    (``sinks/writers.py:_buckets_fit_one_task``), whose write's
    rebalance splits it.
    Column order and union typing are ``scd1_apply``'s: target columns
    first, then source-only ones. The window and the filter are SQL
    text: one parse each where Column operators cost one Py4J round
    trip apiece, which a micro-batch pays on every trigger."""
    over = "OVER (PARTITION BY {} ORDER BY {})".format(
        ", ".join(qident(c) for c in [bucket_col, *key_cols]),
        ", ".join(f"{qident(c)} DESC" for c in ["__tag", order_col, *key_cols]),
    )
    null_key = " OR ".join(f"{qident(c)} IS NULL" for c in key_cols)
    return (
        target.withColumn("__tag", F.lit(0))
        .unionByName(source.withColumn("__tag", F.lit(1)), allowMissingColumns=True)
        .repartition(bucket_col)
        .withColumns(
            {
                "__rn": F.expr(f"row_number() {over}"),
                "__first": F.expr(f"first(__tag) {over}"),
            }
        )
        .where(f"CASE WHEN __tag = 1 THEN __rn = 1 ELSE __first = 0 OR {null_key} END")
        .drop("__tag", "__rn", "__first")
    )


def scd2_apply(
    target: DataFrame | None,
    source: DataFrame,
    key_cols: list[str],
    order_col: str,
    compare_cols: list[str] | None = None,
    full_extract: bool = False,
    deleted_at=None,
) -> DataFrame:
    """Compute the new SCD2 (full-history) state.

    Reproduces the reference's three merge branches
    (writers/writer.py:454-524: UpdatedRows close-out, DeletedRows,
    rn-stamped SourceDataUpdated) and the curated "merge_key trick"
    (Raw-To-Curated-Material_Dim.py:219-285) — which both exist only to
    make one ``MERGE`` statement do a close-out *and* an insert — as a
    direct computation of the new table state.

    Only the *touched* rows move: the live rows (``is_current = 1`` and
    no ``delete_time``) whose key is in the batch, found by a left-semi
    join against the batch keys, are unioned with the batch versions
    and hash-partitioned on the key once. Windows on that partitioning,
    ordered by ``(timestamp, live row first)``, then compute:

    0. Replay protection: only versions strictly newer than the key's
       current ``start_time`` apply, so a replayed batch (same files,
       same mtimes) no-ops — the idempotence the reference gets from
       MERGE matching on full-row equality (writers/writer.py:505-524).
    1. Change detection: a version whose ``hdiff`` equals the previous
       row's is dropped. The previous row of a key's first new version
       is its live row, so consecutive unchanged versions collapse and
       a first version equal to the current image adds no history.
    2. Validity stamps (``stamp_scd2_initial`` over the same order):
       each surviving version starts at its own order value and ends
       at the next one's (``is_current = 1`` only on the last); the
       live row of a key that received a new version is closed out at
       the first new version's start.
    3. Everything else passes through without a shuffle: closed rows,
       and live rows whose key is not in the batch (a left-anti join).
       Full-extract mode soft-deletes the latter (``delete_time`` +
       close-out), matching ``WHEN NOT MATCHED BY SOURCE THEN UPDATE``
       (writers/writer.py:251).

    The shuffled volume is the batch plus its touched live rows at full
    width, so the merge is cheap when a batch touches few live keys (an
    incremental extract) and moves the whole live state when it
    touches all of them (a full extract, whose batch carries every
    live key).

    An initial load (``target is None``) runs steps 1-2 over the batch
    alone. The result has the target's columns first, then source-only
    ones (schema widening), with ``unionByName`` typing. Re-applying
    the same source batch yields the identical state (idempotent replay
    — SURVEY §7.4 hard part #1).
    """
    if compare_cols is None:
        # the order column is batch metadata, not business state — a
        # re-sent identical row with a newer mtime is NOT a new version
        compare_cols = [c for c in _data_cols(source, key_cols) if c != order_col]
    batch = source.withColumns(
        {
            "__tag": F.lit(1),
            "__ts": F.col(order_col).cast("timestamp"),
            "__hdiff": hash_diff(source, compare_cols),
        }
    )
    tag, ts = F.col("__tag"), F.col("__ts")
    by_key = W.partitionBy(*key_cols)
    in_order = by_key.orderBy("__ts", "__tag")
    if target is None:
        rows = batch
    else:
        is_live = (F.col("is_current") == 1) & F.col("delete_time").isNull()
        live = target.where(is_live)
        keys = source.select(*key_cols)
        touched = live.join(keys, on=key_cols, how="left_semi").withColumns(
            {
                "__tag": F.lit(0),
                "__ts": F.col("start_time"),
                "__hdiff": hash_diff(live, compare_cols),
            }
        )
        # the batch's own SCD columns (control-column placeholders) are
        # restamped below; dropping them keeps the live rows' values
        rows = touched.unionByName(batch.drop(*SCD_COLS), allowMissingColumns=True)
        # (0) replay protection
        rows = rows.withColumn(
            "__cur", F.max(F.when(tag == 0, ts)).over(by_key)
        ).where((tag == 0) | F.col("__cur").isNull() | (ts > F.col("__cur")))
    # (1) change detection against the previous row (the live row first)
    rows = rows.withColumn("__prev", F.lag("__hdiff").over(in_order)).where(
        (tag == 0) | F.col("__prev").isNull() | (F.col("__hdiff") != F.col("__prev"))
    )
    # (2) chained validity stamps over the same window order; a live
    # row is current (its end_time is NULL), so it keeps its stamps
    # unless a new version follows and closes it out at its start
    merged = stamp_scd2_initial(rows, key_cols, "__ts", tiebreak_cols=["__tag"]).drop(
        "__tag", "__ts", "__hdiff", "__cur", "__prev"
    )
    if target is None:
        return merged

    # (3) untouched live rows (soft-deleted on a full extract) and
    # closed rows pass through; the union keeps the target's columns
    # first and adds source-only ones (see scd1_apply)
    untouched = live.join(keys, on=key_cols, how="left_anti")
    if full_extract:
        gone = F.lit(deleted_at).cast("timestamp") if deleted_at else F.current_timestamp()
        untouched = untouched.withColumns(
            {"delete_time": gone, "end_time": gone, "is_current": F.lit(0)}
        )
    return (
        target.where(~is_live)
        .unionByName(untouched)
        .unionByName(merged, allowMissingColumns=True)
    )


def late_arriving_dim_defaults(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    defaults: dict[str, object],
) -> DataFrame:
    """Default dimension rows for fact keys missing from the dimension
    — the late-arriving-dimension insert
    (reference/material_external_dim.py:1294+, SURVEY §7.2 step 10).

    left_anti on the (broadcastable) dim keyset; one distinct over the
    fact keys. The caller appends the result to the dim table; a later
    real dimension row supersedes it through the normal SCD2 merge.
    """
    missing = (
        fact.select(F.col(fact_key).alias(dim_key))
        .distinct()
        .join(dim.select(dim_key), on=dim_key, how="left_anti")
    )
    for col, val in defaults.items():
        missing = missing.withColumn(col, F.lit(val))
    return missing.withColumn("is_inferred", F.lit(1))


def current_view(scd2: DataFrame) -> DataFrame:
    """SCD1 projection of an SCD2 table (the IE dual-target 'current'
    table, writers/writer.py:284-420)."""
    return scd2.where((F.col("is_current") == 1) & F.col("delete_time").isNull())


def as_of(scd2: DataFrame, ts) -> DataFrame:
    """Point-in-time reconstruction — the engine's stand-in for Delta
    time travel (reference/di_landing_to_raw_generic_v2.py:774-779):
    rows valid at ``ts`` by the validity interval."""
    t = F.lit(ts).cast("timestamp")
    return scd2.where(
        (F.col("start_time") <= t)
        & (F.col("end_time").isNull() | (F.col("end_time") > t))
        & (F.col("delete_time").isNull() | (F.col("delete_time") > t))
    )
