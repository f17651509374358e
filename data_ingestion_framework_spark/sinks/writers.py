"""Batch write dispatch: append / overwrite / merge to path-backed
tables.

Reference parity: ``_batch_write``/``overwrite_write``/``append_write``
(writers/batch_writers.py:8-56), ``merge_write`` dispatch
(writers/batch_writers.py:59-162) and the ``Writer.write`` mode routing
(writers/writer.py:866-933). The SCD computation itself lives in
operators/scd.py; this module is the thin commit layer.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_framework_spark.operators import scd
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

#: Partition column for key-hash bucketed merge targets. Not
#: underscore-prefixed: Spark's path filter hides ``_*`` directories,
#: which would make ``bucket_id=N`` partition dirs invisible to reads.
BUCKET_COL = "bucket_id"


def stamp_bucket(df: DataFrame, key_cols: list[str], num_buckets: int) -> DataFrame:
    """Stable key-hash bucket for partition-scoped merges: every version
    of a key lands in the same bucket, so a merge only ever needs the
    target partitions whose buckets appear in the source batch — Delta
    MERGE's touched-files-only behavior (writers/writer.py:177-281) at
    partition granularity. Cast to int so the stamped column round-trips
    identically through Hive-style partition-directory type inference."""
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(*key_cols), F.lit(num_buckets)).cast("int"),
    )


def is_bucketed(table: ParquetTable) -> bool:
    return table.partition_by == [BUCKET_COL]


def _bucket_count(table: ParquetTable, requested: int | None) -> int:
    """The table's persisted bucket count; fixed at first write. A later
    caller asking for a different count is an error — silently restamping
    would scatter a key's versions across buckets and corrupt merges."""
    props = table.properties()
    stored = props.get("num_buckets")
    if stored is not None:
        if requested is not None and requested != stored:
            raise ValueError(
                f"table {table.path} is bucketed with num_buckets={stored}; "
                f"got {requested}"
            )
        return stored
    n = requested or 32
    table.set_properties({"num_buckets": n})
    return n


def _touched_buckets(df: DataFrame) -> list[int]:
    """Distinct bucket ids in the batch — control-plane sized (bounded
    by num_buckets, regardless of batch rows)."""
    return sorted(r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect())


def _pruned_target(table: ParquetTable, buckets: list[int]) -> DataFrame:
    """Read ONLY the touched buckets' partitions (PartitionFilters prune
    the rest at planning) — the merge never scans data it cannot change.
    The predicate is SQL text: ``isin`` makes one Py4J literal per
    bucket. An empty batch touches no bucket."""
    in_list = ", ".join(map(str, buckets))
    return table.read().where(f"{BUCKET_COL} IN ({in_list})" if buckets else "false")


def _buckets_fit_one_task(table: ParquetTable, buckets: list[int]) -> bool:
    """Whether each touched bucket's live files, in listed bytes, fit
    AQE's advisory partition size: the most a rebalance gives one
    write task. ``scd1_bucket_merge`` writes each bucket from one task,
    so a merge touching a larger bucket keeps ``scd1_apply`` and the
    write's rebalance, which splits that bucket over several tasks.
    Parquet bytes understate the rows' shuffle size, so the merge can
    still give one task a bucket whose shuffle bytes are above it."""
    spark = table.spark
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    dirs = {f"{BUCKET_COL}={b}" for b in buckets}
    size: dict[str, int] = {}
    for rel in table._live_files():
        part = rel.split(os.sep)[0]
        if part in dirs:
            size[part] = size.get(part, 0) + os.path.getsize(os.path.join(table.path, rel))
    return max(size.values(), default=0) <= limit


def ordered_base_paths(df: DataFrame, depth: int = -1) -> list[str]:
    """Distinct source directories ordered by their newest file's
    modification time — the per-source-directory replay order
    (writers/writer.py:158-174 ``get_base_file_path_list_from_table``).
    Computed entirely in Spark (the reference round-trips via pandas);
    the result is a directory list, so collecting it is control-plane
    sized. ``depth=-1`` (default) strips the filename; a positive depth
    keeps the first N path segments (the reference's substring_index
    form, writers/writer.py:161)."""
    if depth == -1:
        base = F.regexp_replace(F.col("file_path"), r"/[^/]+$", "")
    else:
        base = F.substring_index(F.col("file_path"), "/", depth)
    ordered = (
        df.select(base.alias("base_path"), F.col("file_modification_time"))
        .groupBy("base_path")
        .agg(F.max("file_modification_time").alias("max_mtime"))
        .orderBy("max_mtime", "base_path")
    )
    return [r["base_path"] for r in ordered.collect()]


def replay_merge_by_source_dir(
    df: DataFrame,
    table: ParquetTable,
    key_cols: list[str],
    order_col: str = "file_modification_time",
    scd_type: int = 2,
    full_extract: bool = False,
    depth: int = -1,
) -> None:
    """Ordered per-source-directory merge replay
    (writers/writer.py:177-281 ``_upsert_to_delta_batch_fe``): process
    each base directory's rows as one merge batch, in mtime order.
    Correctness shape for out-of-order landings; within a batch the
    merge is fully parallel. Prefer a single merge (batch_write) when
    directory order provably doesn't matter (SURVEY §7.4 #4)."""
    for path in ordered_base_paths(df, depth):
        batch = df.where(F.col("file_path").startswith(path))
        batch_write(
            batch,
            table,
            mode="merge",
            key_cols=key_cols,
            order_col=order_col,
            scd_type=scd_type,
            full_extract=full_extract,
        )


def ie_dual_target_merge(
    current_table: ParquetTable,
    history_table: ParquetTable,
    source: DataFrame,
    key_cols: list[str],
    order_col: str = "file_modification_time",
    delete_feed: DataFrame | None = None,
    deleted_at=None,
    num_buckets: int | None = None,
) -> None:
    """Incremental-extract upsert into two targets
    (writers/writer.py:284-420 ``_upsert_to_delta_batch_ie``):

    - ``current``  (SCD1): latest row per key, hard-deleted from the
      delete feed (``MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE``);
    - ``history``  (SCD2): full version history, soft-deleted
      (close-out + ``delete_time``) for keys in the delete feed.

    The delete feed is the reference's ``delete_source_filepath``
    (FIXTURES.md F2). Both merges share the same key partitioning; the
    feed joins as a broadcast when small.

    When both targets are bucketed (``partition_by=[BUCKET_COL]``) the
    merge is partition-scoped: touched buckets = source buckets ∪
    delete-feed buckets (delete keys hash to buckets too), only those
    partitions are read and rewritten, and a bucket the delete feed
    empties is removed rather than left stale (``extra_touched``).
    """
    bucketed = is_bucketed(current_table) and is_bucketed(history_table)
    buckets: list[int] = []
    if bucketed:
        n = _bucket_count(current_table, num_buckets)
        if history_table.path != current_table.path:
            n2 = _bucket_count(history_table, n)
            assert n2 == n
        source = stamp_bucket(source, key_cols, n)
        src_buckets = _touched_buckets(source)
        del_buckets: list[int] = []
        if delete_feed is not None:
            delete_feed = stamp_bucket(delete_feed, key_cols, n)
            del_buckets = _touched_buckets(delete_feed)
        buckets = sorted(set(src_buckets) | set(del_buckets))

    def _read(table: ParquetTable):
        if not table.exists():
            return None
        return _pruned_target(table, buckets) if bucketed else table.read()

    cur = _read(current_table)
    new_cur = scd.scd1_apply(cur, source, key_cols, order_col)
    hist = _read(history_table)
    new_hist = scd.scd2_apply(hist, source, key_cols, order_col)

    if delete_feed is not None:
        del_keys = delete_feed.select(*key_cols).distinct()
        new_cur = new_cur.join(del_keys, on=key_cols, how="left_anti")
        ts = (
            F.lit(deleted_at).cast("timestamp")
            if deleted_at is not None
            else F.current_timestamp()
        )
        live_deleted = (
            (F.col("is_current") == 1) & F.col("delete_time").isNull()
        )
        new_hist = (
            new_hist.join(del_keys.withColumn("__del", F.lit(1)), on=key_cols, how="left")
            .withColumns(
                {
                    "delete_time": F.when(
                        (F.col("__del") == 1) & live_deleted, ts
                    ).otherwise(F.col("delete_time")),
                    "end_time": F.when(
                        (F.col("__del") == 1) & live_deleted, ts
                    ).otherwise(F.col("end_time")),
                    "is_current": F.when(
                        (F.col("__del") == 1) & live_deleted, F.lit(0)
                    ).otherwise(F.col("is_current")),
                }
            )
            .drop("__del")
        )

    extra = [f"{BUCKET_COL}={b}" for b in buckets]
    for table, state in ((current_table, new_cur), (history_table, new_hist)):
        if bucketed and table.exists():
            table.overwrite_partitions(state, extra_touched=extra)
        else:
            table.overwrite(state)


def batch_write(
    df: DataFrame,
    table: ParquetTable,
    mode: str = "append",
    key_cols: list[str] | None = None,
    order_col: str = "file_modification_time",
    scd_type: int = 1,
    full_extract: bool = False,
    except_columns: list[str] | None = None,
    num_buckets: int | None = None,
    surrogate_id_col: str | None = None,
) -> None:
    """Route a batch write (writers/writer.py:866-933 dispatch):

    - ``append``     → plain append
    - ``overwrite``  → snapshot replace (window-deduped when keys given,
      the intended ``_overwrite_delta`` semantics, writers/writer.py:34-60)
    - ``merge``      → SCD1/SCD2 upsert via operators/scd.py; when the
      table is bucketed (``partition_by=[BUCKET_COL]``) the merge is
      partition-scoped: only buckets present in the batch are read and
      rewritten (``num_buckets`` fixes the bucket count at first write).
      A partition-scoped SCD1 merge (``scd.scd1_bucket_merge``) runs in
      one shuffle, on the bucket: the partition-scoped write keeps that
      partitioning instead of rebalancing, so the merge takes four
      Spark jobs (touched-bucket collect, two; shuffle map; write) and
      still leaves one file per touched bucket. That writes each bucket
      from one task, so when a touched bucket's live files list more
      bytes than AQE's advisory partition size, the merge runs
      ``scd.scd1_apply`` instead and the write's rebalance splits the
      bucket over several tasks (two shuffles, as before).
    """
    if except_columns:
        df = df.drop(*except_columns)  # SELECT * EXCEPT(...) OSS form
    if mode == "append":
        table.append(df)
        return
    if mode == "overwrite":
        if key_cols:
            df = scd.dedupe_latest(df, key_cols, order_col)
        table.overwrite(df)
        return
    if mode == "merge":
        if not key_cols:
            raise ValueError("merge requires key_cols")
        if surrogate_id_col:
            # surrogate-key dimension merge: matched keys inherit their
            # surrogate, first-seen keys carry NULL and the table's
            # BY DEFAULT identity fills them at write (allocation
            # ordered by the business key for reproducible loads)
            if scd_type != 1:
                raise ValueError("surrogate_id_col requires scd_type=1")
            if full_extract:
                raise ValueError(
                    "surrogate_id_col + full_extract: absent-key soft "
                    "deletes are not implemented on the surrogate path "
                    "— rejecting rather than silently keeping the rows"
                )
            if is_bucketed(table):
                raise ValueError(
                    "surrogate_id_col is not supported on bucketed "
                    "targets (identity allocation is a table-level "
                    "write concern; the partition-scoped commit path "
                    "bypasses it)"
                )
            target = table.read() if table.exists() else None
            new_state = scd.scd1_surrogate_apply(
                target, df, key_cols, order_col, id_col=surrogate_id_col
            )
            table.overwrite(new_state, identity_order_by=key_cols)
            return
        apply = scd.scd1_apply if scd_type == 1 else scd.scd2_apply
        if is_bucketed(table):
            n = _bucket_count(table, num_buckets)
            df = stamp_bucket(df, key_cols, n)
            if table.exists() and not full_extract:
                # partition-scoped merge: read and rewrite ONLY the
                # buckets this batch touches; all other partitions'
                # files stay in place. O(touched data), not O(table).
                # SCD1 merges in the bucket shuffle the write reuses,
                # unless a touched bucket is too big for one task.
                buckets = _touched_buckets(df)
                target = _pruned_target(table, buckets)
                if scd_type == 1 and _buckets_fit_one_task(table, buckets):
                    new_state = scd.scd1_bucket_merge(
                        target, df, key_cols, order_col, BUCKET_COL
                    )
                else:
                    new_state = apply(target, df, key_cols, order_col)
                table.overwrite_partitions(
                    new_state,
                    extra_touched=[f"{BUCKET_COL}={b}" for b in buckets],
                )
                return
            # initial load, or full-extract (absent-key soft deletes can
            # hit ANY bucket, so the whole table is in play by semantics)
            target = table.read() if table.exists() else None
            table.overwrite(apply(target, df, key_cols, order_col,
                                  full_extract=full_extract))
            return
        target = table.read() if table.exists() else None
        new_state = apply(
            target, df, key_cols, order_col, full_extract=full_extract
        )
        table.overwrite(new_state)
        return
    raise ValueError(f"unknown write mode: {mode}")


def merge_source(col: str) -> Column:
    """Reference a SOURCE column inside ``merge_into``'s matched-clause
    expressions (the ``source.<col>`` of MERGE SQL) — update values and
    conditions evaluate over the joined frame, where source columns are
    prefixed to avoid colliding with target names."""
    return F.col(f"__src_{col}")


def merge_into(
    table: ParquetTable,
    source: DataFrame,
    key_cols: list[str],
    when_matched_update: dict[str, Column] | None = None,
    when_matched_update_condition: Column | None = None,
    when_matched_delete_condition: Column | None = None,
    when_not_matched_insert: bool = True,
    when_not_matched_insert_condition: Column | None = None,
    when_not_matched_by_source_update: dict[str, Column] | None = None,
    when_not_matched_by_source_update_condition: Column | None = None,
    when_not_matched_by_source_delete: bool = False,
    when_not_matched_by_source_delete_condition: Column | None = None,
    schema_evolution: bool = False,
) -> dict:
    """Generic conditional MERGE executor — the Delta/Iceberg
    ``MERGE INTO`` builder surface (WHEN MATCHED [AND cond] THEN
    UPDATE SET ... / DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT,
    WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE) as one
    callable over the DataFrame engine, for merges that don't fit the
    SCD1/SCD2 shapes ``batch_write`` routes.

    Semantics (Delta-faithful):
    - source rows join target rows on ``key_cols`` (source must be
      unique per key — enforced, like Delta's multiple-matches error);
    - matched + delete-condition → row removed;
    - matched + update-condition (delete checked FIRST, as Delta
      orders clauses) → ``when_matched_update`` expressions applied
      (each value Column may reference target columns and source
      columns as ``source.<col>``);
    - unmatched source rows insert when ``when_not_matched_insert``
      (and its optional condition, evaluated over the SOURCE columns
      by their plain names) allow;
    - target rows with no source match: the NOT MATCHED BY SOURCE
      clause family (the reference's soft/hard delete feeds,
      writers/writer.py:251-252,394-396,405-406) — delete checked
      first, then update; conditions/values see target columns only
      (there is no source row). With no NMBS clause they pass through
      untouched;
    - a clause condition that evaluates to NULL is NOT satisfied
      (Delta's three-valued-logic rule) — every condition is coalesced
      to false, so e.g. a NULL source column in a delete condition
      never silently drops the row;
    - ``schema_evolution=True`` is ``MERGE ... WITH SCHEMA EVOLUTION``:
      source columns the target lacks are added to the target schema
      (existing rows NULL), available to inserts and update
      expressions; on a partition-scoped commit the table is flagged
      ``schema_evolved`` since untouched buckets keep old-schema files.

    Execution shape — ONE key-keyed join, executed ONCE: target and
    source meet in a single full-outer join; clause flags, commit
    metrics (one aggregate over the flag columns), the multiple-match
    guard (a window count on the source side of the SAME shuffle —
    Catalyst reuses the exchange), the survivor projection, and the
    inserts are all derived from that joined frame, which is persisted
    (MEMORY_AND_DISK) for the metrics pass + final write and
    unpersisted after the commit. Delta computes its merge metrics
    inside the one merge job the same way.

    Returns the commit metrics dict ``{rows_updated, rows_deleted,
    rows_inserted}`` (NMBS updates/deletes count toward updated/
    deleted, as Delta reports them). On a key-hash-bucketed table
    (``stamp_bucket``/``is_bucketed``) the commit is PARTITION-SCOPED:
    only the buckets containing source keys are read and rewritten
    (Delta MERGE's touched-files behavior at bucket granularity — the
    property that keeps repeated generic merges O(touched data) at
    100 TB). A NOT-MATCHED-BY-SOURCE clause makes EVERY bucket
    touchable (any target row anywhere may change), as does an update
    that rewrites a key column (rows can migrate buckets): both force
    the full-table path — same rule as ``batch_write``'s full-extract
    branch — with the bucket column re-stamped on the way out.
    Unbucketed tables get the crash-safe staged snapshot swap.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    nmbs_delete = (
        when_not_matched_by_source_delete
        or when_not_matched_by_source_delete_condition is not None
    )
    has_nmbs = nmbs_delete or when_not_matched_by_source_update is not None

    bucketed = is_bucketed(table)
    updated_names = set(when_matched_update or {}) | set(
        when_not_matched_by_source_update or {}
    )
    keys_rewritten = bool(updated_names & (set(key_cols) | {BUCKET_COL}))
    nb = None
    if bucketed:
        nb = _bucket_count(table, None)
        source = stamp_bucket(source, key_cols, nb)
    partition_scoped = bucketed and not has_nmbs and not keys_rewritten
    touched: list[int] = []
    if partition_scoped:
        touched = _touched_buckets(source)  # control-plane sized
        target = _pruned_target(table, touched)
    else:
        target = table.read()
    t_cols = target.columns

    evolved_cols: list[str] = []
    if schema_evolution:
        # MERGE ... WITH SCHEMA EVOLUTION (Delta): source columns the
        # target lacks are added to the target schema — existing rows
        # read them back as NULL, inserts and updates may populate them
        src_dtypes = dict(source.dtypes)
        evolved_cols = [c for c in source.columns if c not in t_cols]
        if evolved_cols:
            target = target.select(
                "*",
                *[
                    F.lit(None).cast(src_dtypes[c]).alias(c)
                    for c in evolved_cols
                ],
            )
            t_cols = target.columns

    if when_not_matched_insert:
        missing = [c for c in t_cols if c not in source.columns]
        if missing:
            raise ValueError(
                f"merge_into: source lacks target columns {missing} "
                "needed for WHEN NOT MATCHED INSERT"
            )

    def _sat(cond: Column | None, enabled: bool = True) -> Column:
        """Clause-condition satisfaction under Delta's NULL rule."""
        if not enabled:
            return F.lit(False)
        if cond is None:
            return F.lit(True)
        return F.coalesce(cond, F.lit(False))

    # the insert condition references SOURCE columns by their plain
    # names (they are prefixed after the join) — evaluate it on the
    # source frame itself and carry the verdict through the join
    src = source.withColumn(
        "__ins_ok",
        _sat(when_not_matched_insert_condition, when_not_matched_insert),
    )
    # multiple-match guard: per-key source row count via a window over
    # the same key partitioning the join shuffles on (exchange reuse —
    # no separate groupBy scan of the source)
    src = src.withColumn(
        "__nsrc", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    )
    src = src.select(
        *[F.col(c).alias(f"__src_{c}") for c in src.columns]
    ).withColumn("__src_here", F.lit(True))
    tgt = target.withColumn("__tgt_here", F.lit(True))

    cond = None
    for k in key_cols:
        e = tgt[k].eqNullSafe(F.col(f"__src_{k}"))
        cond = e if cond is None else cond & e
    joined = tgt.join(src, cond, "full_outer")

    src_here = F.coalesce(F.col("__src_here"), F.lit(False))
    tgt_here = F.coalesce(F.col("__tgt_here"), F.lit(False))
    matched = tgt_here & src_here

    del_now = matched & _sat(
        when_matched_delete_condition,
        when_matched_delete_condition is not None,
    )
    upd_now = (
        matched
        & ~del_now
        & _sat(when_matched_update_condition, when_matched_update is not None)
    )
    nmbs_row = tgt_here & ~src_here
    nmbs_del_now = nmbs_row & _sat(
        when_not_matched_by_source_delete_condition, nmbs_delete
    )
    nmbs_upd_now = (
        nmbs_row
        & ~nmbs_del_now
        & _sat(
            when_not_matched_by_source_update_condition,
            when_not_matched_by_source_update is not None,
        )
    )
    ins_now = src_here & ~tgt_here & F.coalesce(
        F.col("__src___ins_ok"), F.lit(False)
    )

    marked = joined.select(
        *[tgt[c].alias(c) for c in t_cols],
        *[F.col(f"__src_{c}") for c in source.columns],
        del_now.alias("__del"),
        upd_now.alias("__upd"),
        nmbs_del_now.alias("__nmbs_del"),
        nmbs_upd_now.alias("__nmbs_upd"),
        ins_now.alias("__ins"),
        tgt_here.alias("__tgt_row"),
        F.when(src_here, F.col("__src___nsrc")).alias("__nsrc"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        stats = marked.agg(
            F.sum(F.col("__upd").cast("long")).alias("n_upd"),
            F.sum(F.col("__del").cast("long")).alias("n_del"),
            F.sum(F.col("__nmbs_upd").cast("long")).alias("n_nmbs_upd"),
            F.sum(F.col("__nmbs_del").cast("long")).alias("n_nmbs_del"),
            F.sum(F.col("__ins").cast("long")).alias("n_ins"),
            F.max(F.col("__nsrc")).alias("max_nsrc"),
        ).first()
        if (stats["max_nsrc"] or 0) > 1:
            raise ValueError(
                "merge_into: source has multiple rows per key — Delta "
                "raises here too; dedupe the source first"
            )

        updated_cols = []
        for c in t_cols:
            val = F.col(c)
            if when_matched_update and c in when_matched_update:
                val = F.when(F.col("__upd"), when_matched_update[c]).otherwise(
                    val
                )
            if (
                when_not_matched_by_source_update
                and c in when_not_matched_by_source_update
            ):
                val = F.when(
                    F.col("__nmbs_upd"), when_not_matched_by_source_update[c]
                ).otherwise(val)
            updated_cols.append(val.alias(c))
        new_state = marked.where(
            F.col("__tgt_row") & ~F.col("__del") & ~F.col("__nmbs_del")
        ).select(*updated_cols)
        if when_not_matched_insert:
            # only built when insert is enabled: an update-only merge
            # may legitimately use a source narrower than the target
            # (__ins is constant-false then, but the projection would
            # still demand __src_{c} for every target column)
            inserts = marked.where(F.col("__ins")).select(
                *[F.col(f"__src_{c}").alias(c) for c in t_cols]
            )
            new_state = new_state.unionByName(inserts)
        if bucketed and keys_rewritten:
            new_state = stamp_bucket(new_state.drop(BUCKET_COL), key_cols, nb)

        metrics = {
            "rows_updated": int(stats["n_upd"] or 0)
            + int(stats["n_nmbs_upd"] or 0),
            "rows_deleted": int(stats["n_del"] or 0)
            + int(stats["n_nmbs_del"] or 0),
            "rows_inserted": int(stats["n_ins"] or 0),
        }
        if partition_scoped:
            if evolved_cols:
                # untouched buckets keep their old-schema files, so the
                # table is mixed-schema from here on: flag BEFORE the
                # commit — a missed flag silently drops the new column
                # on read (a failed commit merely costs the mergeSchema
                # union, the conservative side of this tradeoff)
                table.set_properties({"schema_evolved": True})
            # every touched bucket is declared even when the merge
            # emptied it (all rows deleted): an undeclared-but-emptied
            # bucket would keep its stale files live
            table.overwrite_partitions(
                new_state,
                metrics=metrics,
                extra_touched=[f"{BUCKET_COL}={b}" for b in touched],
            )
        else:
            table.overwrite(new_state, metrics=metrics, op="merge")
    finally:
        marked.unpersist()
    return metrics
