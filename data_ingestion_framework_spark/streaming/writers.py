"""Streaming writers: availableNow append + foreachBatch SCD merge.

Reference parity:
- ``streaming_write_table_append`` (writers/streaming_writers.py:3-39):
  append stream with mergeSchema + availableNow + awaitTermination.
- ``streaming_merge_writer`` / ``_upsert_to_delta_streaming_*``
  (writers/writer.py:695-758,427-660): ``foreachBatch`` micro-batch
  upsert — the core streaming-merge pattern. Our batch callback reuses
  the exact batch SCD operators (operators/scd.py), so streaming and
  batch merges are identical semantics by construction (SURVEY §7.2
  step 8).

Exactly-once: the file-source checkpoint makes each input file appear
in exactly one micro-batch; the SCD apply is idempotent under replay
(same batch twice → same state), which covers the
failure-after-commit-before-checkpoint window.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from data_ingestion_framework_spark.sources.tablestore import ParquetTable


def apply_trigger(writer, trigger: str):
    """Map a config-declared trigger mode onto the writer — the
    reference's SAP config rows declare both ``availableNow`` and
    ``processingTime`` (template/sap_cdc_ingestion/config/
    create_sap_config_table.py:191). Accepted forms:
    ``"availableNow"`` (drain-and-stop) and
    ``"processingTime=<interval>"`` (continuous micro-batches, e.g.
    ``processingTime=10 seconds``)."""
    if trigger == "availableNow":
        return writer.trigger(availableNow=True)
    if trigger.startswith("processingTime"):
        interval = trigger.split("=", 1)[1].strip() if "=" in trigger else "0 seconds"
        return writer.trigger(processingTime=interval)
    raise ValueError(
        f"unknown trigger {trigger!r}: expected 'availableNow' or "
        f"'processingTime=<interval>'"
    )


def _maybe_await(q, await_termination, trigger):
    """``None`` = await only drain-and-stop triggers (a processingTime
    query never terminates on its own — the caller manages it)."""
    if await_termination is None:
        await_termination = trigger == "availableNow"
    if await_termination:
        q.awaitTermination()
    return q


def stream_append(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    query_name: str | None = None,
    await_termination: bool | None = None,
    trigger: str = "availableNow",
):
    """Append the stream to a path-backed table
    (writers/streaming_writers.py:3-39). Drops the ``_metadata``
    struct implicitly (it is not part of the projected columns)."""
    writer = apply_trigger(
        df.writeStream.format(fmt).outputMode("append"), trigger
    ).option("checkpointLocation", checkpoint)
    if query_name:
        writer = writer.queryName(query_name)
    return _maybe_await(writer.start(path), await_termination, trigger)


def foreach_batch_scd_merge(
    df: DataFrame,
    table: ParquetTable,
    key_cols: list[str],
    order_col: str,
    checkpoint: str,
    scd_type: int = 1,
    full_extract: bool = False,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    query_name: str | None = None,
    await_termination: bool | None = None,
    trigger: str = "availableNow",
    cdf_table: ParquetTable | None = None,
    optimize_every: int | None = None,
    optimize_kwargs: dict | None = None,
    surrogate_id_col: str | None = None,
):
    """Micro-batch SCD merge via ``foreachBatch``
    (writers/writer.py:695-758): each micro-batch runs the *batch* SCD
    operator against the current table state and commits the new state.

    ``transform`` runs inside the callback (per-micro-batch projection,
    e.g. the silver transformation queue).

    The commit goes through ``batch_write(mode="merge")``, so a
    key-hash-bucketed target gets the partition-scoped commit path —
    each micro-batch reads and rewrites only the buckets it touches
    (O(touched data), the property that keeps a long-running stream
    from rewriting the whole table every trigger) and, its rows being
    clustered by bucket before the write, leaves one file per touched
    bucket — and an unbucketed target gets the staged full-state swap.

    ``cdf_table`` (SCD1 only) additionally appends each micro-batch's
    Change Data Feed — the ``cdc.change_data_feed`` rows the merge
    implies, stamped ``_commit_version = batch_id`` — before the state
    commit, mirroring Delta's streaming-merge + readChangeFeed pairing.
    Delta-faithful semantics: matched rows emit update pre/post images
    whenever ANY compared column (including the order column) differs,
    exactly as ``UPDATE SET *`` does. Replay-safe: a micro-batch whose
    ``batch_id`` already appears in the feed is skipped (the
    failure-after-commit-before-checkpoint window re-delivers a batch;
    the merge is idempotent, the feed append must be guarded).

    ``optimize_every`` wires table maintenance into the merge cadence —
    the reference fires OPTIMIZE inside its foreachBatch upserts every
    101st micro-batch (writers/writer.py:276-281). Every N-th batch
    (``batch_id % N == 0``, skipping batch 0), after the state commit,
    the callback runs ``table.optimize(**optimize_kwargs)`` — the
    composite whose fixed ordering (compact/z-order → bloom rebuild →
    vacuum) keeps point lookups working right after the rewrite. A
    bucket rewrite already leaves one file per touched bucket, so a
    bucketed table's file count no longer grows per trigger; the
    cadence bin-packs the files an initial load or full-state swap
    leaves and vacuums the history each rewrite retains. ``batch_id``
    is the checkpointed epoch id, so the cadence survives restarts, and
    a replayed maintenance batch just re-compacts already-compact files
    (idempotent).
    """
    from data_ingestion_framework_spark.operators.cdc import change_data_feed
    from data_ingestion_framework_spark.operators.scd import dedupe_latest
    from data_ingestion_framework_spark.sinks.writers import batch_write

    if cdf_table is not None and scd_type != 1:
        raise ValueError("cdf_table is only supported for scd_type=1 merges")
    if surrogate_id_col and cdf_table is not None:
        raise ValueError(
            "surrogate_id_col + cdf_table: the feed would compare the "
            "surrogate before allocation; emit the CDF from the plain "
            "merge or compare business columns only"
        )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        batch_df = batch_df.drop("_metadata")
        if cdf_table is not None:
            # replay guard from the feed's COMMIT LOG, not a feed scan:
            # each append records its batch id in the commit metrics, so
            # the check is O(commit records) driver-side JSON — a feed
            # scan per trigger would grow linearly with stream lifetime
            already = any(
                (h.get("metrics") or {}).get("cdf_batch_id") == batch_id
                for h in (cdf_table.history() if cdf_table.exists() else [])
            )
            if not already:
                latest = dedupe_latest(batch_df, key_cols, order_col)
                target = table.read() if table.exists() else latest.limit(0)
                feed = change_data_feed(
                    target,
                    latest,
                    key_cols,
                    full_extract=full_extract,
                    commit_version=batch_id,
                )
                cdf_table.append(feed, metrics={"cdf_batch_id": batch_id})
        batch_write(
            batch_df,
            table,
            mode="merge",
            key_cols=key_cols,
            order_col=order_col,
            scd_type=scd_type,
            full_extract=full_extract,
            surrogate_id_col=surrogate_id_col,
        )
        if optimize_every and batch_id > 0 and batch_id % optimize_every == 0:
            table.optimize(**(optimize_kwargs or {}))

    writer = apply_trigger(df.writeStream.foreachBatch(_upsert), trigger).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    return _maybe_await(writer.start(), await_termination, trigger)
