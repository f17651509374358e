"""Streaming-path tests (FIXTURES.md F8): checkpointed append with no
duplicates on re-run, foreachBatch SCD merge parity with the batch
path, and a watermarked tumbling-window aggregation."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_framework_spark.operators import scd
from data_ingestion_framework_spark.sources.tablestore import ParquetTable
from data_ingestion_framework_spark.streaming import (
    foreach_batch_scd_merge,
    read_file_stream,
    stream_append,
)

T = dt.datetime(2024, 1, 1)


def _stage_files(spark, root, batches):
    """Write each batch as one parquet file into a landing dir."""
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "pk int, val string, mtime timestamp")
        df.coalesce(1).write.mode("append").parquet(str(root))
    return str(root)


def test_stream_append_exactly_once(spark, tmp_path):
    landing = _stage_files(
        spark,
        tmp_path / "landing",
        [[Row(pk=1, val="a", mtime=T)], [Row(pk=2, val="b", mtime=T)]],
    )
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    stream = read_file_stream(spark, landing, "parquet", control_columns=True)
    assert stream.isStreaming
    stream_append(stream.drop("_metadata"), out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # re-run with the same checkpoint: no new files → no duplicates
    stream = read_file_stream(spark, landing, "parquet", control_columns=True)
    stream_append(stream.drop("_metadata"), out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # new file arrives → only it is appended
    spark.createDataFrame(
        [Row(pk=3, val="c", mtime=T)], "pk int, val string, mtime timestamp"
    ).coalesce(1).write.mode("append").parquet(landing)
    stream = read_file_stream(spark, landing, "parquet", control_columns=True)
    stream_append(stream.drop("_metadata"), out, ckpt)
    bronze = spark.read.parquet(out)
    assert bronze.count() == 3
    assert {c for c in bronze.columns} >= {"pk", "val", "row_creation_time", "file_path"}


def test_foreach_batch_scd1_merge_matches_batch(spark, tmp_path):
    t0 = [Row(pk=1, val="a", mtime=T), Row(pk=2, val="b", mtime=T)]
    t1 = [Row(pk=1, val="a2", mtime=T + dt.timedelta(days=1)), Row(pk=3, val="c", mtime=T + dt.timedelta(days=1))]
    landing = _stage_files(spark, tmp_path / "landing", [t0, t1])

    table = ParquetTable(spark, str(tmp_path / "silver"))
    stream = read_file_stream(spark, landing, "parquet", control_columns=False)
    foreach_batch_scd_merge(
        stream, table, ["pk"], "mtime", str(tmp_path / "ckpt"), scd_type=1
    )
    got = {r["pk"]: r["val"] for r in table.read().collect()}

    # batch-path reference result on the same data
    batch = spark.read.parquet(landing)
    expect = {
        r["pk"]: r["val"]
        for r in scd.scd1_apply(None, batch, ["pk"], "mtime").collect()
    }
    assert got == expect == {1: "a2", 2: "b", 3: "c"}


def test_foreach_batch_scd2_merge_builds_history(spark, tmp_path):
    t0 = [Row(pk=1, val="a", mtime=T)]
    t1 = [Row(pk=1, val="a2", mtime=T + dt.timedelta(days=1))]
    landing = _stage_files(spark, tmp_path / "landing", [t0, t1])

    table = ParquetTable(spark, str(tmp_path / "hist"))
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    foreach_batch_scd_merge(
        stream, table, ["pk"], "mtime", str(tmp_path / "ckpt"), scd_type=2
    )
    rows = sorted(table.read().collect(), key=lambda r: r["start_time"])
    assert [(r["val"], r["is_current"]) for r in rows] == [("a", 0), ("a2", 1)]
    assert rows[0]["end_time"] == rows[1]["start_time"]


def test_watermarked_tumbling_window(spark, tmp_path):
    rows = [
        Row(ts=T + dt.timedelta(hours=h), k="x", v=1.0) for h in (1, 2, 30)
    ]
    landing = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, k string, v double").write.parquet(landing)

    stream = read_file_stream(spark, landing, "parquet", control_columns=False)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["w"]["start"].day, r["n"]) for r in spark.table("win_counts").collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_stateful_distinct_keys_across_batches(spark, tmp_path):
    """applyInPandasWithState: a key arriving in a later micro-batch is
    emitted only on first sight (cross-batch state)."""
    from data_ingestion_framework_spark.streaming.stateful import (
        stateful_distinct_keys,
    )

    landing = _stage_files(
        spark,
        tmp_path / "land",
        [
            [Row(pk=1, val="a", mtime=T), Row(pk=2, val="b", mtime=T)],
            [Row(pk=1, val="a2", mtime=T), Row(pk=3, val="c", mtime=T)],
        ],
    )
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    out = stateful_distinct_keys(stream, ["pk"])
    q = (
        out.writeStream.format("memory")
        .queryName("distinct_keys")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    rows = [r["pk"] for r in spark.table("distinct_keys").collect()]
    assert sorted(rows) == [1, 2, 3]  # pk=1 exactly once despite 2 arrivals


def test_stateful_running_counts(spark, tmp_path):
    from data_ingestion_framework_spark.streaming.stateful import (
        stateful_running_counts,
    )

    landing = _stage_files(
        spark,
        tmp_path / "land2",
        [
            [Row(pk=1, val="a", mtime=T)],
            [Row(pk=1, val="b", mtime=T)],
        ],
    )
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    ).withColumn("v", F.lit(2.5))
    out = stateful_running_counts(stream, ["pk"], "v")
    q = (
        out.writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        spark.table("running_counts").collect(), key=lambda r: r["n"]
    )
    # two micro-batches → running state (1, 2.5) then (2, 5.0)
    assert (rows[-1]["n"], rows[-1]["total"]) == (2, 5.0)


def test_foreach_batch_merge_bucketed_partition_scoped(spark, tmp_path):
    """A bucketed streaming target commits partition-scoped: the second
    micro-batch run rewrites only the buckets its keys hash into."""
    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL, batch_write

    table = ParquetTable(spark, str(tmp_path / "silver_b"), partition_by=[BUCKET_COL])
    initial = spark.createDataFrame(
        [Row(pk=i, val=f"v{i}", mtime=T) for i in range(100)],
        "pk int, val string, mtime timestamp",
    )
    batch_write(initial, table, mode="merge", key_cols=["pk"], order_col="mtime",
                scd_type=1, num_buckets=8)

    landing = _stage_files(
        spark,
        tmp_path / "landing_b",
        [[Row(pk=3, val="v3b", mtime=T + dt.timedelta(days=1))]],
    )
    stream = read_file_stream(spark, landing, "parquet", control_columns=False)
    foreach_batch_scd_merge(
        stream, table, ["pk"], "mtime", str(tmp_path / "ckpt_b"), scd_type=1
    )
    last = table.history()[-1]
    assert last["op"] == "overwrite_partitions"
    assert len(last["metrics"]["touched_partitions"]) == 1
    got = {r["pk"]: r["val"] for r in table.read().collect()}
    assert got[3] == "v3b" and got[4] == "v4" and len(got) == 100


def test_stream_merge_triggers_keep_one_file_per_touched_bucket(spark, tmp_path):
    """Each micro-batch's partition-scoped commit writes one file per
    bucket it touches, so across three triggers that touch every bucket
    the table's file count stays at the bucket count instead of growing
    by (write tasks x buckets) per trigger."""
    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL, batch_write

    table = ParquetTable(spark, str(tmp_path / "silver_c"), partition_by=[BUCKET_COL])
    batch_write(
        spark.createDataFrame(
            [Row(pk=i, val=f"v{i}", mtime=T) for i in range(40)],
            "pk int, val string, mtime timestamp",
        ),
        table, mode="merge", key_cols=["pk"], order_col="mtime",
        scd_type=1, num_buckets=4,
    )
    landing = tmp_path / "landing_c"
    for n in range(1, 4):
        _stage_files(spark, landing, [[
            Row(pk=k, val=f"t{n}", mtime=T + dt.timedelta(days=n))
            for k in range(10 * n, 10 * n + 30)
        ]])
        stream = read_file_stream(
            spark, str(landing), "parquet", control_columns=False
        )
        foreach_batch_scd_merge(
            stream, table, ["pk"], "mtime", str(tmp_path / "ckpt_c"),
            scd_type=1,
        )
        last = table.last_commit()
        assert last["op"] == "overwrite_partitions"
        touched = last["metrics"]["touched_partitions"]
        assert len(touched) == 4
        assert table.file_count() == len(touched)
    got = {r["pk"]: r["val"] for r in table.read().collect()}
    assert len(got) == 60  # keys 40..59 inserted by triggers 2 and 3
    assert (got[5], got[15], got[25], got[35]) == ("v5", "t1", "t2", "t3")


def test_stream_merge_bucketed_with_optimize_cadence(spark, tmp_path):
    """optimize_every + bucketed target compose end-to-end: a stream of
    micro-batches commits partition-scoped merges, the N-th batch runs
    the optimize() composite (compact → bloom rebuild → vacuum) on the
    SAME bucketed table, and afterwards the file count is bounded, the
    bloom sidecar is fresh (point_lookup works — a stale sidecar would
    refuse), and the final state matches the batch-SCD expectation."""
    from data_ingestion_framework_spark.sinks.writers import (
        BUCKET_COL,
        batch_write,
    )

    table = ParquetTable(
        spark, str(tmp_path / "silver_opt"), partition_by=[BUCKET_COL]
    )
    initial = spark.createDataFrame(
        [Row(pk=i, val=f"v{i}", mtime=T) for i in range(50)],
        "pk int, val string, mtime timestamp",
    )
    batch_write(initial, table, mode="merge", key_cols=["pk"],
                order_col="mtime", scd_type=1, num_buckets=4)

    # four staged files → four micro-batches (ids 0..3); batch 3 fires
    # the optimize cadence (optimize_every=3) as the final act
    d = dt.timedelta
    landing = _stage_files(
        spark,
        tmp_path / "landing_opt",
        [
            [Row(pk=1, val="b1", mtime=T + d(days=1))],
            [Row(pk=2, val="b2", mtime=T + d(days=2))],
            [Row(pk=60, val="new", mtime=T + d(days=3))],
            [Row(pk=3, val="b3", mtime=T + d(days=4))],
        ],
    )
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False,
        max_files_per_trigger=1,
    )
    foreach_batch_scd_merge(
        stream,
        table,
        ["pk"],
        "mtime",
        str(tmp_path / "ckpt_opt"),
        scd_type=1,
        optimize_every=3,
        optimize_kwargs={
            "target_files": 4,
            "bloom_columns": ("pk",),
            "vacuum": True,
        },
    )

    ops = [h["op"] for h in table.history()]
    # every micro-batch merge committed partition-scoped...
    assert ops.count("overwrite_partitions") >= 4
    for h in table.history():
        if h["op"] == "overwrite_partitions":
            assert 1 <= len(h["metrics"]["touched_partitions"]) <= 4
    # ...and the cadence fired the compaction after the last merge
    assert ops[-1] == "compact"
    # compaction bounds the accumulated per-batch files
    assert table.file_count() <= 16  # target_files × buckets worst case
    # bloom sidecar rebuilt AFTER the rewrite → fresh, lookups work
    assert [r["pk"] for r in table.point_lookup("pk", 60).collect()] == [60]
    assert [r["val"] for r in table.point_lookup("pk", 2).collect()] == ["b2"]
    # final state equals the batch-SCD expectation
    got = {r["pk"]: r["val"] for r in table.read().collect()}
    assert len(got) == 51
    assert (got[1], got[2], got[3], got[60], got[4]) == (
        "b1", "b2", "b3", "new", "v4",
    )
    # vacuum ran inside the composite: retained snapshots are gone
    import os

    hist_dir = os.path.join(table.path, "_history")
    assert not os.path.isdir(hist_dir) or not os.listdir(hist_dir)


def test_session_window_stream_agg(spark, tmp_path):
    """F.session_window on a stream: events <30min apart merge into one
    session; a >=30min gap opens a new one; end = last_ts + gap."""
    from data_ingestion_framework_spark.streaming.windows import session_window_agg

    m = dt.timedelta(minutes=1)
    rows = [
        Row(ts=T, u="a"),
        Row(ts=T + 10 * m, u="a"),     # merges (gap 10m)
        Row(ts=T + 45 * m, u="a"),     # new session (gap 35m)
        Row(ts=T, u="b"),
    ]
    landing = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, u string").write.parquet(landing)

    stream = read_file_stream(spark, landing, "parquet", control_columns=False)
    agg = session_window_agg(
        stream, "ts", ["u"], gap="30 minutes", watermark_delay="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["u"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sessions").collect()
    }
    assert got == {
        ("a", T, T + 40 * m, 2),
        ("a", T + 45 * m, T + 75 * m, 1),
        ("b", T, T + 30 * m, 1),
    }


def test_session_window_batch_matches_lag_cumsum(spark):
    """The session_window operator and the manual lag→cumsum sessionizer
    agree on batch data (same gap, strict-< merge semantics)."""
    from data_ingestion_framework_spark.streaming.windows import session_window_agg

    m = dt.timedelta(minutes=1)
    rows = [
        Row(ts=T + off * m, u=u)
        for u in ("x", "y")
        for off in (0, 5, 29, 60, 89, 90, 180)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, u string")
    got = {
        (r["u"], r["session_start"], r["n_events"])
        for r in session_window_agg(df, "ts", ["u"], gap="30 minutes").collect()
    }
    # islands by hand: 0,5,29 | 60,89 | 90 merges? gap(90-89)=1m < 30m → merges | 180
    assert got == {
        (u, T, 3) for u in ("x", "y")
    } | {
        (u, T + 60 * m, 3) for u in ("x", "y")
    } | {
        (u, T + 180 * m, 1) for u in ("x", "y")
    }


def test_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: same key arriving in a later
    micro-batch within the delay is dropped; output has one row/key."""
    from data_ingestion_framework_spark.streaming.windows import dedup_within_watermark

    b0 = [Row(k=1, ts=T, v="first"), Row(k=2, ts=T, v="first")]
    b1 = [Row(k=1, ts=T + dt.timedelta(minutes=5), v="dup")]
    landing = _stage_files(
        spark,
        tmp_path / "landing",
        [
            [Row(pk=r.k, val=r.v, mtime=r.ts) for r in b0],
            [Row(pk=r.k, val=r.v, mtime=r.ts) for r in b1],
        ],
    )
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    deduped = dedup_within_watermark(stream, ["pk"], "mtime", delay="1 hour")
    out = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["pk"], r["val"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "first"), (2, "first")}


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined on key within a 10-minute event-time
    interval; watermarks on both sides bound the join state."""
    from data_ingestion_framework_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    m = dt.timedelta(minutes=1)
    pdir, cdir = str(tmp_path / "purchases"), str(tmp_path / "clicks")
    spark.createDataFrame(
        [Row(pid=1, u="a", pts=T), Row(pid=2, u="a", pts=T + 60 * m)],
        "pid int, u string, pts timestamp",
    ).write.parquet(pdir)
    spark.createDataFrame(
        [
            Row(cid=10, u="a", cts=T + 5 * m),    # joins pid=1
            Row(cid=11, u="a", cts=T + 15 * m),   # outside both windows
            Row(cid=12, u="a", cts=T + 60 * m),   # joins pid=2 (boundary ==)
            Row(cid=13, u="b", cts=T + 2 * m),    # key with no purchases
        ],
        "cid int, u string, cts timestamp",
    ).write.parquet(cdir)

    purchases = read_file_stream(spark, pdir, "parquet", control_columns=False)
    clicks = read_file_stream(spark, cdir, "parquet", control_columns=False)
    joined = stream_stream_interval_join(
        purchases, clicks, ["u"], "pts", "cts", window_seconds=600
    ).select("pid", "cid")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {(r["pid"], r["cid"]) for r in spark.table("ssj").collect()}
    assert got == {(1, 10), (2, 12)}


def test_processing_time_trigger_runs_to_stop_condition(spark, tmp_path):
    """processingTime trigger (reference create_sap_config_table.py:191):
    the query keeps polling for new files in continuous micro-batches —
    files landed AFTER start are picked up without a restart; the caller
    stops the query (it never self-terminates)."""
    import time

    from data_ingestion_framework_spark.streaming.writers import stream_append

    land = str(tmp_path / "land_pt")
    spark.createDataFrame([Row(a=1)]).coalesce(1).write.mode("append").parquet(land)
    stream = read_file_stream(spark, land, "parquet", control_columns=False)
    q = stream_append(
        stream,
        str(tmp_path / "out_pt"),
        str(tmp_path / "ckpt_pt"),
        trigger="processingTime=1 seconds",
    )
    try:
        assert q.isActive  # auto-await is skipped for processingTime
        # a file landing while the query runs is ingested by a later batch
        spark.createDataFrame([Row(a=2)]).coalesce(1).write.mode("append").parquet(land)
        deadline = time.time() + 60
        seen = set()
        while time.time() < deadline and seen != {1, 2}:
            try:
                seen = {
                    r["a"]
                    for r in spark.read.parquet(str(tmp_path / "out_pt")).collect()
                }
            except Exception:
                pass  # sink dir not created yet
            time.sleep(0.5)
        assert seen == {1, 2}
    finally:
        q.stop()
        q.awaitTermination()


def test_path_glob_filter_ingests_only_matching_files(spark, tmp_path):
    """pathGlobFilter (reference di_landing_to_raw_generic_v2.py:294-314):
    only files matching the glob are discovered — schema inference and
    ingest both skip the rest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the glob matches leaf FILE names — write named files directly
    land = tmp_path / "land_glob"
    land.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(land / "data_a.parquet"))
    # decoy with a DIFFERENT schema: if the glob leaked, inference or
    # ingest would pick it up
    pq.write_table(pa.table({"z": ["nope"]}), str(land / "skip_b.parquet"))
    stream = read_file_stream(
        spark,
        str(land),
        "parquet",
        control_columns=False,
        path_glob_filter="data_*.parquet",
    )
    from data_ingestion_framework_spark.streaming.writers import stream_append

    stream_append(stream, str(tmp_path / "out_glob"), str(tmp_path / "ckpt_glob"))
    out = spark.read.parquet(str(tmp_path / "out_glob"))
    assert set(out.columns) == {"a"}
    assert {r["a"] for r in out.collect()} == {1, 2}


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: a file stream broadcast-enriched against a
    static dim frame; left rows with no dim match keep NULLs."""
    from data_ingestion_framework_spark.streaming.windows import (
        stream_static_enrich,
    )

    edir = str(tmp_path / "events_in")
    spark.createDataFrame(
        [Row(eid=1, u="a"), Row(eid=2, u="b"), Row(eid=3, u="zz")],
        "eid int, u string",
    ).write.parquet(edir)
    dim = spark.createDataFrame(
        [Row(u="a", region="emea"), Row(u="b", region="amer")],
        "u string, region string",
    )
    stream = read_file_stream(spark, edir, "parquet", control_columns=False)
    enriched = stream_static_enrich(stream, dim, ["u"])
    q = (
        enriched.writeStream.format("memory")
        .queryName("sse")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {(r["eid"], r["region"]) for r in spark.table("sse").collect()}
    assert got == {(1, "emea"), (2, "amer"), (3, None)}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stream_static_enrich(stream, dim, ["u"], how="right")


def test_stream_mg_heavy_hitters_folds_batches(spark, tmp_path):
    """Two micro-batches fold into one bounded MG state whose finalized
    bounds hold against the exact counts of the whole stream; re-running
    with the same checkpoint leaves the state untouched (replay guard)."""
    from data_ingestion_framework_spark.operators.sketches import mg_finalize
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.windows import (
        stream_mg_heavy_hitters,
    )

    def batch_rows(lo, hi):
        rows, rid = [], lo * 100_000
        for v in range(1, 60):
            for _ in range(-(-400 // v)):
                rows.append(Row(rid=rid, val=f"u{v:03d}"))
                rid += 1
        return rows

    landing = str(tmp_path / "landing")
    for i in range(2):
        spark.createDataFrame(batch_rows(i, i + 1), "rid long, val string") \
            .coalesce(1).write.mode("append").parquet(landing)

    state = ParquetTable(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    # one file per trigger so the fold's MERGE path genuinely runs
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    q = stream_mg_heavy_hitters(stream, state, ckpt, "val", "rid", n_shards=4, m=12)
    q.awaitTermination()
    assert state.read().agg(F.max("__last_batch")).first()[0] >= 1  # ≥2 batches folded

    exact = {}
    for i in range(2):
        for r in batch_rows(i, i + 1):
            exact[r.val] = exact.get(r.val, 0) + 1
    got = mg_finalize(state.read(), "val", k=8).collect()
    assert len(got) == 8 and got[0]["val"] == "u001"
    for r in got:
        assert r["est_count"] <= exact[r["val"]] <= r["upper_bound"], r
    # bounded state regardless of volume
    assert state.read().count() <= 4

    # same checkpoint, no new files -> state byte-identical (no refold)
    before = sorted(tuple(r) for r in state.read().collect())
    stream = read_file_stream(spark, landing, "parquet", control_columns=False)
    q = stream_mg_heavy_hitters(stream, state, ckpt, "val", "rid", n_shards=4, m=12)
    q.awaitTermination()
    assert sorted(tuple(r) for r in state.read().collect()) == before


def test_foreach_batch_merge_emits_change_feed(spark, tmp_path):
    """The streaming merge's CDF table carries per-micro-batch
    insert/update images stamped with the batch id — Delta's
    streaming-merge + readChangeFeed pairing on plain parquet."""
    t0 = [Row(pk=1, val="a", mtime=T), Row(pk=2, val="b", mtime=T)]
    t1 = [
        Row(pk=1, val="a2", mtime=T + dt.timedelta(days=1)),
        Row(pk=3, val="c", mtime=T + dt.timedelta(days=1)),
    ]
    landing = _stage_files(spark, tmp_path / "landing", [t0, t1])

    table = ParquetTable(spark, str(tmp_path / "silver"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    foreach_batch_scd_merge(
        stream, table, ["pk"], "mtime", str(tmp_path / "ckpt"),
        scd_type=1, cdf_table=feed,
    )
    rows = feed.read().collect()
    by_version = {}
    for r in rows:
        by_version.setdefault(r["_commit_version"], []).append(r)
    assert sorted(by_version) == [0, 1]
    # batch 0: empty target -> both rows are inserts
    assert sorted(
        (r["pk"], r["_change_type"]) for r in by_version[0]
    ) == [(1, "insert"), (2, "insert")]
    # batch 1: pk=1 updates (pre+post), pk=3 inserts, pk=2 untouched
    assert sorted(
        (r["pk"], r["_change_type"]) for r in by_version[1]
    ) == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (3, "insert"),
    ]
    pre = [r for r in by_version[1] if r["_change_type"] == "update_preimage"][0]
    post = [r for r in by_version[1] if r["_change_type"] == "update_postimage"][0]
    assert pre["val"] == "a" and post["val"] == "a2"
    # the merged state matches the batch reference as before
    got = {r["pk"]: r["val"] for r in table.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}


def test_foreach_batch_cdf_rejects_scd2(spark, tmp_path):
    import pytest as _pytest

    feed = ParquetTable(spark, str(tmp_path / "feed"))
    table = ParquetTable(spark, str(tmp_path / "t"))
    with _pytest.raises(ValueError, match="scd_type=1"):
        foreach_batch_scd_merge(
            spark.readStream.format("rate").load(),
            table, ["pk"], "mtime", str(tmp_path / "ckpt"),
            scd_type=2, cdf_table=feed,
        )


def test_foreach_batch_merge_optimize_cadence(spark, tmp_path):
    """optimize_every wires maintenance into the merge cadence (the
    reference fires OPTIMIZE every 101st micro-batch inside its
    foreachBatch upserts, writers/writer.py:276-281): across N+1
    micro-batches the table's file count stays bounded and the bloom
    sidecar is fresh (point_lookup works with NO manual rebuild)."""
    batches = [
        [Row(pk=i, val=f"b{b}v{i}", mtime=T + dt.timedelta(days=b))
         for i in range(b * 10, b * 10 + 10)]
        for b in range(5)
    ]
    landing = _stage_files(spark, tmp_path / "landing_opt", batches)

    table = ParquetTable(spark, str(tmp_path / "silver_opt"))
    stream = read_file_stream(
        spark, landing, "parquet", control_columns=False, max_files_per_trigger=1
    )
    foreach_batch_scd_merge(
        stream,
        table,
        ["pk"],
        "mtime",
        str(tmp_path / "ckpt_opt"),
        scd_type=1,
        optimize_every=2,
        optimize_kwargs={"target_files": 2, "bloom_columns": ("pk",), "vacuum": True},
    )
    # 5 micro-batches (one file each), maintenance fired at batch 2 and 4
    ops = [h["op"] for h in table.history()]
    assert ops.count("compact") == 2
    # last op sequence is merge-commit then compact: files stay bounded
    assert table.file_count() <= 2
    # bloom sidecar was rebuilt by the batch-4 optimize — fresh, usable
    got = table.point_lookup("pk", 23).collect()
    assert [(r["pk"], r["val"]) for r in got] == [(23, "b2v23")]
    # merge state intact across the maintenance rewrites
    assert table.read().count() == 50


def test_corpus_stream_neardedup_ingest(spark, tmp_path):
    """Continuous near-dedup ingest: batch docs near-matching the
    persisted signature index (or a lower-id doc in the same batch)
    are dropped; the index grows by the survivors only; a second
    availableNow round against the same checkpoint picks up only new
    files and dedups against round-1 state."""
    from data_ingestion_framework_spark.plans.corpus import (
        corpus_stream_neardedup_ingest,
    )

    A = ("the quick brown fox jumps over the lazy dog and runs far away "
         "today with friends")
    B = ("completely different content about spark distributed query "
         "processing engines at scale")
    C = ("a third unrelated document describing parquet footer statistics "
         "and column pruning")
    landing = tmp_path / "landing"
    landing.mkdir()
    table = ParquetTable(spark, str(tmp_path / "corpus"))
    sig_table = ParquetTable(spark, str(tmp_path / "sigs"))
    ckpt = str(tmp_path / "ckpt")

    def run_round():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .parquet(str(landing))
        )
        corpus_stream_neardedup_ingest(
            stream, table, sig_table, ckpt,
            min_agreement=0.8, await_termination=True,
        )

    spark.createDataFrame([(1, A), (2, B)], "doc_id bigint, text string"
        ).coalesce(1).write.mode("append").parquet(str(landing))
    run_round()
    assert table.read().count() == 2
    assert sig_table.read().count() == 2

    nearA = A.replace("today", "tonight")  # near-dup of doc 1
    spark.createDataFrame(
        [(3, nearA), (4, C), (5, C)], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(str(landing))
    run_round()
    got = {r["doc_id"] for r in table.read().collect()}
    assert got == {1, 2, 4}  # 3 near-dups index, 5 intra-dups 4
    assert sig_table.read().count() == 3
    # replaying with no new files is a no-op
    run_round()
    assert table.read().count() == 3
    assert sig_table.read().count() == 3


def test_foreach_batch_surrogate_scd1_merge(spark, tmp_path):
    """Streaming surrogate-key dimension load: foreachBatch merges with
    surrogate_id_col against a BY DEFAULT identity target — a key's
    surrogate is minted in its first micro-batch and survives updates
    in later batches AND across separate stream runs (checkpoint
    restart)."""
    T2 = dt.datetime(2024, 1, 2)
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.readers import (
        read_file_stream,
    )
    from data_ingestion_framework_spark.streaming.writers import (
        foreach_batch_scd_merge,
    )

    landing = _stage_files(
        spark,
        tmp_path / "landing",
        [
            [Row(pk=1, val="a", mtime=T), Row(pk=2, val="b", mtime=T)],
        ],
    )
    table = ParquetTable(spark, str(tmp_path / "dim"))
    table.add_identity_column("row_id", always=False)
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_file_stream(
            spark, landing, "parquet", control_columns=False
        )
        foreach_batch_scd_merge(
            stream,
            table,
            ["pk"],
            "mtime",
            ckpt,
            surrogate_id_col="row_id",
        )

    run()
    ids1 = {r["pk"]: r["row_id"] for r in table.read().collect()}
    assert sorted(ids1.values()) == [1, 2]  # ordered by business key

    # second run after restart: pk=1 updated, pk=3 new
    spark.createDataFrame(
        [Row(pk=1, val="a2", mtime=T2), Row(pk=3, val="c", mtime=T2)],
        "pk int, val string, mtime timestamp",
    ).coalesce(1).write.mode("append").parquet(landing)
    run()
    rows = {r["pk"]: (r["val"], r["row_id"]) for r in table.read().collect()}
    assert rows[1] == ("a2", ids1[1])
    assert rows[2] == ("b", ids1[2])
    assert rows[3][0] == "c" and rows[3][1] == 3


# -- DLT-style streaming expectations ---------------------------------------


def _exp_rules():
    from data_ingestion_framework_spark.operators.dq import DQRule

    return [
        DQRule(rule_id="v_pos", rule_type="range_check", column="v",
               operator=">", threshold_low=0),
        DQRule(rule_id="nn", rule_type="null_check", column="name"),
    ]


def test_expect_drop_and_fail_modes(spark, tmp_path):
    from data_ingestion_framework_spark.streaming.expectations import expect

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 3.0), (3, "c", -1.0)], "k long, name string, v double"
    ).write.json(src)
    stream = spark.readStream.schema("k long, name string, v double").json(src)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    from data_ingestion_framework_spark.streaming.writers import stream_append

    gated = expect(stream, _exp_rules(), on_violation="drop")
    stream_append(gated, out_dir, ck, await_termination=True)
    rows = spark.read.parquet(out_dir).collect()
    assert [r["k"] for r in rows] == [1]
    assert "data_quality_valid_flag" not in rows[0].asDict()

    # fail mode: the violating row must kill the stream loudly
    import pytest as _pt

    from pyspark.errors import StreamingQueryException

    failing = expect(stream, _exp_rules(), on_violation="fail")
    with _pt.raises(StreamingQueryException, match="expectation failed"):
        stream_append(
            failing, str(tmp_path / "out2"), str(tmp_path / "ck2"),
            await_termination=True,
        )


def _wait_streams_drained(spark, timeout_s: float = 15.0) -> None:
    """awaitTermination returns slightly before the query deregisters;
    restarting on the SAME checkpoint immediately can trip the
    'multiple streaming queries are concurrently using' guard."""
    import time as _t

    deadline = _t.time() + timeout_s
    while spark.streams.active and _t.time() < deadline:
        _t.sleep(0.1)


def _uncommit_batch0(ck: str) -> None:
    """Delete commits/0 AND its .crc sidecar (the checksum fs refuses
    the rewrite otherwise) so a restart on the SAME checkpoint
    redelivers batch 0 with the same batch id — the real crash-replay
    shape."""
    import os as _os

    commits = _os.path.join(ck, "commits")
    for name in ("0", ".0.crc"):
        p = _os.path.join(commits, name)
        if _os.path.exists(p):
            _os.remove(p)


def test_expect_and_quarantine_splits_with_replay_guard(spark, tmp_path):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.expectations import (
        expect_and_quarantine,
    )

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 3.0), (3, "c", -1.0), (4, "d", 2.0)],
        "k long, name string, v double",
    ).write.json(src)
    stream = spark.readStream.schema("k long, name string, v double").json(src)
    target = ParquetTable(spark, str(tmp_path / "t"))
    quar = ParquetTable(spark, str(tmp_path / "q"))
    ck = str(tmp_path / "ck")
    expect_and_quarantine(
        stream, _exp_rules(), target, quar, ck, await_termination=True
    )
    assert sorted(r["k"] for r in target.read().collect()) == [1, 4]
    qrows = {r["k"]: r["data_quality_result_array"] for r in quar.read().collect()}
    assert set(qrows) == {2, 3}
    assert qrows[2] == ["nn"] and qrows[3] == ["v_pos"]
    # a REAL replay reuses the same checkpoint: deleting commits/0
    # makes the engine consider batch 0 uncommitted and redeliver it
    # with the SAME batch id on restart — the ledger makes it a no-op
    import os as _os

    _wait_streams_drained(spark)
    _uncommit_batch0(ck)
    expect_and_quarantine(
        stream, _exp_rules(), target, quar, ck, await_termination=True
    )
    assert sorted(r["k"] for r in target.read().collect()) == [1, 4]
    assert len(quar.read().collect()) == 2


def test_expect_rejects_stateful_rules(spark, tmp_path):
    import pytest

    from data_ingestion_framework_spark.operators.dq import DQRule
    from data_ingestion_framework_spark.streaming.expectations import expect

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="row-local"):
        expect(df, [DQRule(rule_id="u", rule_type="unique_check", column="k")])


def test_quarantine_ledger_is_per_table_after_partial_crash(spark, tmp_path):
    """A crash BETWEEN target.append and quarantine.append replays the
    batch with its id already in target's ledger but not quarantine's —
    the guards must be independent or the violating rows are lost
    forever (the documented 'exactly-once across the pair')."""
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.expectations import (
        expect_and_quarantine,
    )

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 3.0), (3, "c", -1.0), (4, "d", 2.0)],
        "k long, name string, v double",
    ).write.json(src)
    stream = spark.readStream.schema("k long, name string, v double").json(src)
    target = ParquetTable(spark, str(tmp_path / "t"))
    quar = ParquetTable(spark, str(tmp_path / "q"))
    expect_and_quarantine(
        stream, _exp_rules(), target, quar, str(tmp_path / "ck"),
        await_termination=True,
    )
    # simulate the crash: quarantine's commit for batch 0 never landed,
    # and the engine (same checkpoint, commits/0 gone) redelivers
    # batch 0 with the SAME batch id on restart
    import os as _os
    import shutil as _shutil

    _shutil.rmtree(quar.path)
    _wait_streams_drained(spark)
    _uncommit_batch0(str(tmp_path / "ck"))
    quar2 = ParquetTable(spark, str(tmp_path / "q"))
    # replay: target must NOT double-append, quarantine MUST receive
    # its lost rows
    expect_and_quarantine(
        stream, _exp_rules(), target, quar2, str(tmp_path / "ck"),
        await_termination=True,
    )
    assert sorted(r["k"] for r in target.read().collect()) == [1, 4]
    qrows = {r["k"]: r["data_quality_result_array"] for r in quar2.read().collect()}
    assert set(qrows) == {2, 3}
    assert qrows[2] == ["nn"] and qrows[3] == ["v_pos"]


def test_quarantine_ledger_scoped_per_pipeline(spark, tmp_path):
    """Two PIPELINES (distinct checkpoints, distinct sources) fanning
    into the same target/quarantine pair: both start at batch id 0,
    and the (stream_query_id, stream_batch_id) ledger keeps them
    apart — pipeline B's batch 0 must not be swallowed by pipeline
    A's ledger entry (that was silent data loss, not replay)."""
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.expectations import (
        expect_and_quarantine,
    )

    schema = "k long, name string, v double"
    src_a, src_b = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    spark.createDataFrame([(1, "a", 5.0), (2, None, 3.0)], schema).write.json(src_a)
    spark.createDataFrame([(7, "g", 1.0), (8, "h", -2.0)], schema).write.json(src_b)
    target = ParquetTable(spark, str(tmp_path / "t"))
    quar = ParquetTable(spark, str(tmp_path / "q"))
    expect_and_quarantine(
        spark.readStream.schema(schema).json(src_a), _exp_rules(),
        target, quar, str(tmp_path / "ck_a"), await_termination=True,
    )
    expect_and_quarantine(
        spark.readStream.schema(schema).json(src_b), _exp_rules(),
        target, quar, str(tmp_path / "ck_b"), await_termination=True,
    )
    assert sorted(r["k"] for r in target.read().collect()) == [1, 7]
    assert sorted(r["k"] for r in quar.read().collect()) == [2, 8]


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched purchases emit
    join rows; unmatched purchases emit null-padded rows once the
    watermark passes their interval. A late tail event pushes the
    watermark far enough that every unmatched row flushes in the
    availableNow run."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    batches = [
        [
            # purchase with a same-user click 10 min before → match;
            # another purchase with NO same-user click → null padding
            (1, 7, "click", base),
            (2, 7, "purchase", base + dt.timedelta(minutes=10)),
            (3, 8, "purchase", base + dt.timedelta(hours=5)),
        ],
        # each later batch advances the watermark ON BOTH SIDES (the
        # global watermark is the MIN across the two inputs, and only
        # rows surviving each side's filter feed its watermark node);
        # the final batch runs with the watermark past every open
        # interval, so the unmatched purchase's null row flushes
        [
            (90, 20, "purchase", base + dt.timedelta(days=30)),
            (91, 21, "click", base + dt.timedelta(days=30)),
        ],
        [
            (92, 22, "purchase", base + dt.timedelta(days=60)),
            (93, 23, "click", base + dt.timedelta(days=60)),
        ],
    ]
    src = str(tmp_path / "in")
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    spark.createDataFrame(batches[0], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    # outer stream-stream joins REQUIRE an equality predicate alongside
    # the interval condition (Spark refuses pure-theta outer joins —
    # state cleanup needs a key)
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            joined.writeStream.format("parquet")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # batch 1: inner match emits, outer state stays open
    for extra in batches[1:]:
        spark.createDataFrame(extra, schema).write.mode("append").parquet(src)
        run_once()
    got = {r["purchase_id"]: r["click_id"] for r in spark.read.parquet(out).collect()}
    # the matched purchase carries its click; both watermark-expired
    # unmatched purchases (3, and the day-30 sentinel once day-60 data
    # arrived) emit null-padded rows; the day-60 sentinel stays open
    assert got == {2: 1, 3: None, 90: None}


def _outer_join_lifecycle(spark, tmp_path, how):
    """Shared rig for the rightOuter/fullOuter stream-stream interval
    join lifecycles: same purchases/clicks shape as the leftOuter test
    plus an UNMATCHED CLICK (id 4), run over three availableNow
    triggers whose later batches keep BOTH sides' watermarks moving
    (the global watermark is the MIN across inputs and only rows
    surviving each side's filter advance it — null padding flushes
    need later surviving batches)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    batches = [
        [
            (1, 7, "click", base),
            (2, 7, "purchase", base + dt.timedelta(minutes=10)),
            (3, 8, "purchase", base + dt.timedelta(hours=5)),
            (4, 9, "click", base),  # no same-user purchase ever
        ],
        [
            (90, 20, "purchase", base + dt.timedelta(days=30)),
            (91, 21, "click", base + dt.timedelta(days=30)),
        ],
        [
            (92, 22, "purchase", base + dt.timedelta(days=60)),
            (93, 23, "click", base + dt.timedelta(days=60)),
        ],
    ]
    src = str(tmp_path / "in")
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    spark.createDataFrame(batches[0], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    ).select("purchase_id", "click_id")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            joined.writeStream.format("parquet")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    for extra in batches[1:]:
        spark.createDataFrame(extra, schema).write.mode("append").parquet(src)
        run_once()
    return {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    }


def test_stream_stream_right_outer_interval_join(spark, tmp_path):
    """RIGHT OUTER: matched pairs emit; watermark-expired unmatched
    CLICKS null-pad on the purchase side (clicks 4 and the day-30
    sentinel 91 once day-60 data arrives; the day-60 click stays
    open); unmatched purchases emit nothing."""
    got = _outer_join_lifecycle(spark, tmp_path, "rightOuter")
    assert got == {(2, 1), (None, 4), (None, 91)}


def test_stream_stream_full_outer_interval_join(spark, tmp_path):
    """FULL OUTER: matched pairs plus BOTH sides' watermark-expired
    unmatched rows (purchases 3 and 90; clicks 4 and 91); the day-60
    sentinels on both sides stay open past the last trigger."""
    got = _outer_join_lifecycle(spark, tmp_path, "fullOuter")
    assert got == {(2, 1), (3, None), (90, None), (None, 4), (None, 91)}


def test_progress_logger_captures_micro_batches(spark, tmp_path):
    """StreamingQueryListener telemetry: every micro-batch's progress
    event lands in a table via flush() — engine metrics joinable with
    the audit log."""
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.observability import (
        ProgressLogger,
    )
    from data_ingestion_framework_spark.streaming.writers import stream_append

    src = str(tmp_path / "in")
    spark.createDataFrame([(i,) for i in range(20)], "k long").write.parquet(src)
    ledger = ParquetTable(spark, str(tmp_path / "metrics"))
    listener = ProgressLogger(spark, ledger)
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("k long").parquet(src)
        stream_append(
            stream, str(tmp_path / "out"), str(tmp_path / "ck"),
            await_termination=True,
        )
        # listener delivery is async — wait for the event to arrive
        import time as _t

        for _ in range(50):
            if listener.rows:
                break
            _t.sleep(0.2)
        n = listener.flush()
        assert n >= 1
    finally:
        spark.streams.removeListener(listener)
    got = ledger.read().collect()
    assert sum(r["num_input_rows"] for r in got) == 20
    assert all(r["batch_id"] >= 0 for r in got)
    assert ledger.history()[-1]["metrics"]["progress_events"] == len(got)
    # second flush with nothing buffered is a no-op
    assert listener.flush() == 0


def test_stream_append_with_ivf_index_one_ledger_scan_per_start(
    spark, tmp_path
):
    """The replay guard reads the embeddings commit history ONCE per
    stream start, then tracks the cursor in the closure — N micro-
    batches must not mean N full ledger scans (quadratic over a
    long-lived stream). ivf_index_refresh legitimately reads the
    history once per batch for the current seq, so the pin is
    calls <= batches + 1, strictly below the 2·batches a per-batch
    rescan would cost."""
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.index_maintenance import (
        stream_append_with_ivf_index,
    )

    vecs = [
        (i, [float((i * 3 + j) % 7 - 3) for j in range(4)]) for i in range(12)
    ]
    emb_all = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = ivf_train_centroids(emb_all, n_cells=2, iters=1)
    src = str(tmp_path / "in")
    for lo in (0, 4, 8):  # three files -> three micro-batches
        emb_all.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 4)
        ).coalesce(1).write.mode("append").parquet(src)
    emb_table = ParquetTable(spark, str(tmp_path / "emb"))
    idx = ParquetTable(spark, str(tmp_path / "idx"))
    calls = {"n": 0}
    real_history = emb_table.history

    def counting_history():
        calls["n"] += 1
        return real_history()

    emb_table.history = counting_history
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_append_with_ivf_index(
        stream, emb_table, idx, cents, str(tmp_path / "ck"),
        await_termination=True,
    )
    assert emb_table.read().count() == 12 and idx.read().count() == 12
    batches = len(
        {
            r["metrics"]["stream_batch_id"]
            for r in real_history()
            if (r.get("metrics") or {}).get("stream_batch_id") is not None
        }
    )
    assert batches == 3
    assert calls["n"] <= batches + 1, (
        f"{calls['n']} ledger scans for {batches} batches — the replay "
        "guard must cache the cursor after the first scan"
    )


def test_stream_append_with_ivf_index_exactly_once(spark, tmp_path):
    """Streaming ANN-index maintenance: micro-batches land in the
    embeddings table (query-scoped ledger) and the persisted IVF index
    catches up per batch via its own cursor; a same-checkpoint replay
    (commits/0 removed) double-commits NOTHING on either table, and
    the final probe equals the from-scratch broadcast probe."""
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.operators.similarity import (
        ivf_cosine_topk,
        ivf_index_probe_topk,
        ivf_train_centroids,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.index_maintenance import (
        stream_append_with_ivf_index,
    )

    vecs = [
        (i, [float((i * 5 + j * 3) % 13 - 6) for j in range(8)])
        for i in range(30)
    ]
    emb_all = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = ivf_train_centroids(emb_all, n_cells=4, iters=2)
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    emb_table = ParquetTable(spark, str(tmp_path / "emb"))
    idx = ParquetTable(spark, str(tmp_path / "idx"))

    def run():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)
        stream_append_with_ivf_index(
            stream, emb_table, idx, cents, ck, await_termination=True
        )

    emb_all.where(F.col("vec_id") < 20).write.mode("append").parquet(src)
    run()
    assert emb_table.read().count() == 20 and idx.read().count() == 20
    emb_all.where(F.col("vec_id") >= 20).write.mode("append").parquet(src)
    run()
    assert emb_table.read().count() == 30 and idx.read().count() == 30
    # same-checkpoint replay of the LAST batch: nothing doubles
    _wait_streams_drained(spark)
    import os as _os

    commits = _os.path.join(ck, "commits")
    latest = max(int(f) for f in _os.listdir(commits) if not f.startswith("."))
    for name in (str(latest), f".{latest}.crc"):
        p = _os.path.join(commits, name)
        if _os.path.exists(p):
            _os.remove(p)
    run()
    assert emb_table.read().count() == 30 and idx.read().count() == 30
    queries = emb_all.where(F.col("vec_id") < 3)
    got = {
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in ivf_index_probe_topk(idx, queries, cents, k=4, nprobe=2).collect()
    }
    want = {
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in ivf_cosine_topk(emb_all, queries, cents, k=4, nprobe=2).collect()
    }
    assert got == want and len(want) > 0


def test_progress_logger_reports_difs_backlog(spark, tmp_path):
    """Rate-limited difs streams drain a backlog over many triggers;
    the listener turns each batch's {"seq": N} end-offset plus the
    commit log's filename head into backlog_commits — driven with
    synthetic progress events (the exact engine callback payload) so
    the computation is pinned without trigger-timing flakiness."""
    from types import SimpleNamespace

    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.observability import (
        ProgressLogger,
    )

    p = str(tmp_path / "t")
    t = ParquetTable(spark, p)
    for i in range(5):  # commit head: seq 5
        t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))
    ledger = ParquetTable(spark, str(tmp_path / "metrics"))
    listener = ProgressLogger(spark, ledger, difs_backlog_path=p)

    def ev(batch_id, end_offset):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id="q", runId="r", batchId=batch_id, timestamp="2026-01-01",
                numInputRows=1, batchDuration=10, stateOperators=[],
                sources=[
                    SimpleNamespace(
                        description="difs", numInputRows=1,
                        endOffset=end_offset,
                    )
                ],
            )
        )

    listener.onQueryProgress(ev(0, '{"seq": 2}'))   # 3 commits behind
    listener.onQueryProgress(ev(1, '{"seq": 4}'))   # 1 behind
    listener.onQueryProgress(ev(2, '{"seq": 5}'))   # drained
    listener.onQueryProgress(ev(3, None))           # no offset -> NULL
    assert listener.flush() == 4
    got = {
        r["batch_id"]: r["backlog_commits"] for r in ledger.read().collect()
    }
    assert got == {0: 3, 1: 1, 2: 0, 3: None}

    # unwatched logger records NULL even with a seq offset
    ledger2 = ParquetTable(spark, str(tmp_path / "metrics2"))
    plain = ProgressLogger(spark, ledger2)
    plain.onQueryProgress(ev(0, '{"seq": 2}'))
    plain.flush()
    assert ledger2.read().collect()[0]["backlog_commits"] is None


def test_progress_logger_backlog_attribution_multi_source(spark, tmp_path):
    """ADVICE r11: a query joining TWO difs streams must not attribute
    the OTHER table's (higher) seq to the watched one. Path match in
    the description wins; several unattributable seq sources record
    NULL instead of an under-reported backlog."""
    from types import SimpleNamespace

    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.observability import (
        ProgressLogger,
    )

    p = str(tmp_path / "t")
    t = ParquetTable(spark, p)
    for i in range(5):  # watched head: seq 5
        t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))
    ledger = ParquetTable(spark, str(tmp_path / "metrics"))
    listener = ProgressLogger(spark, ledger, difs_backlog_path=p)

    def ev(batch_id, sources):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id="q", runId="r", batchId=batch_id, timestamp="2026-01-01",
                numInputRows=1, batchDuration=10, stateOperators=[],
                sources=[
                    SimpleNamespace(
                        description=d, numInputRows=1, endOffset=o
                    )
                    for d, o in sources
                ],
            )
        )

    # the OTHER difs table is at seq 9; the watched one consumed 2
    listener.onQueryProgress(
        ev(0, [(f"difs [{p}]", '{"seq": 2}'),
               ("difs [/elsewhere/u]", '{"seq": 9}')])
    )
    # no path in either description, two seq sources -> unattributable
    listener.onQueryProgress(
        ev(1, [("difs", '{"seq": 2}'), ("difs", '{"seq": 9}')])
    )
    # single seq source without a path still attributes (only candidate)
    listener.onQueryProgress(
        ev(2, [("difs", '{"seq": 4}'), ("kafka", '{"topicOffsets": {}}')])
    )
    # a SIBLING whose path extends the watched one ("/...t2") must NOT
    # match by substring containment — only the true token does
    listener.onQueryProgress(
        ev(3, [(f"difs [{p}]", '{"seq": 2}'),
               (f"difs [{p}2]", '{"seq": 9}')])
    )
    assert listener.flush() == 4
    got = {
        r["batch_id"]: r["backlog_commits"] for r in ledger.read().collect()
    }
    assert got == {0: 3, 1: None, 2: 1, 3: 3}


def test_progress_logger_flush_into_pre_backlog_ledger(spark, tmp_path):
    """Schema-evolution compat: a metrics ledger created BEFORE the
    backlog_commits column existed must keep accepting flushes (old
    rows read the new column as NULL) instead of crashing on schema
    enforcement and dropping the buffered telemetry."""
    from types import SimpleNamespace

    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.observability import (
        ProgressLogger,
    )

    old_schema = (
        "query_id string, run_id string, batch_id bigint, ts string, "
        "num_input_rows bigint, batch_duration_ms bigint, "
        "state_rows_total bigint, sources string"
    )
    ledger = ParquetTable(spark, str(tmp_path / "metrics"))
    ledger.append(
        spark.createDataFrame(
            [("q0", "r0", 0, "2025-01-01", 5, 10, 0, "[]")], old_schema
        )
    )
    listener = ProgressLogger(spark, ledger)
    listener.onQueryProgress(
        SimpleNamespace(
            progress=SimpleNamespace(
                id="q1", runId="r1", batchId=1, timestamp="2026-01-01",
                numInputRows=2, batchDuration=10, stateOperators=[],
                sources=[],
            )
        )
    )
    assert listener.flush() == 1
    got = {r["batch_id"]: r["backlog_commits"] for r in ledger.read().collect()}
    assert got == {0: None, 1: None}


def test_path_token_matching_rejects_left_extending_sibling():
    """ADVICE r12: the complete-path-token matcher guarded only the
    RIGHT boundary, so a sibling whose path ends with the watched path
    (watched /data/t inside 'difs [/backup/data/t]') still matched and
    stole the attribution. Both boundaries must be clean now."""
    from data_ingestion_framework_spark.streaming.observability import (
        _path_token_in,
    )

    assert _path_token_in("difs [/data/t]", "/data/t")
    assert _path_token_in("/data/t", "/data/t")
    # right-extending sibling (the originally-guarded class)
    assert not _path_token_in("difs [/data/t2]", "/data/t")
    assert not _path_token_in("difs [/data/t/sub]", "/data/t")
    # left-extending sibling (the ADVICE class)
    assert not _path_token_in("difs [/backup/data/t]", "/data/t")
    assert not _path_token_in("difs [x/data/t]", "/data/t")
    # both siblings present AND the real one — still a match
    assert _path_token_in("difs [/backup/data/t] difs [/data/t]", "/data/t")


def test_path_token_matching_relative_watched_path_left_boundary():
    """ADVICE r13: a RELATIVE watched path must also refuse a
    preceding '/' — 'data/t' inside '/backup/data/t' is a
    left-extension (the absolute-path fix above left '/' out of the
    left blocker set, so relative paths still leaked)."""
    from data_ingestion_framework_spark.streaming.observability import (
        _path_token_in,
    )

    assert _path_token_in("difs [data/t]", "data/t")
    assert not _path_token_in("difs [/backup/data/t]", "data/t")
    assert not _path_token_in("difs [/data/t]", "data/t")
    # the absolute form keeps matching through its own leading '/'
    assert _path_token_in("difs [/data/t]", "/data/t")
    # ...but a doubled-slash left extension of an ABSOLUTE path is
    # still a sibling masquerade (review r14: '/backup//data/t'
    # OS-normalizes to /backup/data/t)
    assert not _path_token_in("difs [/backup//data/t]", "/data/t")


def test_path_token_matching_uri_scheme_boundaries():
    """Review r15: the URI-scheme clean-boundary exception must be
    exactly 'empty-authority ``://`` + absolute watched path' — a
    relative watched path after ``scheme://`` matches the AUTHORITY
    (bucket/host), not a path, and must stay blocked."""
    from data_ingestion_framework_spark.streaming.observability import (
        _path_token_in,
    )

    # empty authority: the '/' after '://' is the path's own slash
    assert _path_token_in("parquet [file:///data/t]", "/data/t")
    assert _path_token_in("parquet [hdfs:///data/t]", "/data/t")
    # single-slash scheme form: ':' is already a clean boundary
    assert _path_token_in("parquet [file:/data/t]", "/data/t")
    # relative watched path after a scheme names the AUTHORITY — the
    # bucket called 'data' is not the watched table 'data/t'
    assert not _path_token_in("parquet [s3a://data/t]", "data/t")
    # absolute path whose match begins at the authority ('data' is
    # the host in file://data/t) stays blocked
    assert not _path_token_in("parquet [file://data/t]", "/data/t")
    # non-empty authority + doubled slash: still a distinct parent
    assert not _path_token_in("parquet [s3a://bucket//data/t]", "/data/t")
