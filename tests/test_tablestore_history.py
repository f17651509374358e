"""Commit-log, time-travel, and commit-safety tests for ParquetTable —
the engine's DESCRIBE HISTORY / VERSION AS OF / touched-files-only
parity surface (reference di_landing_to_raw_generic_v2.py:774-891,
writers/writer.py:177-281)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_framework_spark.sources.tablestore import ParquetTable


@pytest.fixture
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def test_commit_log_and_rows_written(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1), Row(a=2)]))
    t.append(spark.createDataFrame([Row(a=3)]), metrics={"source": "batch2"})
    t.overwrite(t.read().where(F.col("a") >= 2))
    h = t.history()
    assert [r["op"] for r in h] == ["overwrite", "append", "overwrite"]
    assert [r["seq"] for r in h] == [1, 2, 3]
    assert h[0]["rows_written"] == 2
    assert h[1]["rows_written"] == 1  # append counts only the new files
    assert h[1]["metrics"] == {"source": "batch2"}
    assert h[2]["rows_written"] == 2


def test_as_of_reconstructs_each_commit(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1), Row(a=2)]))
    t.append(spark.createDataFrame([Row(a=3)]))
    t.overwrite(t.read().where(F.col("a") >= 2))
    assert sorted(r["a"] for r in t.as_of(1).collect()) == [1, 2]
    assert sorted(r["a"] for r in t.as_of(2).collect()) == [1, 2, 3]
    assert sorted(r["a"] for r in t.as_of(3).collect()) == [2, 3]
    assert sorted(r["a"] for r in t.read().collect()) == [2, 3]


def test_vacuum_drops_history_keeps_current(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1)]))
    t.overwrite(spark.createDataFrame([Row(a=2)]))
    assert t.vacuum() == 1
    assert len(t.history()) == 2  # metadata survives vacuum
    with pytest.raises(ValueError, match="no longer retained"):
        t.as_of(1)
    assert [r["a"] for r in t.as_of(2).collect()] == [2]


def test_failed_swap_restores_table(spark, tpath, monkeypatch, fail_rename):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1), Row(a=2)]))

    # fail moving the staged file in, after the live files retired
    fail_rename(lambda src, dst: "__staging__" in src and dst.startswith(tpath))
    with pytest.raises(OSError, match="simulated swap failure"):
        t.overwrite(spark.createDataFrame([Row(a=99)]))
    monkeypatch.undo()
    # the original table is fully restored — no data loss, no staging left
    assert sorted(r["a"] for r in t.read().collect()) == [1, 2]
    parent = os.path.dirname(tpath)
    assert not [d for d in os.listdir(parent) if "__staging__" in d or "__old__" in d]


def test_overwrite_partitions_rewrites_only_touched(spark, tpath):
    t = ParquetTable(spark, tpath, partition_by=["b"])
    t.overwrite(
        spark.createDataFrame(
            [Row(a=1, b=0), Row(a=2, b=1), Row(a=3, b=2)]
        ).repartition(3)
    )
    untouched = {
        f for f in t._data_files() if f.startswith(("b=1", "b=2"))
    }
    batch = spark.createDataFrame([Row(a=10, b=0)])
    assert t.touched_partitions(batch) == ["b=0"]
    t.overwrite_partitions(batch)
    after = set(t._data_files())
    # untouched partitions keep their exact files; b=0 was replaced
    assert untouched <= after
    assert not [f for f in after if f.startswith("b=0") and f in t.history()[0]["files"]]
    assert sorted((r["a"], r["b"]) for r in t.read().collect()) == [
        (2, 1), (3, 2), (10, 0),
    ]
    # history retained the replaced partition: as_of(1) still sees a=1
    assert sorted(r["a"] for r in t.as_of(1).collect()) == [1, 2, 3]
    assert t.history()[-1]["metrics"]["touched_partitions"] == ["b=0"]


def test_overwrite_partitions_restores_conf(spark, tpath):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    t = ParquetTable(spark, tpath, partition_by=["b"])
    t.overwrite(spark.createDataFrame([Row(a=1, b=0)]))
    t.overwrite_partitions(spark.createDataFrame([Row(a=2, b=0)]))
    assert spark.conf.get(key) == "static"
    spark.conf.unset(key)


def test_compact_is_a_logged_commit(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=i) for i in range(10)]).repartition(8))
    assert t.file_count() >= 4
    t.compact(target_files=1)
    assert t.file_count() == 1
    assert t.read().count() == 10
    assert t.history()[-1]["op"] == "compact"
    # time travel across compaction still works (same rows, old files)
    assert t.as_of(1).count() == 10


def test_read_since_appends_only_new_rows(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(pk=1), Row(pk=2)]))
    seq1 = t.history()[-1]["seq"]
    t.append(spark.createDataFrame([Row(pk=3)]))
    t.append(spark.createDataFrame([Row(pk=4), Row(pk=5)]))
    got = sorted(r["pk"] for r in t.read_since(seq1).collect())
    assert got == [3, 4, 5]
    # since the latest commit: empty frame, same schema
    latest = t.history()[-1]["seq"]
    assert t.read_since(latest).count() == 0
    # an overwrite breaks file-additivity -> loud error, not wrong rows
    t.overwrite(t.read().where(F.col("pk") != 3))
    with pytest.raises(ValueError, match="not file-additive"):
        t.read_since(seq1)


def test_changed_partitions_since(spark, tpath):
    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([Row(pk=1, p="a"), Row(pk=2, p="b")])
    )
    seq1 = t.history()[-1]["seq"]
    # partition-scoped merge touches only p=b; append adds p=c
    t.overwrite_partitions(spark.createDataFrame([Row(pk=20, p="b")]))
    t.append(spark.createDataFrame([Row(pk=30, p="c")]))
    assert t.changed_partitions_since(seq1) == ["p=b", "p=c"]
    assert t.changed_partitions_since(t.history()[-1]["seq"]) == []


def test_overwrite_partitions_counts_only_staged_files(spark, tpath):
    """overwrite_partitions must record rows_written from THIS commit's
    staged files only — counting every live file would footer-read
    untouched partitions (O(table) driver work) and log full-table
    counts where appends log per-commit counts."""
    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.append(
        spark.createDataFrame([Row(p=p, v=i) for p in ("a", "b", "c") for i in range(4)])
    )
    t.overwrite_partitions(spark.createDataFrame([Row(p="b", v=99)]))
    h = t.history()
    assert h[-1]["op"] == "overwrite_partitions"
    assert h[-1]["rows_written"] == 1  # not 9 (the 'a'/'c' partitions untouched)
    assert t.read().count() == 9


def test_delete_where_erases_and_records(spark, tmp_path):
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    t.overwrite(spark.range(10).selectExpr("id", "id % 2 AS parity"))
    n = t.delete_where(F.col("parity") == 1, cdf_table=feed)
    assert n == 5
    assert sorted(r["id"] for r in t.read().collect()) == [0, 2, 4, 6, 8]
    rec = [h for h in t.history() if h["op"] == "delete"]
    assert rec and rec[-1]["metrics"]["rows_deleted"] == 5
    changes = feed.read().collect()
    assert len(changes) == 5
    assert all(r["_change_type"] == "delete" for r in changes)
    assert sorted(r["id"] for r in changes) == [1, 3, 5, 7, 9]
    # no-match delete is a no-op (no commit, no feed rows)
    before = len(t.history())
    assert t.delete_where("id > 100") == 0
    assert len(t.history()) == before


def test_delete_metrics_amend_the_record_not_the_log_checkpoint(spark, tpath):
    """The post-commit ``rows_deleted`` amend targets the delete's own
    commit record even once a log checkpoint exists (every 10th
    commit): ``_checkpoint.*.json`` sorts after the digit-named records,
    so a raw directory sort would amend the checkpoint instead."""
    t = ParquetTable(spark, tpath)
    for i in range(11):
        t.append(spark.createDataFrame([Row(a=i)]))
    ckpts = [n for n in os.listdir(t._log_dir()) if n.startswith("_checkpoint.")]
    assert ckpts == ["_checkpoint.00000010.json"]
    assert t.delete_where("a = 3") == 1
    assert t.last_commit()["op"] == "delete"
    assert t.last_commit()["metrics"] == {"rows_deleted": 1}
    assert "metrics" not in t._latest_checkpoint()


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """Rows where the predicate is NULL are NOT deleted (SQL DELETE
    semantics: only predicate=TRUE rows go)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id int, v string"
        )
    )
    assert t.delete_where("v = 'a'") == 1
    assert sorted(r["id"] for r in t.read().collect()) == [2, 3]


def _crash_state_rewrite(monkeypatch, crash_op):
    """Simulate a crash in the state rewrite for the given op on BOTH
    commit paths — the full staged swap (overwrite) and the file-scoped
    copy-on-write (_replace_files) that selective deletes/updates take."""
    real_over = ParquetTable.overwrite
    real_repl = ParquetTable._replace_files

    def crashing_overwrite(self, df, metrics=None, op="overwrite"):
        if op == crash_op:
            raise OSError("simulated crash before rewrite")
        return real_over(self, df, metrics=metrics, op=op)

    def crashing_replace(self, touched, replacement, op, metrics):
        if op == crash_op:
            raise OSError("simulated crash before rewrite")
        return real_repl(self, touched, replacement, op, metrics)

    monkeypatch.setattr(ParquetTable, "overwrite", crashing_overwrite)
    monkeypatch.setattr(ParquetTable, "_replace_files", crashing_replace)


def test_delete_where_crash_between_feed_and_rewrite_reconciles(
    spark, tmp_path, monkeypatch
):
    """Crash injection for the feed-before-rewrite window: the CDF
    append lands, the state rewrite never does. The next delete_where
    (or an explicit reconcile_cdf) must detect the orphaned intent —
    its delete never landed, so ALL its rows still exist — and re-emit
    them as insert changes so downstream CDF consumers converge back.
    """
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    t.overwrite(spark.range(10).selectExpr("id", "id % 2 AS parity"))

    # crash AFTER the feed append, BEFORE the rewrite
    _crash_state_rewrite(monkeypatch, "delete")
    with pytest.raises(OSError, match="simulated crash"):
        t.delete_where(F.col("parity") == 1, cdf_table=feed)
    monkeypatch.undo()

    # table unchanged, feed over-propagated 5 deletes that never landed
    assert t.read().count() == 10
    assert feed.read().where("_change_type = 'delete'").count() == 5

    # the NEXT delete (different predicate) auto-reconciles first
    n = t.delete_where(F.col("id") == 0, cdf_table=feed)
    assert n == 1
    rows = feed.read().collect()
    restored = [r for r in rows if r["_change_type"] == "insert"]
    assert sorted(r["id"] for r in restored) == [1, 3, 5, 7, 9]
    # net feed state per key under (version, change_type) ordering:
    # the marker commit consumed the phantom's reserved seq, so the
    # restored inserts land AT the phantom version (delete < insert
    # breaks the tie) and every later real commit sorts after
    phantom_v = max(
        r["_commit_version"]
        for r in rows
        if r["_change_type"] == "delete" and r["id"] != 0
    )
    assert all(r["_commit_version"] == phantom_v for r in restored)
    landed_delete = [
        r for r in rows if r["_change_type"] == "delete" and r["id"] == 0
    ]
    assert len(landed_delete) == 1
    assert landed_delete[0]["_commit_version"] > phantom_v
    # the marker commit is in the TABLE's log (no seq reuse)
    assert any(h["op"] == "cdf_reconcile" for h in t.history())

    # reconcile is idempotent: nothing more to repair
    assert t.reconcile_cdf(feed) == 0
    assert feed.read().count() == len(rows)


def test_reconcile_cdf_skips_rows_a_rerun_already_erased(
    spark, tmp_path, monkeypatch
):
    """Deferred reconciliation must not resurrect a legitimate
    erasure: after the crash the operator re-ran the delete WITHOUT the
    feed (so no auto-reconcile), which erased the rows for real. A
    later reconcile finds the orphaned intent but its rows are gone
    from the table — nothing is re-emitted."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    t.overwrite(spark.range(10).selectExpr("id", "id % 2 AS parity"))

    _crash_state_rewrite(monkeypatch, "delete")
    with pytest.raises(OSError, match="simulated crash"):
        t.delete_where(F.col("parity") == 1, cdf_table=feed)
    monkeypatch.undo()

    # recovery re-run without the feed: erasure lands for real
    assert t.delete_where(F.col("parity") == 1) == 5
    # the orphaned intent is detected but its rows no longer exist
    assert t.reconcile_cdf(feed) == 1
    assert feed.read().where("_change_type = 'insert'").count() == 0
    # marked reconciled: idempotent thereafter
    assert t.reconcile_cdf(feed) == 0


def test_reconcile_cdf_flags_phantom_seq_aliasing(spark, tmp_path, monkeypatch):
    """When an unrelated commit interleaves between the crash and the
    reconcile, that commit consumes the seq the crashed delete reserved
    — the feed's delete rows stamped with it now alias a real commit.
    The marker must record the remap (reserved_seq + phantom_seq_aliased)
    so consumers can detect it; in the no-interleave case the marker
    consumes the reserved seq itself and no flag appears."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    t.overwrite(spark.range(10).selectExpr("id", "id % 2 AS parity"))

    _crash_state_rewrite(monkeypatch, "delete")
    with pytest.raises(OSError, match="simulated crash"):
        t.delete_where(F.col("parity") == 1, cdf_table=feed)
    monkeypatch.undo()

    reserved = max(
        (r.get("metrics") or {}).get("delete_intent_seq", -1)
        for r in feed.history()
    )
    # an unrelated append interleaves and consumes the reserved seq
    t.append(spark.createDataFrame([(100, 0)], "id bigint, parity bigint"))
    assert any(h["seq"] == reserved for h in t.history())

    assert t.reconcile_cdf(feed) == 1
    marker = [h for h in t.history() if h["op"] == "cdf_reconcile"][-1]
    assert marker["metrics"]["reserved_seq"] == reserved
    assert marker["metrics"]["phantom_seq_aliased"] is True
    assert marker["seq"] > reserved
    # restored inserts land at the marker's (later) version
    restored = feed.read().where("_change_type = 'insert'").collect()
    assert sorted(r["id"] for r in restored) == [1, 3, 5, 7, 9]
    assert all(r["_commit_version"] == marker["seq"] for r in restored)

    # contrast: no interleave -> marker takes the reserved seq, no flag
    t2 = ParquetTable(spark, str(tmp_path / "t2"))
    feed2 = ParquetTable(spark, str(tmp_path / "feed2"))
    t2.overwrite(spark.range(4).selectExpr("id", "id % 2 AS parity"))
    _crash_state_rewrite(monkeypatch, "delete")
    with pytest.raises(OSError, match="simulated crash"):
        t2.delete_where(F.col("parity") == 1, cdf_table=feed2)
    monkeypatch.undo()
    assert t2.reconcile_cdf(feed2) == 1
    marker2 = [h for h in t2.history() if h["op"] == "cdf_reconcile"][-1]
    assert marker2["seq"] == marker2["metrics"]["reserved_seq"]
    assert "phantom_seq_aliased" not in marker2["metrics"]


def test_vacuum_retain_last_zero_rejected(spark, tmp_path):
    """retain_last=0 is ambiguous (not a window, not retain-nothing) —
    rejected loudly instead of indexing past the history list."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(3).selectExpr("id"))
    t.overwrite(spark.range(5).selectExpr("id"))
    with pytest.raises(ValueError, match="retain_last"):
        t.vacuum(retain_last=0)
    with pytest.raises(ValueError, match="retain_last"):
        t.vacuum(retain_last=-1)
    # the documented retain-nothing spelling still works
    assert t.vacuum(retain_last=None) >= 1


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE TO VERSION parity: the old state lands as a NEW commit,
    history stays append-only, and the restore is itself auditable."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).selectExpr("id"))
    seq1 = t.history()[-1]["seq"]
    t.overwrite(spark.range(100, 103).selectExpr("id"))
    t.append(spark.range(200, 202).selectExpr("id"))
    assert t.read().count() == 5  # 3 + 2

    t.restore(seq1)
    assert sorted(r["id"] for r in t.read().collect()) == [0, 1, 2, 3, 4]
    last = t.history()[-1]
    assert last["op"] == "restore" and last["metrics"]["restored_seq"] == seq1
    # the pre-restore state is still reachable (append-only history)
    assert t.as_of(last["seq"] - 1).count() == 5


def test_vacuum_retention_window(spark, tmp_path):
    """retain_last keeps the snapshots the most recent N commits need:
    as_of works inside the window, raises outside it."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.overwrite(spark.range(i * 10, i * 10 + 3).selectExpr("id"))
    seqs = [h["seq"] for h in t.history()]
    removed = t.vacuum(retain_last=2)
    assert removed >= 1
    # inside the window: the last two commits reconstruct
    assert t.as_of(seqs[-1]).count() == 3
    assert t.as_of(seqs[-2]).count() == 3
    # outside: the first overwrite's replaced files are gone
    with pytest.raises(ValueError, match="vacuum"):
        t.as_of(seqs[0])


def test_concurrent_commit_raises_not_overwrites(spark, tmp_path, monkeypatch):
    """Put-if-absent commit arbitration: a seq collision (two writers
    racing one table) raises ConcurrentCommitError and leaves the
    winner's commit record intact — never a silent overwrite."""
    import json

    from data_ingestion_framework_spark.sources.tablestore import (
        ConcurrentCommitError,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(3).selectExpr("id"))
    # the other writer lands seq 2 AFTER this writer read the log —
    # pin _next_seq to the stale view to reproduce the race window
    log_dir = t._log_dir()
    winner = {"seq": 2, "ts": 0, "op": "append", "rows_written": 1,
              "metrics": {"winner": True}, "files": []}
    with open(os.path.join(log_dir, "00000002.json"), "w") as f:
        json.dump(winner, f)
    monkeypatch.setattr(ParquetTable, "_next_seq", lambda self: 2)

    with pytest.raises(ConcurrentCommitError, match="single-writer"):
        t._record_commit("append", {}, new_files=[])
    monkeypatch.undo()
    with open(os.path.join(log_dir, "00000002.json")) as f:
        assert json.load(f)["metrics"] == {"winner": True}  # intact
    # no tmp litter
    assert not [n for n in os.listdir(log_dir) if n.startswith(".tmp")]


def test_describe_detail(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(spark.range(10).selectExpr("id", "id % 2 AS p"))
    t.append(spark.range(10, 12).selectExpr("id", "id % 2 AS p"))
    d = t.detail()
    assert d["num_files"] == t.file_count()
    assert d["size_bytes"] > 0
    assert d["partition_columns"] == ["p"]
    assert d["num_commits"] == 2 and d["last_op"] == "append"
    empty = ParquetTable(spark, str(tmp_path / "nope"))
    assert empty.detail()["num_files"] == 0


def test_overwrite_partitions_failed_swap_restores(
    spark, tmp_path, monkeypatch, fail_rename
):
    """Crash while moving staged partition dirs into place: the
    already-moved retained partitions must come back — no data loss,
    no partial commit record, no staging litter."""
    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [Row(a=1, p="x"), Row(a=2, p="y"), Row(a=3, p="z")]
        ).repartition(3)
    )
    before = sorted((r["a"], r["p"]) for r in t.read().collect())
    n_commits = len(t.history())

    # fail the SECOND staged-partition move (first succeeded, so the
    # rollback path must restore it)
    fail_rename(
        lambda src, dst: "__staging__" in src and "_history" not in dst, nth=2
    )
    with pytest.raises(OSError, match="partition-swap"):
        t.overwrite_partitions(
            spark.createDataFrame([Row(a=10, p="x"), Row(a=20, p="y")])
        )
    monkeypatch.undo()

    assert sorted((r["a"], r["p"]) for r in t.read().collect()) == before
    assert len(t.history()) == n_commits  # no commit recorded
    parent = os.path.dirname(str(tmp_path / "t"))
    assert not [d for d in os.listdir(parent) if "__staging__" in d]


def test_failed_partition_swap_removes_new_partition(
    spark, tpath, monkeypatch, fail_rename
):
    """A staged partition the table did not have (p=a) moves in first;
    when the next move fails, the rollback must remove it too, not only
    restore the replaced p=x."""
    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.overwrite(spark.createDataFrame([Row(a=1, p="x"), Row(a=2, p="y")]))
    before = sorted((r["a"], r["p"]) for r in t.read().collect())
    fail_rename(lambda src, dst: "__staging__" in src, nth=2)
    with pytest.raises(OSError, match="partition-swap"):
        t.overwrite_partitions(
            spark.createDataFrame([Row(a=10, p="a"), Row(a=20, p="x")])
        )
    monkeypatch.undo()
    assert sorted((r["a"], r["p"]) for r in t.read().collect()) == before
    assert len(t.history()) == 1
    assert not [f for f in t._data_files() if f.startswith("p=a")]


def test_failed_file_swap_removes_moved_in_files(
    spark, tpath, monkeypatch, fail_rename
):
    """A file-scoped delete whose replacement stages two files: when the
    second one fails to move in, the first (already live) must leave
    with the rollback — no extra rows, no extra file, no commit."""
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.range(400).repartitionByRange(4, "id"))
    files = set(t._data_files())
    assert len(files) == 4
    fail_rename(
        lambda src, dst: "__staging__" in src and src.endswith(".parquet"), nth=2
    )
    with pytest.raises(OSError, match="simulated crash"):
        # touches the files holding ids 0-99 and 100-199, 50 rows
        # survive in each
        t.delete_where("id < 200 AND id % 100 < 50")
    monkeypatch.undo()
    assert set(t._data_files()) == files
    assert t.read().count() == 400
    assert [r["op"] for r in t.history()] == ["overwrite"]


def test_overwrite_never_moves_the_commit_log(spark, tpath, fail_rename):
    """``overwrite`` retires only snapshot entries: the commit log,
    properties and retained history stay where they are, so a rename of
    any of them failing cannot strand the log away from the new data
    (the table would show the new rows with no commit history)."""
    from data_ingestion_framework_spark.sources.tablestore import _AUX

    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1), Row(a=2)]))
    t.set_properties({"num_buckets": 4})
    t.overwrite(spark.createDataFrame([Row(a=3)]))
    fail_rename(lambda src, dst: os.path.basename(src) in _AUX)
    t.overwrite(spark.createDataFrame([Row(a=99)]))
    assert [r["a"] for r in t.read().collect()] == [99]
    assert [r["seq"] for r in t.history()] == [1, 2, 3]
    assert sorted(r["a"] for r in t.as_of(1).collect()) == [1, 2]
    assert t.properties()["num_buckets"] == 4


@pytest.mark.parametrize("partition_by", [["p"], None], ids=["partitioned", "unpartitioned"])
def test_create_empty_keeps_properties_and_log(spark, tpath, partition_by):
    """``create_empty`` replaces nothing: properties set before it stay,
    and a second call — on a partitioned table ``exists()`` is still
    false — does not restart the commit log."""
    t = ParquetTable(spark, tpath, partition_by=partition_by)
    t.set_properties({"num_buckets": 4})
    t.create_empty("k bigint, p int")
    t.create_empty("k bigint, p int")
    assert t.properties()["num_buckets"] == 4
    assert [r["op"] for r in t.history()] == ["create"]
    assert t.read().columns == ["k", "p"] and t.read().count() == 0


def test_full_rewrite_clears_schema_evolved(spark, tmp_path, launched_jobs):
    """A full rewrite writes one schema, so ``compact`` (through
    ``overwrite``) clears ``schema_evolved`` and reads plan from the
    logged schema again, with no footer-union job. Partition- and
    file-scoped rewrites keep the flag: their untouched files keep
    their old footers."""
    from data_ingestion_framework_spark.session import local_frame

    def evolve(t):
        t.overwrite(
            local_frame(spark, [(1, "a", 0), (2, "b", 1)], "k bigint, v string, p int")
            .repartition(2)
        )
        t.append(
            local_frame(spark, [(3, "c", 0, 7)], "k bigint, v string, p int, x int"),
            merge_schema=True,
        )
        assert t.properties()["schema_evolved"]

    t = ParquetTable(spark, str(tmp_path / "full"))
    evolve(t)
    want = sorted(tuple(r) for r in t.read().collect())
    cols = t.read().columns
    t.compact(target_files=1)
    with launched_jobs() as ids:
        df = t.read()
    assert ids == []
    assert df.columns == cols
    assert sorted(tuple(r) for r in df.collect()) == want

    part = ParquetTable(spark, str(tmp_path / "part"), partition_by=["p"])
    evolve(part)
    part.overwrite_partitions(part.read().where("p = 1"))
    assert part.properties()["schema_evolved"]

    files = ParquetTable(spark, str(tmp_path / "files"))
    evolve(files)
    assert files.delete_where("k = 1") == 1  # file-scoped: 1 of 3 files
    assert files.history()[-1]["op"] == "delete"
    assert len(files._data_files()) == 3
    assert files.properties()["schema_evolved"]


def test_update_where_basic_and_null_predicate(spark, tmp_path):
    """UPDATE SET parity: assignments applied to matching rows (with
    pre-update values visible to the expressions), pass-through rows
    byte-identical, NULL predicate rows NOT matched (three-valued
    logic), rows_updated recorded, unknown columns rejected."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, None), (3, 30.0, "c")],
            "id bigint, price double, tag string",
        )
    )
    # pred is NULL for id=2 (tag NULL) -> not matched
    n = t.update_where(
        {"price": F.col("price") * 2, "tag": F.lit("u")},
        predicate=F.col("tag") != "c",
    )
    assert n == 1
    got = {r["id"]: (r["price"], r["tag"]) for r in t.read().collect()}
    assert got == {1: (20.0, "u"), 2: (20.0, None), 3: (30.0, "c")}
    last = t.history()[-1]
    assert last["op"] == "update" and last["metrics"]["rows_updated"] == 1

    # SQL-string form + unconditional update
    assert t.update_where({"price": "price + 1"}) == 3
    assert {r["price"] for r in t.read().collect()} == {21.0, 31.0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        t.update_where({"nope": F.lit(1)})
    # no matches -> 0, no commit
    before = len(t.history())
    assert t.update_where({"price": "0"}, predicate="id = 999") == 0
    assert len(t.history()) == before


def test_update_where_cdf_images_and_crash_reconcile(
    spark, tmp_path, monkeypatch
):
    """CDF update_preimage/update_postimage pairs at the update's
    commit version; a crash between feed and rewrite over-propagates,
    and reconcile re-emits the still-present PRE-images as inserts so
    consumers that applied the phantom post-images converge back."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    feed = ParquetTable(spark, str(tmp_path / "feed"))
    t.overwrite(spark.range(6).selectExpr("id", "id * 10 AS v"))

    n = t.update_where(
        {"v": F.col("v") + 1}, predicate="id % 2 = 0", cdf_table=feed
    )
    assert n == 3
    seq = t.history()[-1]["seq"]
    rows = feed.read().collect()
    pre = {r["id"]: r["v"] for r in rows if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r["v"] for r in rows if r["_change_type"] == "update_postimage"}
    assert pre == {0: 0, 2: 20, 4: 40}
    assert post == {0: 1, 2: 21, 4: 41}
    assert all(r["_commit_version"] == seq for r in rows)

    # crash window: feed lands, rewrite never does
    _crash_state_rewrite(monkeypatch, "update")
    with pytest.raises(OSError, match="simulated crash"):
        t.update_where({"v": F.lit(-1)}, predicate="id = 1", cdf_table=feed)
    monkeypatch.undo()

    state_before = {(r["id"], r["v"]) for r in t.read().collect()}
    assert t.reconcile_cdf(feed) == 1
    restored = [
        r for r in feed.read().collect() if r["_change_type"] == "insert"
    ]
    # the phantom update's PRE-image (id=1 unchanged) is re-emitted
    assert [(r["id"], r["v"]) for r in restored] == [(1, 10)]
    assert {(r["id"], r["v"]) for r in t.read().collect()} == state_before
    # idempotent; the landed update's intent is never treated as orphaned
    assert t.reconcile_cdf(feed) == 0


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Delta CHECK-constraint parity: adding validates existing data,
    every write path (append / overwrite / partition-scoped commit /
    merge) refuses a violating batch, NULL satisfies (three-valued
    logic), and drop lifts enforcement. Constraint churn is auditable
    in the commit log."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.sinks.writers import (
        BUCKET_COL,
        batch_write,
        stamp_bucket,
    )
    from data_ingestion_framework_spark.sources.tablestore import (
        CheckConstraintViolation,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 5), (2, None)], "id bigint, qty bigint"  # NULL satisfies
        )
    )
    t.add_check_constraint("qty_pos", "qty > 0")
    assert t.history()[-1]["op"] == "add_constraint"

    with pytest.raises(CheckConstraintViolation, match="qty_pos"):
        t.append(spark.createDataFrame([(3, -1)], "id bigint, qty bigint"))
    assert t.read().count() == 2  # nothing landed
    with pytest.raises(CheckConstraintViolation):
        t.overwrite(spark.createDataFrame([(4, 0)], "id bigint, qty bigint"))
    t.append(spark.createDataFrame([(5, None)], "id bigint, qty bigint"))  # NULL ok
    assert t.read().count() == 3

    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(CheckConstraintViolation):
        t.add_check_constraint("id_small", "id < 3")
    assert "id_small" not in (t.properties().get("constraints") or {})

    t.drop_check_constraint("qty_pos")
    t.append(spark.createDataFrame([(6, -9)], "id bigint, qty bigint"))  # enforcement off
    assert t.read().count() == 4

    # partition-scoped (bucketed merge) path enforces too
    tb = ParquetTable(spark, str(tmp_path / "tb"), partition_by=[BUCKET_COL])
    init = spark.createDataFrame([Row(pk=i, v=i + 1) for i in range(10)])
    batch_write(init, tb, mode="merge", key_cols=["pk"], order_col="v",
                scd_type=1, num_buckets=4)
    tb.add_check_constraint("v_pos", "v > 0")
    bad = spark.createDataFrame([Row(pk=3, v=-5)])
    with pytest.raises(CheckConstraintViolation, match="v_pos"):
        batch_write(bad, tb, mode="merge", key_cols=["pk"], order_col="v",
                    scd_type=1)
    assert {r["v"] for r in tb.read().where("pk = 3").collect()} == {4}


def test_append_schema_evolution_merge_schema(spark, tmp_path):
    """Delta mergeSchema parity: a schema-different append is refused
    by default (schema enforcement); with merge_schema=True the table
    evolves — added columns read back as NULL on old rows, missing
    columns as NULL on new rows — and subsequent reads union footers."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id bigint, v string"))

    widened = spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, v string, score double"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.append(widened)
    t.append(widened, merge_schema=True)
    got = {r["id"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}

    # narrower batch (missing v) also evolves: NULLs fill in
    t.append(
        spark.createDataFrame([(3, 1.0)], "id bigint, score double"),
        merge_schema=True,
    )
    rows = {r["id"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows[3] == (None, 1.0) and set(t.read().columns) == {"id", "v", "score"}
    # lifecycle ops keep working on the evolved table
    assert t.as_of(t.history()[-1]["seq"]).count() == 3
    t.delete_where("id = 1")
    assert sorted(rows_ := [r["id"] for r in t.read().collect()]) == [2, 3]


def test_deletion_vectors_lifecycle(spark, tmp_path):
    """Deletion-vector DELETE: no data file rewritten (sidecar only),
    reads anti-join, deletes stack, NULL predicates don't match,
    as_of applies only vectors at-or-before the target seq, compact
    materializes and clears the vectors, and the rewrite-path
    delete_where stays footer-exact on a vectored table."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(100).selectExpr("id", "id % 10 AS d"))
    files_before = set(t._data_files())
    seq0 = t.history()[-1]["seq"]

    n1 = t.delete_where_dv(F.col("id") % 4 == 0)  # 25 rows
    assert n1 == 25
    assert set(t._data_files()) == files_before  # data untouched
    assert t.read().count() == 75
    assert t.history()[-1]["op"] == "delete_dv"
    seq1 = t.history()[-1]["seq"]

    n2 = t.delete_where_dv("id % 10 = 1")  # 10 more (stacking)
    assert n2 == 10
    assert t.read().count() == 65
    # re-deleting already-vectored rows is a no-op
    assert t.delete_where_dv(F.col("id") % 4 == 0) == 0
    # NULL predicate rows are not deleted
    assert t.delete_where_dv(
        F.when(F.col("id") < 0, F.lit(True))
    ) == 0

    # time travel: before any vector, between the two, and current
    assert t.as_of(seq0).count() == 100
    assert t.as_of(seq1).count() == 75
    assert t.as_of(t.history()[-1]["seq"]).count() == 65

    # compact materializes the deletes and clears the sidecar
    t.compact(target_files=2)
    import os

    assert not os.path.isdir(t._dv_dir())
    assert t.read().count() == 65
    assert t._footer_rows(
        [os.path.join(t.path, f) for f in t._data_files()]
    ) == 65
    # the retired tree kept its vectors: pre-compact as_of still right
    assert t.as_of(seq1).count() == 75

    # rewrite-path delete on a vectored table counts exactly
    t2 = ParquetTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.range(50).selectExpr("id"))
    t2.delete_where_dv("id >= 40")  # 10 vectored away
    assert t2.delete_where("id >= 30") == 10  # NOT 20
    assert t2.read().count() == 30

    # partitioned tables refuse the vector path
    tp = ParquetTable(spark, str(tmp_path / "tp"), partition_by=["p"])
    tp.overwrite(spark.range(10).selectExpr("id", "id % 2 AS p"))
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.delete_where_dv("id = 1")


def test_file_scoped_delete_and_update_copy_on_write(
    spark, tmp_path, monkeypatch, fail_rename
):
    """Selective DELETE/UPDATE on an unpartitioned table replaces ONLY
    the files containing matched rows — untouched files stay
    byte-identical in place (Delta's touched-files rewrite), counts
    stay exact, as_of resolves the replaced files from history, and a
    crash mid-replacement restores the live files."""
    import os

    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    # 8 files, each holding one contiguous range of 100 ids
    t.overwrite(
        spark.range(800).selectExpr("id", "id AS v").repartitionByRange(
            8, "id"
        )
    )
    files0 = {f: os.path.getmtime(os.path.join(t.path, f))
              for f in t._data_files()}
    assert len(files0) == 8

    # delete matches ids 0-99 only -> exactly one file replaced
    n = t.delete_where(F.col("id") < 100)
    assert n == 100
    assert t.history()[-1]["op"] == "delete"
    files1 = set(t._data_files())
    untouched = files1 & set(files0)
    assert len(untouched) == 7  # seven originals survive in place
    # each data file moved with its checksum sidecar, none left orphaned
    assert {f for f in os.listdir(t.path) if f.endswith(".crc")} == {
        f".{f}.crc" for f in files1
    }
    for f in untouched:  # byte-identical: never rewritten
        assert os.path.getmtime(os.path.join(t.path, f)) == files0[f]
    assert t.read().count() == 700
    # the replaced file's rows are still time-travelable
    assert t.as_of(t.history()[0]["seq"]).count() == 800

    # update matches one range -> one file replaced, others in place
    n = t.update_where({"v": "v + 1000"}, predicate="id >= 700")
    assert n == 100
    files2 = set(t._data_files())
    assert len(files2 & files1) == len(files1) - 1
    assert t.read().where("v >= 1700").count() == 100
    assert t.read().where("id = 100").select("v").first()["v"] == 100

    # crash mid-replacement restores the moved live files
    before = set(t._data_files())
    count_before = t.read().count()
    # fail when the staged replacement file moves into the live dir
    fail_rename(lambda src, dst: "__staging__" in src and dst.startswith(t.path))
    with pytest.raises(OSError, match="simulated crash"):
        t.delete_where("id >= 600 AND id < 700")
    monkeypatch.undo()
    assert set(t._data_files()) == before  # live tree fully restored
    assert t.read().count() == count_before


def test_retired_deletion_vectors_travel_with_history_snapshot(
    spark, tmp_path
):
    """A deletion-vector DELETE followed by a file-scoped copy-on-write
    statement touching the same file must NOT lose the vectors for
    time travel: as_of any seq between the two resolves the replaced
    file from _history/pre{seq} and applies its retired vectors from
    the snapshot's own _dv sidecar (advisor repro: as_of used to
    return 800 instead of 750)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    # 8 files, one contiguous range of 100 ids each
    t.overwrite(
        spark.range(800).selectExpr("id", "id AS v").repartitionByRange(
            8, "id"
        )
    )
    assert len(t._data_files()) == 8

    # 100 vectored rows across files 0 and 1
    n_dv = t.delete_where_dv("id % 2 = 0 AND id < 200")
    assert n_dv == 100
    seq_dv = t.history()[-1]["seq"]
    assert t.read().count() == 700

    # file-scoped COW delete touching file 0 retires ITS vectors only
    n = t.delete_where("id >= 10 AND id < 20")  # 5 live odd ids
    assert n == 5
    seq_cow = t.history()[-1]["seq"]
    assert t.read().count() == 695

    # the regression: between-seq time travel honors the retired DVs
    assert t.as_of(seq_dv).count() == 700
    assert t.as_of(seq_cow).count() == 695
    # the snapshot carries its own sidecar
    pre = os.path.join(t._hist_dir(), f"pre{seq_cow:08d}")
    assert t._data_files(t._dv_dir(pre))

    # the live sidecar swap is pointer-based (atomic flip): a _dv_ptr
    # names the active generation holding file 1's surviving vectors,
    # and the plain _dv dir is swept
    assert os.path.isfile(os.path.join(t.path, "_dv_ptr"))
    assert not os.path.isdir(os.path.join(t.path, "_dv"))
    assert os.path.isdir(t._dv_dir())  # generation dir is active

    # further vector deletes stack onto the active generation
    assert t.delete_where_dv("id = 201") == 1
    assert t.read().count() == 694
    assert t.as_of(seq_cow).count() == 695

    # COW UPDATE retires vectors the same way (touches file 1)
    n_upd = t.update_where({"v": F.lit(-1)}, "id >= 120 AND id < 130")
    assert n_upd == 5  # 5 odd live ids; evens are vectored away
    assert t.as_of(seq_cow).count() == 695  # still exact
    assert t.read().count() == 694

    # a COW statement that empties the sidecar entirely: vector rows
    # all belong to touched files -> empty pointer, no active sidecar
    t2 = ParquetTable(spark, str(tmp_path / "t2"))
    t2.overwrite(
        spark.range(100).selectExpr("id", "id AS v").coalesce(1)
    )
    t2.delete_where_dv("id < 10")
    seq_a = t2.history()[-1]["seq"]
    t2.delete_where("id >= 50")  # every file touched: full-overwrite
    assert not os.path.isdir(t2._dv_dir())  # fallback, sidecar retired
    assert t2.read().count() == 40
    assert t2.as_of(seq_a).count() == 90

    # sentinel path: a file-scoped COW retiring EVERY vector leaves an
    # empty pointer; the next vector delete must allocate a fresh
    # generation (not write into the _dv.none sentinel)
    t3 = ParquetTable(spark, str(tmp_path / "t3"))
    t3.overwrite(
        spark.range(100).selectExpr("id", "id AS v").repartitionByRange(
            2, "id"
        )
    )
    t3.delete_where_dv("id < 10")  # vectors on file 0 only
    seq_b = t3.history()[-1]["seq"]
    t3.delete_where("id >= 20 AND id < 30")  # touches file 0 only
    assert os.path.isfile(os.path.join(t3.path, "_dv_ptr"))
    assert not os.path.isdir(t3._dv_dir())  # empty pointer: no sidecar
    assert t3.read().count() == 80
    assert t3.as_of(seq_b).count() == 90
    assert t3.delete_where_dv("id = 60") == 1
    assert os.path.basename(t3._dv_dir()).startswith("_dv.g")
    assert t3.read().count() == 79


def test_merge_into_update_only_with_narrow_source(spark, tmp_path):
    """Update-only MERGE (when_not_matched_insert=False) with a source
    narrower than the target — the standard update-feed shape — must
    not demand the missing target columns (regression: the insert
    projection was built unconditionally and raised
    UNRESOLVED_COLUMN on __src_extra)."""
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "pk int, v string, extra int",
        )
    )
    src = spark.createDataFrame(
        [(2, "B"), (4, "D")], "pk int, v string"
    )  # no 'extra' column; pk=4 unmatched and must NOT insert
    metrics = merge_into(
        t,
        src,
        ["pk"],
        when_matched_update={"v": merge_source("v")},
        when_not_matched_insert=False,
    )
    assert metrics == {
        "rows_updated": 1,
        "rows_deleted": 0,
        "rows_inserted": 0,
    }
    got = {r["pk"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 30)}


def test_schema_evolved_flag_set_only_after_successful_append(
    spark, tmp_path
):
    """A failed merge-schema append must not permanently flag the table
    as schema_evolved (which would tax every future read with the
    mergeSchema multi-footer union for nothing)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).selectExpr("id"))
    boom = spark.range(1).select(
        "id",
        F.raise_error(F.lit("simulated write failure")).cast("string")
        .alias("extra"),
    )
    with pytest.raises(Exception, match="simulated write failure"):
        t.append(boom, merge_schema=True)
    assert not t.properties().get("schema_evolved")

    # the successful evolve still flags it
    t.append(
        spark.createDataFrame([(9, "x")], "id bigint, extra string"),
        merge_schema=True,
    )
    assert t.properties().get("schema_evolved")
    assert set(t.read().columns) == {"id", "extra"}


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """SHALLOW CLONE: hardlinked files (zero bytes copied), DV sidecar
    and properties travel, fresh commit log, and divergence in either
    direction never touches the other side."""
    src = ParquetTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.range(200).selectExpr("id", "id * 2 AS v").repartitionByRange(
            4, "id"
        )
    )
    src.delete_where_dv("id % 10 = 0")  # 20 vectored rows travel
    src.add_check_constraint("v_nonneg", "v >= 0")

    dst = src.clone(str(tmp_path / "dst"))
    assert dst.read().count() == 180
    assert {r["id"] for r in dst.read().collect()} == {
        r["id"] for r in src.read().collect()
    }
    # zero-copy: shared inodes (link count 2), fresh log
    f0 = src._data_files()[0]
    assert os.stat(os.path.join(src.path, f0)).st_nlink == 2
    assert [r["op"] for r in dst.history()] == ["clone"]
    assert dst.history()[0]["metrics"]["source"] == src.path
    # properties traveled: the constraint is enforced on the clone
    with pytest.raises(Exception, match="v_nonneg"):
        dst.append(spark.createDataFrame([(999, -5)], "id bigint, v bigint"))

    # diverge the clone: COW delete + append; source must not move
    n = dst.delete_where("id < 20")  # 18 live rows in the shared file
    assert n == 18
    dst.append(spark.createDataFrame([(1000, 7)], "id bigint, v bigint"))
    assert dst.read().count() == 163
    assert src.read().count() == 180  # untouched
    # diverge the source; clone must not move
    src.delete_where("id >= 150")
    assert src.read().count() == 135
    assert dst.read().count() == 163
    # vacuum the clone's history — source still reads fine
    dst.vacuum()
    assert src.read().count() == 135 and dst.read().count() == 163

    # clone refuses a non-empty destination
    with pytest.raises(ValueError, match="not empty"):
        src.clone(str(tmp_path / "dst"))


def test_compact_small_files_targets_only_the_small_tail(spark, tmp_path):
    """Selective bin-packing: many tiny append files merge into one;
    the large base file stays byte-identical; deletion vectors on the
    compacted files materialize and retire; counts and time travel
    stay exact."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(5000).selectExpr("id", "id AS v").coalesce(1)
    )  # one big file
    for i in range(4):  # a small-file tail, one commit each
        t.append(
            spark.createDataFrame(
                [(10000 + i * 10 + j, j) for j in range(3)],
                "id bigint, v bigint",
            ).coalesce(1)
        )
    big = t._data_files()[:]
    sizes = {f: os.path.getsize(os.path.join(t.path, f)) for f in big}
    big_file = max(sizes, key=sizes.get)
    mtime = os.path.getmtime(os.path.join(t.path, big_file))
    assert len(big) == 5

    t.delete_where_dv("id = 10001")  # vector on a small file
    seq_dv = t.history()[-1]["seq"]
    n = t.compact_small_files(min_bytes=sizes[big_file])
    assert n == 4
    files = t._data_files()
    assert big_file in files and len(files) == 2  # 4 small -> 1
    assert os.path.getmtime(os.path.join(t.path, big_file)) == mtime
    assert t.history()[-1]["op"] == "compact_small"
    assert t.read().count() == 5011  # 5000 + 12 - 1 vectored
    # the vector was materialized: no sidecar remains for live files
    assert not os.path.isdir(t._dv_dir())
    assert t.as_of(seq_dv).count() == 5011
    # nothing left to do: second run is a no-op
    assert t.compact_small_files(min_bytes=sizes[big_file]) == 0

    tp = ParquetTable(spark, str(tmp_path / "tp"), partition_by=["p"])
    tp.overwrite(spark.range(10).selectExpr("id", "id % 2 AS p"))
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.compact_small_files(min_bytes=10**9)


def test_as_of_timestamp_and_vacuum_dry_run(spark, tpath):
    """TIMESTAMP AS OF resolves to the latest commit at-or-before the
    wall clock; VACUUM DRY RUN reports without deleting."""
    import time as _time

    t = ParquetTable(spark, tpath)
    t.overwrite(spark.createDataFrame([Row(a=1)]))
    ts1 = t.history()[-1]["ts"]
    t.overwrite(spark.createDataFrame([Row(a=2), Row(a=3)]))
    t.overwrite(spark.createDataFrame([Row(a=4)]))

    assert t.as_of_timestamp(ts1).count() == 1
    assert t.as_of_timestamp(_time.time()).count() == 1  # latest state
    mid = t.history()[1]["ts"]
    assert t.as_of_timestamp(mid).count() == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        t.as_of_timestamp(ts1 - 1000)

    # dry run reports both snapshots, removes nothing
    assert t.vacuum(dry_run=True) == 2
    assert t.as_of(1).count() == 1  # still travelable
    # pre00000003 holds what commit 3 replaced (the seq-2 state) — it
    # must survive to keep the last 2 commits travelable; pre00000002
    # (the seq-1 state) is the droppable one
    assert t.vacuum_candidates(retain_last=2) == ["pre00000002"]
    assert t.vacuum(retain_last=2) == 1
    assert t.as_of(2).count() == 2
    with pytest.raises(ValueError, match="no longer retained"):
        t.as_of(1)


def test_rename_and_drop_column_metadata_only(spark, tmp_path):
    """RENAME/DROP COLUMN without touching a data file: reads show the
    logical names, every statement path (predicate delete, COW update,
    append, time travel, clone, small-file compaction) works through
    the mapping, and the physical files never change for a rename."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(100).selectExpr(
            "id", "id * 2 AS amount", "'x' AS note"
        ).repartitionByRange(4, "id")
    )
    files0 = {
        f: os.path.getmtime(os.path.join(t.path, f)) for f in t._data_files()
    }

    t.rename_column("amount", "price")
    assert set(t.read().columns) == {"id", "price", "note"}
    assert t.history()[-1]["op"] == "rename_column"
    # zero files rewritten
    assert {
        f: os.path.getmtime(os.path.join(t.path, f))
        for f in t._data_files()
    } == files0
    assert t.read().where(F.col("price") > 100).count() == 49

    # statements run against the logical name
    assert t.delete_where("price >= 180") == 10
    assert t.update_where({"price": F.col("price") + 1}, "id < 5") == 5
    assert t.read().where(F.col("id") == 0).collect()[0]["price"] == 1
    # append with logical names round-trips
    t.append(spark.createDataFrame([(500, 9, "y")], "id bigint, price bigint, note string"))
    assert t.read().count() == 91
    # time travel shows CURRENT names (metadata mapping, Delta-style)
    assert "price" in t.as_of(1).columns
    assert t.as_of(1).count() == 100

    # chained rename into a vacated name must not mis-map writes
    t.rename_column("note", "comment")
    t.rename_column("id", "note")  # logical 'note' now = physical 'id'
    assert set(t.read().columns) == {"note", "price", "comment"}
    assert t.read().where(F.col("note") == 500).count() == 1
    t.update_where({"comment": F.lit("z")}, "note = 500")
    got = t.read().where(F.col("note") == 500).collect()[0]
    assert (got["comment"], got["price"]) == ("z", 9)

    # clone carries the mapping
    c = t.clone(str(tmp_path / "c"))
    assert set(c.read().columns) == {"note", "price", "comment"}

    # small-file compaction through the mapping
    before = t.read().groupBy().sum("price").collect()[0][0]
    t.compact_small_files(min_bytes=10**9, target_files=1)
    assert t.read().groupBy().sum("price").collect()[0][0] == before
    assert set(t.read().columns) == {"note", "price", "comment"}

    # DROP COLUMN: metadata-only, appends thereafter lack the column
    t.drop_column("comment")
    assert set(t.read().columns) == {"note", "price"}
    t.append(spark.createDataFrame([(600, 10)], "note bigint, price bigint"))
    assert t.read().where(F.col("note") == 600).count() == 1
    assert set(t.read().columns) == {"note", "price"}

    # guards
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("note", "price")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("ghost", "g2")
    t.add_check_constraint("price_pos", "price >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("price", "cost")
    with pytest.raises(ValueError, match="constraint"):
        t.drop_column("price")
    tp = ParquetTable(spark, str(tmp_path / "tp"), partition_by=["p"])
    tp.overwrite(spark.range(4).selectExpr("id", "id % 2 AS p"))
    with pytest.raises(ValueError, match="partition"):
        tp.rename_column("p", "q")


def test_count_rows_metadata_only(spark, tpath):
    """count_rows answers COUNT(*) from footers + the DV sidecar —
    exact across appends, DV deletes, COW deletes, and compaction."""
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.range(500).selectExpr("id"))
    assert t.count_rows() == 500
    t.append(spark.range(500, 550).selectExpr("id"))
    assert t.count_rows() == 550
    t.delete_where_dv("id % 10 = 0")
    assert t.count_rows() == t.read().count() == 495
    t.delete_where("id >= 540")
    assert t.count_rows() == t.read().count()
    t.compact(target_files=2)
    assert t.count_rows() == t.read().count()


def test_range_scan_skips_files_by_footer_stats(spark, tmp_path):
    """range_scan opens only files whose footer [min,max] intersects
    the range; values match the full-scan filter; z-ordering tightens
    the candidate set; DV rows stay subtracted; renamed columns
    resolve through the mapping."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(1000).selectExpr("id", "id % 100 AS v")
        .repartitionByRange(10, "id")
    )
    ranges = dict(
        (rel, (mn, mx)) for rel, mn, mx in t.file_column_ranges("id")
    )
    assert len(ranges) == 10 and all(
        mn is not None for mn, _ in ranges.values()
    )
    keep = [
        rel for rel, (mn, mx) in ranges.items() if mn <= 250 and mx >= 150
    ]
    assert len(keep) <= 3  # ~2 of 10 files overlap [150, 250]
    got = sorted(r["id"] for r in t.range_scan("id", 150, 250).collect())
    assert got == list(range(150, 251))

    # DV interplay + rename mapping
    t.delete_where_dv("id % 2 = 0")
    t.rename_column("id", "key")
    got = sorted(r["key"] for r in t.range_scan("key", 150, 250).collect())
    assert got == list(range(151, 251, 2))

    # open-ended ranges
    assert t.range_scan("key", lo=990).count() == 5
    assert t.range_scan("key", hi=9).count() == 5
    # disjoint range -> empty, schema intact
    empty = t.range_scan("key", 5000, 6000)
    assert empty.count() == 0 and set(empty.columns) == {"key", "v"}


def test_optimize_incremental_clusters_only_new_files(spark, tmp_path):
    """Liquid-style incremental clustering: files appended since the
    last layout commit are z-ordered into one new run; the previously
    clustered files stay byte-identical; values survive; a second run
    with nothing new is a no-op; range pruning sees tight runs."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(1000).selectExpr(
            "id", "CAST(id % 37 AS BIGINT) AS a", "CAST(id % 53 AS BIGINT) AS b"
        ).repartition(6)
    )
    t.compact(target_files=4, zorder_by=["a", "b"])
    clustered = {
        f: os.path.getmtime(os.path.join(t.path, f))
        for f in t._data_files()
    }
    for i in range(3):  # small append tail, unclustered
        t.append(
            spark.range(2000 + i * 10, 2000 + i * 10 + 10).selectExpr(
                "id", "CAST(id % 37 AS BIGINT) AS a", "CAST(id % 53 AS BIGINT) AS b"
            ).coalesce(1)
        )
    before = t.read().groupBy().sum("a", "b", "id").collect()[0]

    n = t.optimize_incremental(["a", "b"], target_files=1)
    assert n == 3
    assert t.history()[-1]["op"] == "compact_incremental"
    # the full-layout files never moved
    for f, mtime in clustered.items():
        assert os.path.getmtime(os.path.join(t.path, f)) == mtime
    assert t.read().count() == 1030
    assert t.read().groupBy().sum("a", "b", "id").collect()[0] == before
    # nothing new -> no-op
    assert t.optimize_incremental(["a", "b"]) == 0
    # a later append gets its own run; the first incremental run stays
    t.append(
        spark.range(3000, 3020).selectExpr(
            "id", "CAST(id % 37 AS BIGINT) AS a", "CAST(id % 53 AS BIGINT) AS b"
        ).coalesce(1)
    )
    # a single new file is below the 2-file threshold: no-op
    assert t.optimize_incremental(["a", "b"]) == 0
    assert t.read().count() == 1050

    tp = ParquetTable(spark, str(tmp_path / "tp"), partition_by=["p"])
    tp.overwrite(spark.range(4).selectExpr("id", "id % 2 AS p"))
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.optimize_incremental(["id"])


def test_clone_restamps_deletion_vectors_for_fresh_history(spark, tmp_path):
    """Cloned DV rows must apply at EVERY clone seq: the source's
    dv_seq stamps mean nothing in the clone's fresh commit log —
    without re-stamping, clone-side as_of(1)/restore(1) resurrected
    source-deleted rows (review finding, reproduced)."""
    src = ParquetTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.range(20).selectExpr("id"))
    src.append(spark.range(100, 110).selectExpr("id"))
    src.delete_where_dv("id < 10")  # src seq 3
    dst = src.clone(str(tmp_path / "dst"))
    assert dst.read().count() == 20
    assert dst.as_of(1).count() == 20  # NOT 30
    dst.restore(1)
    assert dst.read().count() == 20


def test_delete_where_dv_on_schema_evolved_table(spark, tmp_path):
    """delete_where_dv must apply mergeSchema on evolved tables — a
    predicate on the evolved column used to raise UNRESOLVED_COLUMN
    (review finding, reproduced)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).selectExpr("id"))
    t.append(
        spark.createDataFrame([(50, "x"), (51, "y")], "id bigint, extra string"),
        merge_schema=True,
    )
    assert t.delete_where_dv("extra = 'x'") == 1
    assert t.read().count() == 11
    assert {r["id"] for r in t.read().where(F.col("extra").isNotNull()).collect()} == {51}


def test_generated_columns_virtual(spark, tmp_path):
    """Generated (virtual) columns: compute on read, never stored,
    zero files touched; predicates, constraints, COW statements, time
    travel, and rewrites all see them; appends naming them refuse."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(100).selectExpr("id", "id * 2 AS amount"))
    files0 = set(t._data_files())
    t.add_generated_column("amount_sq", "amount * amount")
    t.add_generated_column("bucket3", "CAST(id % 3 AS INT)")
    assert set(t._data_files()) == files0  # metadata-only
    assert t.history()[-1]["op"] == "add_generated_column"
    row = t.read().where(F.col("id") == 4).collect()[0]
    assert row["amount_sq"] == 64 and row["bucket3"] == 1

    # statements may reference the generated column
    assert t.delete_where("amount_sq >= 36100") == 5  # amount>=190: id 95+
    assert t.read().count() == 95
    # a rewrite does not materialize it: reads still compute it
    t.compact(target_files=1)
    cols_in_file = set(
        spark.read.parquet(t.path).columns
    )
    assert "amount_sq" not in cols_in_file
    assert t.read().where(F.col("id") == 4).collect()[0]["amount_sq"] == 64
    # time travel computes it too (metadata is table-level)
    assert "amount_sq" in t.as_of(1).columns

    # constraints on generated columns work (logical-frame evaluation)
    t.add_check_constraint("sq_nonneg", "amount_sq >= 0")
    t.append(spark.createDataFrame([(500, 7)], "id bigint, amount bigint"))
    assert t.read().count() == 96

    # appends naming a generated column refuse
    with pytest.raises(ValueError, match="GENERATED"):
        t.append(
            spark.createDataFrame(
                [(501, 7, 49)], "id bigint, amount bigint, amount_sq bigint"
            )
        )
    # name collisions refuse; unknown drops refuse
    with pytest.raises(ValueError, match="already exists"):
        t.add_generated_column("amount", "id")
    with pytest.raises(Exception):
        t.add_generated_column("bad", "no_such_col + 1")
    t.drop_generated_column("bucket3")
    assert "bucket3" not in t.read().columns


def test_range_scan_plans_from_log_stats(spark, tmp_path, monkeypatch):
    """Data skipping plans from the commit log's per-file stats (the
    Delta stats-in-add-action model): after commits, file_column_ranges
    / count_rows / range_scan planning perform ZERO driver-side footer
    reads; COW deletes stamp replacement-file stats in their own
    commit; tagged codecs round-trip timestamps; oversize string maxima
    drop to a one-sided (sound) bound; a legacy record without stats
    falls back to a footer harvest and stays correct."""
    import datetime

    t = ParquetTable(spark, str(tmp_path / "t"))
    base = spark.range(1000).selectExpr(
        "id",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) AS ts",
        "repeat('x', 100 + CAST(id % 3 AS INT)) AS big",
    )
    t.overwrite(base.repartitionByRange(8, "id"))
    t.append(
        spark.range(1000, 1100).selectExpr(
            "id",
            "timestamp'2026-03-01 00:00:00' AS ts",
            "'short' AS big",
        )
    )

    import pyarrow.parquet as pq_mod

    def boom(*a, **k):
        raise AssertionError("footer read during log-planned operation")

    monkeypatch.setattr(pq_mod, "ParquetFile", boom)

    # zero-footer planning, exact values
    assert t.count_rows() == t.read().count() == 1100
    ranges = t.file_column_ranges("id")
    assert all(mn is not None and mx is not None for _, mn, mx in ranges)
    got = sorted(r["id"] for r in t.range_scan("id", 150, 250).collect())
    assert got == list(range(150, 251))

    # timestamp codec: bounds decode to datetimes and prune correctly
    lo = datetime.datetime(2026, 2, 28)
    assert (
        t.range_scan("ts", lo=lo).count()
        == t.read().where(F.col("ts") >= F.lit(lo)).count()
    )
    keep_ts = [
        rel for rel, mn, mx in t.file_column_ranges("ts")
        if not (mx is not None and mx < lo)
    ]
    assert len(keep_ts) < t.file_count()  # the append file alone

    # oversize strings: min truncated (still a valid lower bound),
    # max dropped -> one-sided; scan stays conservative and exact
    big_ranges = dict(
        (rel, (mn, mx)) for rel, mn, mx in t.file_column_ranges("big")
    )
    assert any(
        mn is not None and len(mn) == 64 and mx is None
        for mn, mx in big_ranges.values()
    )
    assert t.range_scan("big", lo="a").count() == t.count_rows()

    # range-clustered layout actually prunes from the log
    pruned = [
        rel for rel, mn, mx in ranges
        if not (mn > 250 or mx < 150)
    ]
    assert len(pruned) < len(ranges)
    monkeypatch.undo()

    # COW delete: replacement files' stats stamped by the delete's own
    # commit — planning stays zero-footer, values exact
    t.delete_where(F.col("id") % 10 == 9)
    monkeypatch.setattr(pq_mod, "ParquetFile", boom)
    assert t.count_rows() == t.read().count()
    got = sorted(r["id"] for r in t.range_scan("id", 150, 250).collect())
    assert got == [i for i in range(150, 251) if i % 10 != 9]
    monkeypatch.undo()

    # legacy fallback: strip stats from one commit record -> harvest
    import json as _json

    log_dir = os.path.join(str(tmp_path / "t"), "_commits")
    name = sorted(os.listdir(log_dir))[0]
    with open(os.path.join(log_dir, name)) as f:
        rec = _json.load(f)
    rec.pop("stats", None)
    with open(os.path.join(log_dir, name), "w") as f:
        _json.dump(rec, f)
    assert t.count_rows() == t.read().count()
    got = sorted(r["id"] for r in t.range_scan("id", 150, 250).collect())
    assert got == [i for i in range(150, 251) if i % 10 != 9]


def test_clone_reuses_source_log_stats(spark, tmp_path, monkeypatch):
    """SHALLOW CLONE copies the source's per-file stats into its first
    commit record (Delta copies add-action stats verbatim): the clone
    commit and subsequent log-planned reads pay zero footer I/O."""
    src = ParquetTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.range(500).selectExpr("id", "id % 7 AS v"))

    import pyarrow.parquet as pq_mod

    def boom(*a, **k):
        raise AssertionError("footer read during clone")

    monkeypatch.setattr(pq_mod, "ParquetFile", boom)
    dst = src.clone(str(tmp_path / "dst"))
    assert dst.count_rows() == 500
    assert all(
        mn is not None for _, mn, mx in dst.file_column_ranges("id")
    )
    monkeypatch.undo()
    assert sorted(r["id"] for r in dst.range_scan("id", 10, 20).collect()) == list(
        range(10, 21)
    )


def test_identity_columns(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY parity: gap-mode allocation is
    unique and advances the persisted high-water mark from the
    commit's own log stats; order_by mode is gap-free-deterministic;
    ALWAYS rejects explicit values while BY DEFAULT passes them
    through; COW delete/update carry existing ids; overwrite never
    lowers the mark (no id reuse); declaration guards fire."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.add_identity_column("rid", start=100, step=3)

    # deterministic mode: exact arithmetic across two commits
    t.overwrite(
        spark.range(10).selectExpr("id AS k"), identity_order_by=["k"]
    )
    assert sorted((r["k"], r["rid"]) for r in t.read().collect()) == [
        (k, 100 + 3 * k) for k in range(10)
    ]
    assert t.identity_spec()["rid"]["hwm"] == 127
    t.append(
        spark.range(10, 15).selectExpr("id AS k"), identity_order_by=["k"]
    )
    assert sorted((r["k"], r["rid"]) for r in t.read().collect()) == [
        (k, 100 + 3 * k) for k in range(15)
    ]

    # internal rewrites pass ids through; hwm stays monotone
    t.delete_where(F.col("k") % 2 == 0)
    assert sorted(r["rid"] for r in t.read().collect()) == [
        100 + 3 * k for k in range(15) if k % 2 == 1
    ]
    assert t.identity_spec()["rid"]["hwm"] == 142
    t.update_where({"k": F.col("k") + 100}, predicate=F.col("k") == 1)
    assert t.identity_spec()["rid"]["hwm"] == 142

    # a later append still allocates past the mark
    t.append(spark.range(1).selectExpr("id + 500 AS k"))
    assert max(r["rid"] for r in t.read().collect()) >= 145

    # ALWAYS guard
    with pytest.raises(ValueError, match="ALWAYS AS IDENTITY"):
        t.append(spark.range(2).selectExpr("id AS k", "id AS rid"))

    # gap mode: one pass, unique, increasing hwm across appends
    g = ParquetTable(spark, str(tmp_path / "g"))
    g.add_identity_column("rid")
    g.overwrite(spark.range(1000).selectExpr("id AS k").repartition(4))
    vals = [r["rid"] for r in g.read().collect()]
    assert len(set(vals)) == 1000 and min(vals) == 1
    hwm1 = g.identity_spec()["rid"]["hwm"]
    g.append(spark.range(50).selectExpr("id + 5000 AS k"))
    vals2 = [r["rid"] for r in g.read().collect()]
    assert len(set(vals2)) == 1050 and min(
        v for v in vals2 if v not in set(vals)
    ) > hwm1

    # BY DEFAULT: explicit values pass through
    b = ParquetTable(spark, str(tmp_path / "b"))
    b.add_identity_column("rid", always=False)
    b.overwrite(spark.range(3).selectExpr("id AS k", "id * 10 AS rid"))
    assert sorted(r["rid"] for r in b.read().collect()) == [0, 10, 20]
    b.append(spark.range(2).selectExpr("id + 100 AS k"))  # allocated
    assert b.read().count() == 5

    # negative step descends and tracks the MIN as its mark
    n = ParquetTable(spark, str(tmp_path / "n"))
    n.add_identity_column("rid", start=0, step=-1)
    n.overwrite(spark.range(5).selectExpr("id AS k"), identity_order_by=["k"])
    assert sorted(r["rid"] for r in n.read().collect()) == [-4, -3, -2, -1, 0]
    n.append(spark.range(1).selectExpr("id + 9 AS k"), identity_order_by=["k"])
    assert min(r["rid"] for r in n.read().collect()) == -5

    # guards
    with pytest.raises(ValueError, match="non-zero"):
        t.add_identity_column("z", step=0)
    with pytest.raises(ValueError, match="already declared"):
        t.add_identity_column("rid")
    with pytest.raises(ValueError, match="already holds data"):
        t.add_identity_column("k")


def test_log_checkpoint_bounds_stats_fold(spark, tmp_path, monkeypatch):
    """Every 10th commit writes a checkpoint of the full file→stats
    mapping; file_stats then folds checkpoint + tail only. Pin: after
    the checkpoint, planning reads no footers AND no pre-checkpoint
    record is opened; history() still returns every commit; restore
    past the horizon falls back (correct, footer-harvested)."""
    import json as _json

    t = ParquetTable(spark, str(tmp_path / "t"))
    for i in range(12):
        t.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id"))
    log_dir = os.path.join(str(tmp_path / "t"), "_commits")
    cks = [n for n in os.listdir(log_dir) if n.startswith("_checkpoint.")]
    assert cks == ["_checkpoint.00000010.json"]
    assert len(t.history()) == 12  # checkpoints are not commit records
    assert t._next_seq() == 13

    # poison every pre-checkpoint record body: the fold must not read
    # them (and footers must not be opened either)
    for n in os.listdir(log_dir):
        if n.endswith(".json") and not n.startswith("_") and int(n[:8]) <= 10:
            with open(os.path.join(log_dir, n), "w") as f:
                f.write("{not json")
    import pyarrow.parquet as pq_mod

    def boom(*a, **k):
        raise AssertionError("footer read after checkpoint")

    monkeypatch.setattr(pq_mod, "ParquetFile", boom)
    assert t.count_rows() == 120
    assert t.column_min_max("id") == (0, 119)
    assert len(t.file_stats()) == t.file_count()
    monkeypatch.undo()

    # next checkpoint at 20 folds through the tail again
    for i in range(12, 20):
        t.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id"))
    cks = sorted(
        n for n in os.listdir(log_dir) if n.startswith("_checkpoint.")
    )
    assert cks[-1] == "_checkpoint.00000020.json"
    with open(os.path.join(log_dir, cks[-1])) as f:
        ck = _json.load(f)
    assert len(ck["stats"]) == t.file_count()
    assert t.count_rows() == 200


def test_column_min_max_metadata_and_fallbacks(spark, tmp_path):
    """column_min_max answers from log stats when sound, falls back to
    the exact scan under deletion vectors or stat-less columns."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(100).selectExpr(
            "id", "CAST(id AS DOUBLE) / 4 AS x", "repeat('z', 200) AS big"
        )
    )
    assert t.column_min_max("id") == (0, 99)
    assert t.column_min_max("x") == (0.0, 24.75)
    # oversize strings dropped from stats -> exact scan fallback
    mn, mx = t.column_min_max("big")
    assert mn == "z" * 200 and mx == "z" * 200
    # DV forces the exact path (a deleted row could hold the extreme)
    t.delete_where_dv("id >= 90")
    assert t.column_min_max("id") == (0, 89)
    # rename resolves through the mapping
    t.rename_column("id", "key")
    assert t.column_min_max("key") == (0, 89)


def test_orphan_file_fsck(spark, tmp_path):
    """Files never referenced by any commit (crashed-writer leftovers)
    are flagged and removable; fresh files inside the grace window are
    left alone; committed files are never touched."""
    import shutil
    import time as _time

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(50).selectExpr("id"))
    # simulate a crashed writer: copy a data file under a new name
    files = t._data_files()
    src = os.path.join(str(tmp_path / "t"), files[0])
    stray = os.path.join(str(tmp_path / "t"), "part-crashed-leftover.parquet")
    shutil.copy(src, stray)
    assert t.orphan_files(grace_seconds=3600) == []  # too fresh
    old = _time.time() - 7200
    os.utime(stray, (old, old))
    assert t.orphan_files(grace_seconds=3600) == [
        "part-crashed-leftover.parquet"
    ]
    assert t.remove_orphan_files(grace_seconds=3600) == 1
    assert t.orphan_files(grace_seconds=3600) == []
    assert t.read().count() == 50
    assert t.history()[-1]["op"] == "fsck_remove_orphans"


def test_range_scan_prunes_partition_column_from_paths(spark, tmp_path):
    """range_scan on a PARTITION column prunes from directory names
    (exact single-value ranges, zero I/O) — the partition-pruning
    analogue of log-stats skipping."""
    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(spark.range(100).selectExpr("id", "id % 5 AS p"))
    ranges = t.file_column_ranges("p")
    assert all(mn == mx and mn in range(5) for _, mn, mx in ranges)
    keep = [rel for rel, mn, mx in ranges if not (mn > 3 or mx < 2)]
    assert 0 < len(keep) < len(ranges)
    got = sorted(r["id"] for r in t.range_scan("p", 2, 3).collect())
    assert got == sorted(i for i in range(100) if i % 5 in (2, 3))


def test_identity_by_default_fills_nulls(spark, tmp_path):
    """BY DEFAULT identity: explicit values pass through, NULLs draw
    fresh values past the mark (Delta's omitted-value behavior) — in
    both deterministic and gap modes — and the mark then clears every
    explicit value too (no future collision)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.add_identity_column("rid", always=False)
    df = spark.createDataFrame(
        [(1, 100), (2, None), (3, 7), (4, None)], "k int, rid long"
    )
    t.overwrite(df, identity_order_by=["k"])
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    # explicit 100 and 7 survive; nulls fill in key order past hwm(=0)
    assert got[1] == 100 and got[3] == 7
    assert got[2] == 1 and got[4] == 2
    # hwm cleared the explicit max -> next allocation starts past 100
    t.append(spark.createDataFrame([(5, None)], "k int, rid long"))
    vals = [r["rid"] for r in t.read().collect()]
    assert len(set(vals)) == 5 and max(vals) > 100

    # gap mode: nulls fill uniquely, explicit survive
    g = ParquetTable(spark, str(tmp_path / "g"))
    g.add_identity_column("rid", always=False)
    g.overwrite(
        spark.range(100).selectExpr(
            "id AS k", "CASE WHEN id < 10 THEN id * 1000 END AS rid"
        ).repartition(4)
    )
    rows = {r["k"]: r["rid"] for r in g.read().collect()}
    assert all(rows[k] == k * 1000 for k in range(10))
    assert len(set(rows.values())) == 100


def test_scd1_surrogate_apply_preserves_ids(spark, tmp_path):
    """Surrogate-key SCD1: matched keys keep their surrogate across
    attribute updates; first-seen keys mint fresh ones at write."""
    from data_ingestion_framework_spark.operators.scd import (
        scd1_surrogate_apply,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.add_identity_column("row_id", always=False)
    b1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, attr string, v int"
    )
    t.overwrite(
        scd1_surrogate_apply(None, b1, ["k"], "v"),
        identity_order_by=["k"],
    )
    ids1 = {r["k"]: r["row_id"] for r in t.read().collect()}
    b2 = spark.createDataFrame(
        [(1, "a2", 2), (3, "c", 2)], "k int, attr string, v int"
    )
    t.overwrite(
        scd1_surrogate_apply(t.read(), b2, ["k"], "v"),
        identity_order_by=["k"],
    )
    rows = {r["k"]: (r["attr"], r["row_id"]) for r in t.read().collect()}
    assert rows[1] == ("a2", ids1[1])     # updated, id preserved
    assert rows[2] == ("b", ids1[2])      # untouched passthrough
    assert rows[3][0] == "c" and rows[3][1] not in ids1.values()  # fresh


def test_strict_files_reads_from_log(spark, tmp_path):
    """strict_files: the scan reads EXACTLY the latest commit's file
    list (one log record, picked by filename) — crashed-writer
    leftovers are invisible until committed, unlike the default
    directory scan; lifecycle ops keep working."""
    import shutil

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.set_properties({"strict_files": True})
    t.overwrite(spark.range(50).selectExpr("id"))
    t.append(spark.range(50, 60).selectExpr("id"))
    assert t.read().count() == 60

    # a crashed writer's stray file: visible to a dir scan, invisible
    # under strict_files
    files = t._data_files()
    stray = os.path.join(str(tmp_path / "t"), "part-crashed.parquet")
    shutil.copy(os.path.join(str(tmp_path / "t"), files[0]), stray)
    assert t.read().count() == 60
    assert "part-crashed" not in " ".join(t.read().inputFiles())
    os.unlink(stray)

    # DV + delete lifecycle still composes
    t.delete_where_dv("id % 10 = 0")
    assert t.read().count() == 54
    t.delete_where(F.col("id") >= 55)
    assert sorted(r["id"] for r in t.read().collect()) == [
        i for i in range(55) if i % 10 != 0
    ]

    # COW statements under strict mode don't sweep stray rows in
    s2 = ParquetTable(spark, str(tmp_path / "s2"))
    s2.set_properties({"strict_files": True})
    s2.overwrite(spark.range(20).selectExpr("id"))
    shutil.copy(
        os.path.join(str(tmp_path / "s2"), s2._data_files()[0]),
        os.path.join(str(tmp_path / "s2"), "part-crashed.parquet"),
    )
    s2.delete_where(F.col("id") >= 15)
    assert sorted(r["id"] for r in s2.read().collect()) == list(range(15))

    # partitioned strict reads resolve partition columns via basePath
    p = ParquetTable(spark, str(tmp_path / "p"), partition_by=["b"])
    p.set_properties({"strict_files": True})
    p.overwrite(spark.range(20).selectExpr("id", "id % 2 AS b"))
    assert set(p.read().columns) == {"id", "b"}
    assert p.read().where(F.col("b") == 1).count() == 10


def test_review_fixes_round8(spark, tmp_path):
    """Regression pins for the round-8 review findings."""
    import datetime

    # (1) truncated string MIN must not be reported as a value: mixed
    # column where min is long (truncated in stats) but max is short
    t = ParquetTable(spark, str(tmp_path / "t1"))
    t.overwrite(
        spark.createDataFrame(
            [("b" * 100,), ("c",)], "s string"
        )
    )
    assert t.column_min_max("s") == ("b" * 100, "c")  # exact, not prefix

    # (2) date-partitioned range_scan: typed parse + no TypeError
    p = ParquetTable(spark, str(tmp_path / "p"), partition_by=["dt"])
    p.overwrite(
        spark.createDataFrame(
            [(i, datetime.date(2024, 1, 1 + i % 3)) for i in range(30)],
            "id int, dt date",
        )
    )
    lo = datetime.date(2024, 1, 2)
    got = p.range_scan("dt", lo=lo).count()
    assert got == sum(1 for i in range(30) if 1 + i % 3 >= 2)
    ranges = p.file_column_ranges("dt")
    assert all(isinstance(mn, datetime.date) for _, mn, mx in ranges)

    # (3) strict_files planning APIs hide strays like read() does
    import shutil

    s = ParquetTable(spark, str(tmp_path / "s"))
    s.set_properties({"strict_files": True})
    s.overwrite(spark.range(40).selectExpr("id"))
    stray = os.path.join(str(tmp_path / "s"), "part-stray.parquet")
    shutil.copy(os.path.join(str(tmp_path / "s"), s._data_files()[0]), stray)
    assert s.count_rows() == 40
    assert s.column_min_max("id") == (0, 39)
    assert sorted(r["id"] for r in s.range_scan("id", 0, 5).collect()) == [
        0, 1, 2, 3, 4, 5,
    ]
    os.unlink(stray)

    # (4) renaming an identity column remaps the spec; dropping refuses
    i = ParquetTable(spark, str(tmp_path / "i"))
    i.add_identity_column("rid")
    i.overwrite(spark.range(5).selectExpr("id AS k"))
    i.rename_column("rid", "row_id")
    assert "row_id" in i.identity_spec() and "rid" not in i.identity_spec()
    i.append(spark.range(5, 8).selectExpr("id AS k"))
    vals = [r["row_id"] for r in i.read().collect()]
    assert len(set(vals)) == 8  # no duplicate column, fresh allocation
    with pytest.raises(ValueError, match="ALWAYS"):
        i.append(spark.range(1).selectExpr("id AS k", "id AS row_id"))
    with pytest.raises(ValueError, match="IDENTITY"):
        i.drop_column("row_id")

    # (5) checkpoint_interval=0 disables checkpointing
    c = ParquetTable(spark, str(tmp_path / "c"))
    c.set_properties({"checkpoint_interval": 0})
    for j in range(11):
        c.append(spark.range(j, j + 1).selectExpr("id"))
    log_dir = os.path.join(str(tmp_path / "c"), "_commits")
    assert not [n for n in os.listdir(log_dir) if n.startswith("_checkpoint")]

    # (6) surrogate + full_extract rejected loudly
    from data_ingestion_framework_spark.sinks.writers import batch_write

    d = ParquetTable(spark, str(tmp_path / "d"))
    d.add_identity_column("row_id", always=False)
    with pytest.raises(ValueError, match="full_extract"):
        batch_write(
            spark.range(3).selectExpr("id AS k", "id AS v"),
            d,
            mode="merge",
            key_cols=["k"],
            order_col="v",
            surrogate_id_col="row_id",
            full_extract=True,
        )


# -- COPY INTO -----------------------------------------------------------


def _stage(spark, path, vals):
    spark.createDataFrame([Row(a=v) for v in vals]).coalesce(1).write.parquet(path)


def test_copy_into_loads_once_and_skips_on_rerun(spark, tmp_path):
    land = str(tmp_path / "land")
    _stage(spark, land + "/d1", [1, 2])
    t = ParquetTable(spark, str(tmp_path / "t"))
    r1 = t.copy_into(land, pattern="*.parquet")
    assert r1["files_loaded"] == 1 and r1["rows_loaded"] == 2
    r2 = t.copy_into(land, pattern="*.parquet")
    assert r2 == {"files_loaded": 0, "rows_loaded": 0, "files_skipped": 1}
    assert sorted(r["a"] for r in t.read().collect()) == [1, 2]
    # a new drop is picked up incrementally; old files stay skipped
    _stage(spark, land + "/d2", [3])
    r3 = t.copy_into(land, pattern="*.parquet")
    assert r3["files_loaded"] == 1 and r3["files_skipped"] == 1
    assert sorted(r["a"] for r in t.read().collect()) == [1, 2, 3]


def test_copy_into_force_reloads_and_pattern_filters(spark, tmp_path):
    land = str(tmp_path / "land")
    _stage(spark, land + "/d1", [1])
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.copy_into(land, pattern="*.parquet")
    r = t.copy_into(land, pattern="*.parquet", force=True)
    assert r["files_loaded"] == 1  # FORCE reloads, duplicating
    assert sorted(x["a"] for x in t.read().collect()) == [1, 1]
    # a pattern that matches nothing is a clean no-op
    r = t.copy_into(land, pattern="*.csv")
    assert r["files_loaded"] == 0 and r["files_skipped"] == 0


def test_copy_into_ledger_survives_other_commits(spark, tmp_path):
    land = str(tmp_path / "land")
    _stage(spark, land + "/d1", [1, 2])
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.copy_into(land, pattern="*.parquet")
    # interleave non-COPY commits: the newest record no longer carries
    # the ledger, the fold must walk back past them
    t.append(spark.createDataFrame([Row(a=9)]))
    t.delete_where(F.col("a") == 9)
    assert len(t.copied_files()) == 1
    r = t.copy_into(land, pattern="*.parquet")
    assert r["files_loaded"] == 0
    assert sorted(x["a"] for x in t.read().collect()) == [1, 2]


def test_add_column_default_lifecycle(spark, tmp_path):
    """ALTER TABLE ADD COLUMN ... DEFAULT (Delta allowColumnDefaults):
    metadata-only add, NULL for history, default stamped on omitting
    appends, explicit values win, rename/drop keep the added set
    coherent, overwrite materializes and clears the entry."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    files_before = set(t._data_files())
    t.add_column("score", "double", default=0.5)
    assert set(t._data_files()) == files_before  # zero files rewritten
    assert t.history()[-1]["op"] == "add_column"
    # pre-existing rows: NULL (the default is for future writes)
    assert t.read().collect()[0]["score"] is None
    # omitting append → default; supplying append → explicit value
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    t.append(
        spark.createDataFrame([(3, "c", 9.0)], "k bigint, v string, score double")
    )
    got = {r["k"]: r["score"] for r in t.read().collect()}
    assert got == {1: None, 2: 0.5, 3: 9.0}
    # read_since treats the add as file-neutral (additive)
    seq = t.history()[0]["seq"]
    assert t.read_since(seq).count() == 2
    # rename rekeys the added set; the default keeps stamping
    t.rename_column("score", "quality")
    t.append(spark.createDataFrame([(4, "d")], "k bigint, v string"))
    got = {r["k"]: r["quality"] for r in t.read().collect()}
    assert got[4] == 0.5 and set(t.read().columns) == {"k", "v", "quality"}
    # overwrite materializes: entry cleared, later NULL appends stay NULL
    t.overwrite(t.read())
    assert not t._added_columns()
    t.append(
        spark.createDataFrame(
            [(5, "e", None)], "k bigint, v string, quality double"
        )
    )
    got = {r["k"]: r["quality"] for r in t.read().collect()}
    assert got[5] is None


def test_add_column_refusals_and_drop(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("v", "string")
    with pytest.raises(Exception):
        t.add_column("bad", "not_a_type")
    t.add_column("flag", "boolean", default=True)
    # dropping the added column removes it from the added set entirely
    t.drop_column("flag")
    assert "flag" not in t.read().columns
    assert not t._added_columns()
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert set(t.read().columns) == {"k", "v"}
    # a name colliding with the dropped PHYSICAL ghost is refused...
    t2 = ParquetTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([(1, 2.0)], "k bigint, old double"))
    t2.drop_column("old")
    with pytest.raises(ValueError, match="dropped or mapped"):
        t2.add_column("old", "double")


def test_add_column_via_sql_statement(spark, tmp_path):
    from data_ingestion_framework_spark.sources.sql_statements import (
        execute_statement,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,)], "k bigint"))
    execute_statement(
        spark, "ALTER TABLE t ADD COLUMN tier string DEFAULT 'basic'",
        tables={"t": t},
    )
    execute_statement(spark, "ALTER TABLE t ADD COLUMN n bigint DEFAULT 7", tables={"t": t})
    execute_statement(spark, "ALTER TABLE t ADD COLUMN r double", tables={"t": t})
    t.append(spark.createDataFrame([(2,)], "k bigint"))
    rows = {r["k"]: (r["tier"], r["n"], r["r"]) for r in t.read().collect()}
    assert rows == {1: (None, None, None), 2: ("basic", 7, None)}


def test_set_column_default_on_stored_column(spark, tmp_path):
    """ALTER COLUMN SET/DROP DEFAULT on a STORED column: appends that
    omit it get the default, supplied values win, rename rekeys, drop
    default restores the schema-diff refusal."""
    from data_ingestion_framework_spark.sources.sql_statements import (
        execute_statement,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "x")], "k bigint, tag string"))
    execute_statement(
        spark, "ALTER TABLE t ALTER COLUMN tag SET DEFAULT 'none'",
        tables={"t": t},
    )
    t.append(spark.createDataFrame([(2,)], "k bigint"))
    t.append(spark.createDataFrame([(3, "y")], "k bigint, tag string"))
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert got == {1: "x", 2: "none", 3: "y"}
    # file-neutral commit: read_since stays additive across it
    seq = t.history()[0]["seq"]
    assert t.read_since(seq).count() == 2
    # rename rekeys the default
    t.rename_column("tag", "label")
    t.append(spark.createDataFrame([(4,)], "k bigint"))
    assert {r["k"]: r["label"] for r in t.read().collect()}[4] == "none"
    # drop default → omitting batch refuses again (schema enforcement)
    execute_statement(
        spark, "ALTER TABLE t ALTER COLUMN label DROP DEFAULT", tables={"t": t}
    )
    with pytest.raises(ValueError, match="merge_schema|differs"):
        t.append(spark.createDataFrame([(5,)], "k bigint"))
    # refusals: generated / identity / unknown / partition columns
    with pytest.raises(ValueError, match="no column"):
        t.set_column_default("ghost", 1)
    tp = ParquetTable(spark, str(tmp_path / "p"), partition_by=["p"])
    tp.overwrite(spark.createDataFrame([(1, "a")], "k bigint, p string"))
    with pytest.raises(ValueError, match="partition"):
        tp.set_column_default("p", "a")


def test_governance_masks_and_row_filter(spark, tmp_path):
    """UC-style governance at the SERVING boundary: governed_read()
    applies the row filter on raw values, then every mask in ONE
    projection (masks see pre-mask values); read() and the COW rewrite
    paths stay raw — a rewrite can never persist masked data."""
    from data_ingestion_framework_spark.sources.sql_statements import (
        execute_statement,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "alice@x.io", 120.0), (2, "bob@y.io", 40.0), (3, None, 99.0)],
            "k bigint, email string, v double",
        )
    )
    execute_statement(
        spark,
        "ALTER TABLE t ALTER COLUMN email SET MASK "
        "(CASE WHEN v > 100 THEN email ELSE '***' END)",
        tables={"t": t},
    )
    execute_statement(
        spark, "ALTER TABLE t SET ROW FILTER (k < 3)", tables={"t": t}
    )
    got = {r["k"]: r["email"] for r in t.governed_read().collect()}
    assert got == {1: "alice@x.io", 2: "***"}  # filter first, mask sees raw v
    # raw surfaces unaffected
    assert t.read().count() == 3
    # COW rewrite through raw read never persists the mask
    t.update_where({"v": F.col("v") + 1}, "k = 2")
    assert {r["k"]: r["email"] for r in t.read().collect()}[2] == "bob@y.io"
    # policy commits are file-neutral: read_since from AFTER the COW
    # update stays additive across the appends that follow
    seq = t.history()[-1]["seq"]
    t.append(spark.createDataFrame([(4, "eve@z.io", 5.0)], "k bigint, email string, v double"))
    assert t.read_since(seq).count() == 1
    # drop restores the columns/rows
    execute_statement(spark, "ALTER TABLE t ALTER COLUMN email DROP MASK", tables={"t": t})
    execute_statement(spark, "ALTER TABLE t DROP ROW FILTER", tables={"t": t})
    assert t.governed_read().count() == t.read().count()
    import pytest as _pt

    with _pt.raises(ValueError, match="no mask"):
        t.drop_column_mask("email")
    with _pt.raises(ValueError, match="no column"):
        t.set_column_mask("ghost", "'x'")


def test_governance_guards_rename_and_drop(spark, tmp_path):
    """A mask or row filter referencing a column pins it: rename/drop
    refuse (the policy SQL text cannot be rewritten safely), mirroring
    the CHECK-constraint guards."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "e@x", 5.0)], "k bigint, email string, v double")
    )
    t.set_column_mask("email", "CASE WHEN v > 10 THEN email ELSE '***' END")
    with pytest.raises(ValueError, match="mask"):
        t.rename_column("email", "mail")
    with pytest.raises(ValueError, match="mask"):
        t.rename_column("v", "val")  # referenced INSIDE the mask expr
    with pytest.raises(ValueError, match="mask"):
        t.drop_column("v")
    t.drop_column_mask("email")
    t.set_row_filter("k > 0")
    with pytest.raises(ValueError, match="row"):
        t.rename_column("k", "pk")
    t.drop_row_filter()
    t.rename_column("k", "pk")  # free again
    assert "pk" in t.read().columns


def test_difs_stream_reader_refuses_metadata_tables(spark, tmp_path):
    from data_ingestion_framework_spark.sources.pyds import (
        ParquetTableDataSource,
    )

    spark.dataSource.register(ParquetTableDataSource)
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,)], "k bigint"))
    t.add_column("tier", "string", default="x")
    with pytest.raises(Exception, match="table_stream|metadata"):
        (
            spark.readStream.format("difs")
            .option("path", t.path)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_add_column_default_on_partitioned_table(spark, tmp_path):
    """The metadata add composes with partitioned layouts: old
    partition files read NULL, stamped appends land under their
    partitions, COW delete carries the mixed footers through."""
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, p string"))
    t.add_column("tier", "string", default="std")
    t.append(spark.createDataFrame([(3, "a")], "k bigint, p string"))
    t.delete_where(F.col("k") == 1)
    got = sorted((r["k"], r["tier"]) for r in t.read().collect())
    assert got == [(2, None), (3, "std")]


# -- the table schema in the commit log ---------------------------------------
#
# Every commit record carries the table's row schema (Delta's metaData
# action), and read() declares it instead of inferring it from a footer
# (a Spark job). Each layout below must read value-identically to the
# inferred path, which the tests reach by hiding the logged schema.

_BATTERY = (
    "k bigint, d decimal(18,4), x double, s string, b binary, dt date, "
    "ts timestamp, ntz timestamp_ntz, arr array<bigint>, "
    "m map<string,bigint>, st struct<a:int,b:string>"
)


def _battery(spark, lo: int, hi: int, extra: str = "", extra_of=None):
    import datetime
    from decimal import Decimal

    from data_ingestion_framework_spark.session import local_frame

    t0 = datetime.datetime(2024, 2, 28, 22, 30, 0, 123456)
    rows = []
    for k in range(lo, hi):
        null = k % 5 == 4  # a NULL in every nullable column now and then
        rows.append(
            (
                k,
                None if null else Decimal(k * 1234567) / Decimal(10000),
                None if null else k * 0.5 - 1.25,
                None if null else f"s{k}",
                None if null else bytes([k % 256, 0, 255]),
                None if null else datetime.date(2024, 2, 27) + datetime.timedelta(days=k % 4),
                None if null else t0 + datetime.timedelta(hours=5 * k),
                None if null else t0 - datetime.timedelta(minutes=k),
                None if null else [k, None, -k],
                None if null else {"a": k, "b": None},
                None if null else (k, f"x{k}"),
            )
            + ((extra_of(k),) if extra_of else ())
        )
    return local_frame(spark, rows, _BATTERY + extra)


def _two_commits(spark, path, partition_by=None, extra="", extra_of=None):
    t = ParquetTable(spark, path, partition_by=partition_by)
    t.overwrite(_battery(spark, 0, 6, extra, extra_of))
    t.append(_battery(spark, 6, 11, extra, extra_of))
    return t


def _read(t):
    return t.read()


def _layout_unpartitioned(spark, path):
    return _two_commits(spark, path), _read


def _layout_identity_int(spark, path):
    return _two_commits(spark, path, ["p"], ", p int", lambda k: k % 3), _read


def _layout_identity_numeric_string(spark, path):
    # "007"-style directory values: Spark types the partition column from
    # the directory names (int here) on both paths
    t = _two_commits(spark, path, ["p"], ", p string", lambda k: f"{k % 3:03d}")
    return t, _read


def _layout_identity_date(spark, path):
    t = _two_commits(spark, path, ["dt"])
    return t, _read


def _layout_days_ts(spark, path):
    return _two_commits(spark, path, ["days(ts)"]), _read


def _layout_bucketed(spark, path):
    from data_ingestion_framework_spark.session import local_frame
    from data_ingestion_framework_spark.sinks.writers import BUCKET_COL, batch_write

    schema = "k bigint, v string, d decimal(10,2), ts timestamp, mtime bigint"
    t = ParquetTable(spark, path, partition_by=[BUCKET_COL])
    import datetime
    from decimal import Decimal

    def batch(keys, tag, mtime):
        return local_frame(
            spark,
            [
                (k, f"{tag}{k}", Decimal(k) / 4, datetime.datetime(2024, 1, 1, k % 24), mtime)
                for k in keys
            ],
            schema,
        )

    batch_write(batch(range(12), "a", 1), t, mode="merge", key_cols=["k"],
                order_col="mtime", num_buckets=4)
    batch_write(batch(range(8, 16), "b", 2), t, mode="merge", key_cols=["k"],
                order_col="mtime", num_buckets=4)
    return t, _read


def _layout_renamed(spark, path):
    t = _two_commits(spark, path)
    t.rename_column("s", "label")
    return t, _read


def _layout_dropped(spark, path):
    t = _two_commits(spark, path)
    t.drop_column("x")
    return t, _read


def _layout_deletion_vectors(spark, path):
    t = _two_commits(spark, path)
    t.delete_where_dv("k % 3 = 0")
    return t, _read


def _layout_strict_files(spark, path):
    t = ParquetTable(spark, path, partition_by=["p"])
    t.set_properties({"strict_files": True})
    t.overwrite(_battery(spark, 0, 6, ", p int", lambda k: k % 2))
    t.append(_battery(spark, 6, 11, ", p int", lambda k: k % 2))
    return t, _read


def _layout_read_since(spark, path):
    t = ParquetTable(spark, path, partition_by=["p"])
    t.overwrite(_battery(spark, 0, 6, ", p int", lambda k: k % 2))
    seq = t.last_commit()["seq"]
    t.append(_battery(spark, 6, 11, ", p int", lambda k: k % 2))
    t.append(_battery(spark, 11, 14, ", p int", lambda k: k % 2))
    return t, lambda tbl: tbl.read_since(seq)


_LAYOUTS = {
    f.__name__[len("_layout_"):]: f
    for f in (
        _layout_unpartitioned,
        _layout_identity_int,
        _layout_identity_numeric_string,
        _layout_identity_date,
        _layout_days_ts,
        _layout_bucketed,
        _layout_renamed,
        _layout_dropped,
        _layout_deletion_vectors,
        _layout_strict_files,
        _layout_read_since,
    )
}

#: layouts whose reads infer by design: DROP COLUMN flags the table
#: ``schema_evolved`` (appends after the drop write narrower footers)
_INFERRED_LAYOUTS = {"dropped"}


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_logged_schema_read_matches_inferred(
    spark, tmp_path, monkeypatch, launched_jobs, layout
):
    t, read = _LAYOUTS[layout](spark, str(tmp_path / "t"))
    assert t.last_commit()["schema"]
    assert (t._logged_schema() is None) == (layout in _INFERRED_LAYOUTS)
    with launched_jobs() as logged_jobs:
        logged = read(t)
    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_logged_schema", lambda self, files=None: None)
        with launched_jobs() as inferred_jobs:
            inferred = read(t)
    assert inferred_jobs, "the inferred path should open a footer"
    if layout not in _INFERRED_LAYOUTS:
        assert logged_jobs == [], "planning a logged-schema read ran a job"
    assert logged.schema == inferred.schema
    got, want = logged.collect(), inferred.collect()
    assert got and sorted(got, key=repr) == sorted(want, key=repr)


def test_commit_schema_is_sparks_footer_schema(spark, tpath):
    """The logged string is the footer's row schema verbatim; commits
    that write no file carry it forward; an append with the same
    columns in another order keeps the table's order."""
    import pyarrow.parquet as pq

    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.overwrite(spark.range(4).selectExpr("id AS k", "id % 2 AS p", "'a' AS v"))
    rec = t.last_commit()
    md = pq.ParquetFile(os.path.join(tpath, rec["files"][0])).metadata.metadata
    assert rec["schema"] == md[b"org.apache.spark.sql.parquet.row.metadata"].decode()
    assert [f.name for f in t._logged_schema().fields] == ["k", "v"]
    t.add_check_constraint("k_pos", "k >= 0")
    assert t.last_commit()["op"] == "add_constraint"
    assert t.last_commit()["schema"] == rec["schema"]
    t.append(spark.range(4, 6).selectExpr("'b' AS v", "id % 2 AS p", "id AS k"))
    assert t.last_commit()["schema"] == rec["schema"]
    assert t.read().columns == ["k", "v", "p"]
    assert sorted(r["k"] for r in t.read().collect()) == list(range(6))


def test_record_without_schema_infers(spark, tpath, launched_jobs):
    """A log written before schemas were logged reads exactly as before
    (inferred), and the next commit starts logging."""
    import json

    t = _two_commits(spark, tpath)
    want = sorted(t.read().collect(), key=repr)
    for name in t._record_names():
        f = os.path.join(t._log_dir(), name)
        with open(f) as fh:
            rec = json.load(fh)
        rec.pop("schema")
        with open(f, "w") as fh:
            json.dump(rec, fh)
    assert t._logged_schema() is None
    with launched_jobs() as ids:
        df = t.read()
    assert ids
    assert sorted(df.collect(), key=repr) == want
    t.append(_battery(spark, 11, 12))
    assert t._logged_schema() is not None
    with launched_jobs() as ids:
        df = t.read()
    assert ids == []
    assert len(df.collect()) == 12


def test_schema_evolved_table_keeps_merge_schema(spark, tpath):
    t = ParquetTable(spark, tpath)
    t.overwrite(spark.range(3).selectExpr("id AS k"))
    t.append(spark.range(3, 5).selectExpr("id AS k", "'n' AS extra"), merge_schema=True)
    assert t.properties()["schema_evolved"] and t._logged_schema() is None
    got = sorted((r["k"], r["extra"]) for r in t.read().collect())
    assert got == [(0, None), (1, None), (2, None), (3, "n"), (4, "n")]


@pytest.mark.parametrize("partition_by", [["p"], None], ids=["partitioned", "unpartitioned"])
def test_create_empty_reads_declared_schema(spark, tpath, launched_jobs, partition_by):
    """A partitioned create_empty writes no data file; its read used to
    raise UNABLE_TO_INFER_SCHEMA. The create record logs the declared
    schema, so the empty table reads as an empty frame of it."""
    from data_ingestion_framework_spark.session import local_frame

    t = ParquetTable(spark, tpath, partition_by=partition_by)
    t.create_empty("k bigint, v string, p int")
    assert t.exists() == (partition_by is None)
    with launched_jobs() as ids:
        df = t.read()
    assert ids == []
    assert df.schema.simpleString() == "struct<k:bigint,v:string,p:int>"
    assert df.collect() == []
    t.append(local_frame(spark, [(1, "a", 7)], "k bigint, v string, p int"))
    assert t.exists()
    assert [tuple(r) for r in t.read().collect()] == [(1, "a", 7)]


def test_uncommitted_files_after_create_read_like_inference(spark, tpath, monkeypatch):
    """A partitioned create logs the declared schema, partition column
    included. If data files land without a commit record (an append
    that crashed before committing), the directory scan still types and
    places the partition column from the directory names, as inference
    does (``p=0`` reads back as int, not the declared bigint)."""
    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.create_empty("p bigint, k bigint, v string")
    spark.range(4).selectExpr("id AS k", "'a' AS v", "id % 2 AS p").write.mode(
        "append"
    ).partitionBy("p").parquet(tpath)
    logged = t.read()
    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_logged_schema", lambda self, files=None: None)
        inferred = t.read()
    assert logged.schema.simpleString() == "struct<k:bigint,v:string,p:int>"
    assert logged.schema == inferred.schema
    assert sorted(logged.collect()) == sorted(inferred.collect())


def test_emptied_partitioned_table_does_not_drop_partition_columns(spark, tpath):
    """Deleting every row of a partitioned table leaves no data file and
    a logged footer schema without the partition column: read() infers
    as before (and fails to) rather than return an empty frame that
    silently lacks ``p``."""
    from pyspark.errors import AnalysisException

    t = ParquetTable(spark, tpath, partition_by=["p"])
    t.overwrite(spark.range(4).selectExpr("id AS k", "id % 2 AS p"))
    t.delete_where("k >= 0")
    assert t._logged_schema().names == ["k"] and not t._data_files()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        t.read()
