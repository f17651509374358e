"""Plan-quality regression gate over the bench headline queries: no
row-at-a-time Python UDF ever appears in a hot path, and nested-loop
joins appear only where a 1-row control-plane frame is crossJoined by
design (corpus totals, bloom bitmaps, broadcast query vectors). Counts
come from tools/plan_audit.py — the same audit the driver can diff
across rounds."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: queries whose plan intentionally carries a BroadcastNestedLoopJoin:
#: each crossJoins ONE broadcast row (or a k-row constant frame) of
#: control-plane data — corpus-level totals, a bloom bitmap, a query
#: vector. A nested loop against a 1-row side is a map-side constant
#: fold, not a quadratic join.
NESTED_LOOP_BY_DESIGN = {
    "similarity_cosine_topk",      # broadcast query-vector frame
    "docs_decontaminate_bloom",    # broadcast bloom bitmap row
    "text_unigram_ce",             # corpus-total row
    "similarity_pq_topk",          # broadcast query-vector frame
    "similarity_hamming_topk",     # broadcast query-signature frame
    "docs_dsir_weights",           # corpus-total row
    "docs_bm25_topk",              # corpus stats (N, avgdl) row
    "retrieval_rrf_hybrid",        # BM25 corpus-stats row (twice: two arms)
    "corpus_unigram_em_tokens",    # M-step piece-count total row
    "orders_price_exact_percentiles",  # broadcast 4-row fraction-rank frame
    # temperature grid: the scored frame crossJoins the broadcast
    # |T|=8-row candidate frame (a bounded constant — the |T|× scan is
    # the point: one pass instead of |T|), and the final
    # chosen×before assembly crossJoins two 1-row frames
    "docs_quality_temperature_fit",
}

#: queries whose plan intentionally carries a window fed by
#: ``Exchange SinglePartition`` — every entry needs an ARGUED
#: cardinality bound. Unbounded cases get fixed, not pinned: the
#: round-12 dead detector hid an unbounded rank window inside
#: classifier_auc (fixed with operators/rank.py's range-partitioned
#: prefix sum) and, once revived, caught rrf_fuse ranking the whole
#: fused id domain through one task (fixed with a distributed
#: TakeOrdered top-k BEFORE the rank window).
SINGLE_PARTITION_BY_DESIGN: set[str] = {
    # rrf_fuse's rank-number tail: the window input is the OUTPUT of
    # orderBy().limit(k) — at most k = 10 rows by construction
    # (control-plane sized at any corpus scale)
    "retrieval_rrf_hybrid",
}


def test_headline_plans_have_no_row_python_and_bounded_nested_loops(spark):
    from bench import HEADLINE
    from tools.plan_audit import audit_query

    sf_dir = "/root/testdata/sf0.001"
    offenders, py_row, py_rdd, one_part = [], [], [], []
    for name in HEADLINE:
        r = audit_query(spark, name, sf_dir)
        if r["py_row"]:
            py_row.append(name)
        if r["py_rdd"]:
            py_rdd.append(name)
        if r["nested_loop"] and name not in NESTED_LOOP_BY_DESIGN:
            offenders.append(name)
        if r["single_part_win"] and name not in SINGLE_PARTITION_BY_DESIGN:
            one_part.append(name)
    assert not py_row, f"row-at-a-time Python UDF in hot path: {py_row}"
    assert not py_rdd, (
        "frame over a Python-pickled RDD (createDataFrame of a Python "
        f"list) in a headline plan: {py_rdd} — use session.local_frame"
    )
    assert not offenders, (
        "unexpected nested-loop/cartesian join (quadratic unless one "
        f"side is a 1-row control frame): {offenders} — if intentional, "
        "document it in NESTED_LOOP_BY_DESIGN"
    )
    assert not one_part, (
        "window fed by Exchange SinglePartition (every row through one "
        f"task): {one_part} — use operators/rank.py's range-partitioned "
        "prefix sum, or argue a bound in SINGLE_PARTITION_BY_DESIGN"
    )


def test_python_rdd_counter_is_alive(spark):
    """``py_rdd`` counts a ``createDataFrame(<list>)`` scan — also
    through a broadcast join and in the AQE-finalized plan — but not a
    ``localCheckpoint`` scan (same ``Scan ExistingRDD`` node name, no
    Python) nor a ``local_frame`` (a ``LocalRelation``)."""
    from pyspark.sql import functions as F

    from data_ingestion_framework_spark.session import local_frame
    from tools.plan_audit import python_rdd_scans

    def count(df):
        return python_rdd_scans(df._jdf.queryExecution().executedPlan())

    py = spark.createDataFrame([(1,)], "a int")
    lf = local_frame(spark, [(1,)], "a int")
    ck = spark.range(5).withColumnRenamed("id", "a").localCheckpoint(eager=False)
    assert "Scan ExistingRDD" in ck._jdf.queryExecution().executedPlan().toString()
    assert (count(py), count(lf), count(ck)) == (1, 0, 0)
    joined = (
        spark.range(10)
        .withColumnRenamed("id", "a")
        .join(F.broadcast(py), "a")
        .unionByName(ck.join(lf, "a"))
    )
    assert count(joined) == 1
    joined.collect()
    assert count(joined) == 1


def test_single_partition_window_counter_is_alive(spark):
    """Regression for the round-12 dead counter: the old detector
    required Window/Sort/Exchange on CONSECUTIVE lines, which a
    finalized AQE plan never satisfies (a ShuffleQueryStage line
    interposes), so it reported 0 on plans carrying real global-order
    windows. A deliberately global cumulative-sum window must now
    count — on the EXECUTED (AQE-finalized) plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from tools.plan_audit import audit_plan

    df = spark.range(100).withColumn(
        "run",
        F.sum("id").over(
            W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    r = audit_plan(plan)
    assert r["single_part_win"] >= 1, plan
    assert r["single_part_exchange"] >= 1, plan
    # ...and the exchanges counter sees the SinglePartition spelling too
    assert r["exchanges"] >= 1, plan


def test_single_partition_window_counter_reads_hash_lines(spark):
    """A global-order window whose plan line prints the ``\\x1e`` NULL
    sentinel of the hash expressions (a ``lag`` over a ``hash_diff``
    column, defaulting to the sentinel) still counts:
    ``str.splitlines()`` cut that line into fragments the feed-node
    walk stopped at, so the counter read 0."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_ingestion_framework_spark.functions.hashes import _NULL, hash_diff
    from tools.plan_audit import audit_plan

    df = spark.range(20).withColumn("x", (F.col("id") % 3).cast("string"))
    df = df.withColumn("h", hash_diff(df, ["x"])).withColumn(
        "prev", F.lag("h", 1, _NULL).over(W.orderBy("id"))
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    window = next(ln for ln in plan.split("\n") if "Window [" in ln)
    assert "\x1e" in window, plan
    assert audit_plan(plan)["single_part_win"] == 1, plan


def test_exchange_counter_sees_round_robin(spark):
    """ADVICE r13: plain ``repartition(n)`` plans
    ``Exchange RoundRobinPartitioning`` — a spelling the exchanges
    regex used to miss, undercounting shuffles in audited plans."""
    from tools.plan_audit import audit_plan

    df = spark.range(100).repartition(7)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
    assert audit_plan(plan)["exchanges"] >= 1, plan


def test_codegen_counter_sees_finalized_aqe_spans(spark):
    """Regression for the dead-counter class: an UNEXECUTED AQE plan
    string contains no codegen markers, so audit_query(execute=True)
    must finalize the plan (noop sink) and read nonzero codegen spans
    on a trivially-codegen'd aggregate query."""
    from tools.plan_audit import audit_query

    r = audit_query(
        spark, "pricing_summary", "/root/testdata/sf0.001", execute=True
    )
    assert r["codegen"] > 0, r


def test_no_phantom_reference_citations():
    """Round-11 verdict #4: every reference-style path cited in a
    package docstring/comment must exist under the actual reference
    tree (or be a self-cite into this repo). Guards against fabricated
    citations like the deleted ``vector_ops/knn.(rs|go)``."""
    import sys
    sys.path.insert(0, "tools")
    try:
        from check_citations import find_phantoms
    finally:
        sys.path.pop(0)
    assert find_phantoms() == []


def _subtrees(plan: str) -> list[tuple[str, list[str]]]:
    """``(node line, its subtree's lines)`` for every node of a plan
    tree string; a node's depth is the column its name starts at."""
    # split on newlines only: str.splitlines() also breaks on the \x1e
    # of the NULL sentinel that hash expressions print
    lines = [ln for ln in plan.split("\n") if ln.strip()]
    cols = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        j = i + 1
        while j < len(lines) and cols[j] > cols[i]:
            j += 1
        out.append((ln, lines[i + 1 : j]))
    return out


def test_scd2_merge_shuffles_only_touched_rows(spark, tmp_path):
    """The executed SCD2 merge of a table target has exactly one hash
    exchange, on the key, and the target is never shuffled whole: its
    only scan below that exchange reaches it through the semi join
    against the batch keys (the live rows the batch touches), no
    broadcast carries target rows, and the rest of the target passes
    through without an exchange."""
    import datetime as dt

    from data_ingestion_framework_spark.operators import scd
    from data_ingestion_framework_spark.session import local_frame
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from tools.plan_audit import audit_plan

    t0 = dt.datetime(2024, 1, 1)
    schema = "pk int, v string, mtime timestamp"
    table = ParquetTable(spark, str(tmp_path / "dim"))
    table.overwrite(
        scd.scd2_apply(
            None,
            local_frame(spark, [(k, f"v{k}", t0) for k in range(200)], schema),
            ["pk"],
            "mtime",
        )
    )
    batch_path = str(tmp_path / "batch")
    local_frame(
        spark,
        [(k, f"w{k}", t0 + dt.timedelta(days=1)) for k in (3, 7, 500)],
        schema,
    ).write.parquet(batch_path)
    merged = scd.scd2_apply(
        table.read(), spark.read.parquet(batch_path), ["pk"], "mtime", full_extract=True
    )
    rows = merged.collect()
    assert len(rows) == 203
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert audit_plan(plan)["exchanges"] == 1, plan
    shuffled = broadcast = 0
    for node, sub in _subtrees(plan.split("== Initial Plan ==")[0]):
        # target scans: the batch has no SCD columns (scan locations are
        # abbreviated in plan strings, so they cannot name the table)
        scans = [i for i, ln in enumerate(sub) if "FileScan" in ln and "is_current" in ln]
        if "Exchange hashpartitioning" in node and "Reused" not in node:
            shuffled += 1
            assert scans, plan
            for i in scans:  # the semi join sits between exchange and scan
                assert any("LeftSemi" in ln for ln in sub[:i]), plan
        if "BroadcastExchange" in node:
            broadcast += 1
            assert not scans, plan
    assert shuffled == 1 and broadcast >= 1, plan
