#!/usr/bin/env python
"""Physical-plan audit over the bench headline queries.

For every ``bench.HEADLINE`` query, builds the DataFrame at
``$SPARK_GRAFT_SF_DIR`` (default sf0.001 — plan SHAPE only, so the
smallest data suffices) and counts the plan features that decide
100 TB behavior:

- ``exchanges``      shuffle boundaries (fewer is better at fixed semantics)
- ``bhj`` / ``smj``  broadcast vs sort-merge joins the planner picked
- ``nested_loop``    BroadcastNestedLoopJoin / CartesianProduct — red flag
                     unless one side is a literal 1-row frame
- ``codegen``        whole-stage-codegen spans (wider is better). Under
                     AQE an UNEXECUTED plan string carries no codegen
                     markers at all, so the audit ``collect()``s each
                     frame first (tiny at sf0.001; a noop WRITE would
                     bypass AQE's final-stage re-planning) and counts
                     the final plan's distinct ``*(n)`` span ids; all other
                     counters then read the FINAL plan too (the plan
                     that actually ran, post AQE re-planning)
- ``py_row``         BatchEvalPython = row-at-a-time Python UDF — a hot-path
                     bug by this repo's rules (Arrow mapInPandas shows as
                     ``py_arrow`` and is allowed at media edges)
- ``py_rdd``         ``Scan ExistingRDD`` leaves whose RDD lineage starts in
                     Python — a ``createDataFrame(<python list>)`` frame,
                     whose every action runs Python-worker tasks (build
                     driver rows with ``session.local_frame``, a JVM
                     ``LocalRelation``). ``localCheckpoint`` scans print
                     the same node name but run no Python, so this
                     counter walks the JVM plan (``python_rdd_scans``)
                     instead of matching the plan string
- ``pushed``         scans with non-empty PushedFilters
- ``single_part_win`` windows forced to one partition (global orderBy
                     without partitionBy that did NOT collapse into a
                     TakeOrderedAndProject). The detector tolerates the
                     ``ShuffleQueryStage`` / ``AQEShuffleRead`` lines AQE
                     interposes between the Sort and its Exchange — the
                     round-12 regex required Window/Sort/Exchange on
                     consecutive lines, which NEVER matches a finalized
                     AQE plan, so it reported 0 while real
                     ``Exchange SinglePartition`` windows ran
                     (``tests/test_plan_audit.py`` pins the counter on a
                     known global-order window now)
- ``single_part_exchange`` every ``Exchange SinglePartition`` in the
                     final plan, window-feeding or not (the ``exchanges``
                     counter also includes them since round 13 — its
                     regex previously matched only hash/range spellings)

Prints one JSON line per query plus a totals line — diffable across
rounds, and the red-flag columns are pinned by
``tests/test_plan_audit.py``.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from data_ingestion_framework_spark import registry  # noqa: E402
from data_ingestion_framework_spark.session import get_spark  # noqa: E402

registry.load_all_queries()


#: plan-tree lines that legitimately sit BETWEEN a Window's Sort and
#: the Exchange that feeds it in a finalized AQE plan string (stage
#: wrappers, codegen markers, and column-pruning Projects)
_WINDOW_FEED_NODES = re.compile(
    r"(Sort |ShuffleQueryStage|AQEShuffleRead|InputAdapter"
    r"|WholeStageCodegen|WindowGroupLimit|Project)"
)


def _count_single_partition_windows(plan: str) -> int:
    """Count Window operators fed (possibly through AQE stage
    wrappers, Projects, or a ReusedExchange) by an
    ``Exchange SinglePartition`` — a global-order window that escaped
    TakeOrderedAndProject collapse, i.e. a stage where EVERY row
    funnels through one task. Matching on the bare ``SinglePartition``
    token also catches ``ReusedExchange [...SinglePartition...]``."""
    # split on newlines only: str.splitlines() also breaks on the \x1e
    # of the NULL sentinel that hash expressions print
    lines = plan.split("\n")
    n = 0
    for i, ln in enumerate(lines):
        # "Window" also prefixes WindowGroupLimit (the rank-pushdown
        # helper below the real Window of the same spec) — counting
        # both would double-count one logical window
        if "Window " not in ln or "WindowGroupLimit" in ln:
            continue
        for nxt in lines[i + 1 : i + 9]:
            if "SinglePartition" in nxt:
                n += 1
                break
            if not _WINDOW_FEED_NODES.search(nxt):
                break
    return n


def audit_plan(plan: str) -> dict:
    """Feature counts from an executedPlan/explain string. When the
    string carries a finalized AQE plan (``== Final Plan ==`` +
    ``== Initial Plan ==`` sections) only the final section is
    counted — the initial plan would double every counter."""
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": len(
            re.findall(
                r"Exchange (hashpartitioning|rangepartitioning|"
                r"SinglePartition|RoundRobinPartitioning)",
                plan,
            )
        ),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        # finalized AQE strings mark codegen spans as `*(n)` node
        # prefixes; legacy/non-AQE strings as `WholeStageCodegen (n)`
        "codegen": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "py_row": plan.count("BatchEvalPython"),
        "py_arrow": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "pushed": len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        ),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "single_part_win": _count_single_partition_windows(plan),
        "single_part_exchange": plan.count("Exchange SinglePartition"),
    }


def python_rdd_scans(jplan) -> int:
    """Count the ``Scan ExistingRDD`` leaves of a JVM physical plan
    (AQE wrappers, query stages and subqueries included) whose RDD
    lineage holds a ``PythonRDD``. Reading an RDD's debug string plans
    nothing and runs no job."""
    n, stack = 0, [jplan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if p.nodeName() == "Scan ExistingRDD" and (
            "PythonRDD" in p.rdd().toDebugString()
        ):
            n += 1
        for seq in (p.children(), p.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return n


def audit_query(spark, name: str, sf_dir: str, execute: bool = False) -> dict:
    """``execute=True`` collect()s the frame first so AQE finalizes —
    the counters then describe the plan that actually ran (and codegen
    spans become visible). It must be collect(), not a noop write: a
    write plans a SEPARATE command execution and leaves this frame's
    own QueryExecution at isFinalPlan=false. Audit runs at sf0.001, so
    the driver-side result is tiny. ``execute=False`` audits the
    pre-execution plan: free, and sufficient for the red-flag counters
    (py_row / py_rdd / nested_loop / pushed), which the pytest gate
    uses."""
    df = registry.QUERIES[name](spark, sf_dir)
    if execute:
        df.collect()
    jplan = df._jdf.queryExecution().executedPlan()
    return {
        "query": name,
        **audit_plan(jplan.toString()),
        "py_rdd": python_rdd_scans(jplan),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-audit")
    rows = []
    for name in HEADLINE:
        try:
            rows.append(audit_query(spark, name, sf_dir, execute=True))
        except Exception as exc:  # surface, keep auditing the rest
            rows.append({"query": name, "error": str(exc)[:200]})
    for r in rows:
        print(json.dumps(r))
    ok = [r for r in rows if "error" not in r]
    totals = {
        k: sum(r[k] for r in ok)
        for k in ok[0]
        if k != "query"
    } if ok else {}
    print(json.dumps({"query": "__totals__", "n": len(ok), **totals}))


if __name__ == "__main__":
    main()
