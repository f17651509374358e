"""Per-layer metrics of a traced run (``--trace 1``).

The contract prints the same per-layer names for every workload, so a
layer the workload does not exercise reads 0. Times of single layers are
therefore printed as shares: a span's summed self time over the summed
wall of the traced roots (ops and the reads after them), and per query
its share of the round. The absolute seconds (``<span>.self_s`` per op,
``query.<name>.p50_s`` and so on) go to the detail line and the spans
file. Counts are per op and repeat exactly for a given seed.
"""

from __future__ import annotations

import statistics

from spans import SPAN_NAMES
from workloads import QUERY_MIX

#: spans whose call count per op is reported
COUNTED = [n for n in SPAN_NAMES if n.startswith("sources.tablestore.")] + [
    "sinks.audit.AuditLogger.log",
    "registry.load",
]
SPARK = [
    ("spark.jobs_per_op", "jobs", "count"),
    ("spark.job_wall_s_per_op", "job_wall_s", "s"),
    ("spark.driver_gap_s_per_op", "driver_gap_s", "s"),
    ("spark.executor_task_s_per_op", "executor_task_s", "s"),
    ("spark.shuffle_write_bytes_per_op", "shuffle_write_bytes", "B"),
    ("spark.input_bytes_per_op", "input_bytes", "B"),
]
STORE = [
    ("tablestore.bytes_written_per_op", "bytes_written", "B"),
    ("tablestore.files_written_per_op", "files_written", "count"),
    ("tablestore.commits_per_op", "commits", "count"),
]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in print order."""
    out = [("session.get_spark.self_s", "s")]
    out += [(f"{n}.self_share", "ratio") for n in SPAN_NAMES if n != "session.get_spark"]
    out += [("bench.op.self_share", "ratio"), ("bench.read.self_share", "ratio")]
    out += [(f"{n}.calls", "count") for n in COUNTED]
    out += [(m, u) for m, _, u in STORE]
    out += [("tablestore.write_amp", "ratio"), ("tablestore.live_files", "count")]
    out += [
        ("streaming.trigger_execution_share", "ratio"),
        ("streaming.add_batch_share", "ratio"),
        ("streaming.microbatches_per_op", "count"),
    ]
    out += [(m, u) for m, _, u in SPARK]
    for q in QUERY_MIX:
        out += [
            (f"query.{q}.jobs", "count"),
            (f"query.{q}.p50_share", "ratio"),
            (f"query.{q}.build_share", "ratio"),
            (f"query.{q}.task_share", "ratio"),
        ]
    out += [
        ("trace.op_p50_s", "s"),
        ("trace.untraced_op_p50_s", "s"),
        ("trace.overhead_s", "s"),
        ("failed_ops_frac", "ratio"),
    ]
    return out


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, ops, tracer, failed_frac):
    """(metrics, detail, ok): ``ok`` is False when some root's self times
    do not add up to its wall."""
    good = [r for r in ops if r["ok"]]
    traced = [r for r in good if r["traced"]]
    untraced = [r for r in good if not r["traced"]]
    roots = {f"op{r['i']}" for r in traced} | {
        f"read{r['i']}.{k}" for r in traced for k in range(wl.reads_per_op)
    }
    self_t = tracer.self_times()
    wall_by_root: dict[str, float] = {}
    self_by_root: dict[str, float] = {}
    self_sum: dict[str, float] = {}
    calls: dict[str, int] = {}
    setup_self = 0.0
    for s in tracer.spans:
        if s["root"] == "setup" and s["name"] == "session.get_spark":
            setup_self += self_t[s["id"]]
        if s["root"] not in roots:
            continue
        self_by_root[s["root"]] = self_by_root.get(s["root"], 0.0) + self_t[s["id"]]
        if s["parent"] is None:
            wall_by_root[s["root"]] = s["end"] - s["start"]
        self_sum[s["name"]] = self_sum.get(s["name"], 0.0) + self_t[s["id"]]
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    sum_err = max(
        (abs(self_by_root[r] - wall_by_root[r]) for r in wall_by_root), default=0.0
    )
    traced_wall = sum(wall_by_root.values())
    n_traced = max(1, len(traced))

    m: dict[str, tuple[float, str]] = {"session.get_spark.self_s": (setup_self, "s")}
    for n in SPAN_NAMES[1:] + ["bench.op", "bench.read"]:
        m[f"{n}.self_share"] = (self_sum.get(n, 0.0) / traced_wall, "ratio")
    for n in COUNTED:
        m[f"{n}.calls"] = (calls.get(n, 0) / n_traced, "count")
    for name, key, unit in STORE:
        m[name] = (_med(r[key] for r in good), unit)
    src = sum(r["src_bytes"] for r in good)
    m["tablestore.write_amp"] = (
        sum(r["bytes_written"] for r in good) / src if src else 0.0, "ratio"
    )
    m["tablestore.live_files"] = (good[-1]["live_files"] if good else 0, "count")

    progress = getattr(wl, "progress", {})
    batches = [b for r in good for b in progress.get(r["i"], [])]
    op_wall = sum(r["wall"] for r in good)
    m["streaming.trigger_execution_share"] = (
        sum(b.get("triggerExecution", 0) for b in batches) / 1000.0 / op_wall, "ratio"
    )
    m["streaming.add_batch_share"] = (
        sum(b.get("addBatch", 0) for b in batches) / 1000.0 / op_wall, "ratio"
    )
    m["streaming.microbatches_per_op"] = (len(batches) / max(1, len(good)), "count")
    for name, key, unit in SPARK:
        m[name] = (_med(r[key] for r in good), unit)

    detail = {
        "trace_roots": len(wall_by_root),
        "trace_self_sum_max_err_s": sum_err,
        "self_s_per_op": {n: v / n_traced for n, v in sorted(self_sum.items())},
        "streaming.trigger_execution_p50_s": _med(b.get("triggerExecution", 0) / 1000.0 for b in batches),
        "streaming.add_batch_p50_s": _med(b.get("addBatch", 0) / 1000.0 for b in batches),
        "queries": {},
    }
    build = getattr(wl, "build_s", {})
    by_q = {q: [r for r in good if r["kind"] == q] for q in QUERY_MIX}
    p50 = {q: _med(r["wall"] for r in rs) for q, rs in by_q.items()}
    round_sum = sum(p50.values())
    for q, rs in by_q.items():
        b = _med(build[r["i"]] for r in rs if r["i"] in build)
        task = _med(r["executor_task_s"] for r in rs)
        m[f"query.{q}.jobs"] = (_med(r["jobs"] for r in rs), "count")
        m[f"query.{q}.p50_share"] = (p50[q] / round_sum if round_sum else 0.0, "ratio")
        m[f"query.{q}.build_share"] = (b / p50[q] if p50[q] else 0.0, "ratio")
        m[f"query.{q}.task_share"] = (task / p50[q] if p50[q] else 0.0, "ratio")
        if rs:
            detail["queries"][q] = {"p50_s": p50[q], "build_s": b,
                                    "executor_task_s": task, "jobs": m[f"query.{q}.jobs"][0]}

    t50 = _med(r["wall"] for r in traced)
    u50 = _med(r["wall"] for r in untraced)
    m["trace.op_p50_s"] = (t50, "s")
    m["trace.untraced_op_p50_s"] = (u50, "s")
    m["trace.overhead_s"] = (t50 - u50, "s")
    m["failed_ops_frac"] = (failed_frac, "ratio")
    if [k for k, _ in names()] != list(m):
        raise RuntimeError("per-layer metric list out of sync with names()")
    return m, detail, sum_err < 1e-6
