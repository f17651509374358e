"""Benchmark entry point.

    python3 perfbench/run.py --driver-memory 1g --workload ingest_scd2 --seed 1 --seconds 5 --trace 0

Run from the repository root. Makes the workload's inputs from
``--seed`` in a fresh work dir under ``.perfbench_work/``, starts Spark
as ``local[<cores>]`` in this process, sets up, runs untimed warm-up
ops, times ops for ``--seconds`` (whole rounds), checks the outputs,
stops Spark and its workers, deletes the work dir, and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it carries details: warm-up op count, the percentile used
for the tail, and with tracing the absolute per-layer times.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every run times at least this many ops, however slow the host, and
#: space_amp is taken after the last of them: a full-state swap retains
#: the replaced snapshot, so bytes on disk grow faster than bytes landed,
#: and a fixed op count keeps the ratio independent of host speed
MIN_TIMED_OPS = 2
#: where a traced run writes its spans (relative to the repository root)
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")
#: warm-up ops followed by a (warm-up) read: the first read of a run is
#: 2x slower than later ones, the second within 10% of them
WARM_READS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="perfbench: one benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="input scale factor (0.01: 15k orders, 60k line items)")
    ap.add_argument("--driver-memory", required=True,
                    help="Spark driver heap ceiling, pinned so peak RSS repeats")
    ap.add_argument("--max-ops", type=int, default=0,
                    help="end the timed phase after this many ops (0: no cap)")
    return ap.parse_args(argv)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, float]:
    """(p, value) for the highest whole percentile p with at least 10
    samples above it. Below 20 samples that percentile would not exceed
    the median, so the tail is then the maximum (p = 100)."""
    n = len(xs)
    if n < 20:
        return 100.0, max(xs)
    p = math.floor(100.0 * (n - 10) / n)
    return float(p), percentile(xs, p)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    # the Spark JVM's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        import workloads
        from data_ingestion_framework_spark import registry, session
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    import sparkstats
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    registry.load_all_queries()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    # every JVM the run starts (the spark-submit launcher too) keeps its
    # temp files in the work dir and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    tracer = Tracer()
    if args.trace:
        tracer.install()
        tracer.active = True
    spark = wl = None
    try:
        with tracer.root("setup", "setup"):
            spark = session.get_spark(
                "perfbench",
                master=f"local[{len(os.sched_getaffinity(0))}]",
                extra_conf={
                    "spark.driver.memory": args.driver_memory,
                    # a heap committed and touched at start makes the
                    # JVM's resident peak repeat from run to run
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{args.driver_memory} -XX:+AlwaysPreTouch"
                    ),
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    # no web UI (the status store the counters come
                    # from is kept without it)
                    "spark.ui.enabled": "false",
                    # the status store must keep every job of the run
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.scale)
            wl.setup()
        res = run_timed(spark, wl, tracer, args, sparkstats)
        peak = sparkstats.peak_rss_mb(sparkstats.jvm_pid(spark))
    finally:
        tracer.active = False
        try:
            if spark is not None:
                sparkstats.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    detail = res["detail"]
    correct = res["failed"] == 0 and wl.checked > 0
    if args.trace:
        metrics, trace_detail, trace_ok = layers.per_layer(
            wl, res["ops"], tracer, res["failed"] / res["attempted"]
        )
        detail.update(trace_detail)
        correct = correct and trace_ok
        os.makedirs(SPANS_DIR, exist_ok=True)
        spans_file = os.path.join(SPANS_DIR, f"{wl.name}-seed{args.seed}.json")
        tracer.dump(spans_file)
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
    else:
        metrics = dict(res["end_to_end"], peak_rss_mb=(peak, "MB"))
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def run_timed(spark, wl, tracer, args, sparkstats) -> dict:
    """Warm-up, the timed phase and the output checks of one run."""
    failed = attempted = 0

    def attempt(fn, i) -> bool:
        nonlocal failed, attempted
        attempted += 1
        try:
            fn(i)
            return True
        except Exception:  # counted as a failed op; the run goes on
            failed += 1
            print(traceback.format_exc(limit=4), file=sys.stderr)
            return False

    tracer.active = False
    warm_walls = []
    for i in range(1, wl.warmup + 1):
        wl.stage(i)
        t0 = time.perf_counter()
        ok = attempt(wl.warm, i)
        warm_walls.append(time.perf_counter() - t0)
        if ok and i <= WARM_READS:
            wl.read(i)
    setup_s = time.time() - T_PROCESS - wl.excluded_s

    ops: list[dict] = []
    reads: list[float] = []
    space = None
    first = wl.warmup + 1
    t_begin_ms = int(time.time() * 1000) - 1
    t_timed = time.perf_counter()
    cpu0 = sparkstats.host_cpu()
    # a traced run times at least one traced and one untraced round
    min_ops = max(MIN_TIMED_OPS, (2 if args.trace else 1) * wl.round_len)
    while True:
        n = len(ops)
        if n % wl.round_len == 0 and n >= min_ops and (
            time.perf_counter() - t_timed >= args.seconds
        ):
            break
        if args.max_ops and n >= args.max_ops:
            break
        i = first + n
        # trace mode alternates traced and untraced rounds: the difference
        # of their medians is the tracing overhead
        traced = bool(args.trace) and (n // wl.round_len) % 2 == 0
        wl.stage(i)
        before = wl.store_snapshot() if args.trace else None
        tracer.active = traced
        t0, p0 = time.time(), time.perf_counter()
        with tracer.root("op", f"op{i}"):
            ok = attempt(wl.op, i)
        wall = time.perf_counter() - p0
        tracer.active = False
        # epoch t0/t1 attribute Spark jobs to the op; wall is monotonic
        rec = {"i": i, "kind": wl.kind(i), "t0": t0, "t1": t0 + wall, "wall": wall,
               "ok": ok, "traced": traced, "rows": wl.staged_rows,
               "src_bytes": wl.staged_bytes}
        if before is not None:
            rec.update(wl.store_delta(before))
        ops.append(rec)
        for k in range(wl.reads_per_op if ok else 0):
            tracer.active = traced
            r0 = time.perf_counter()
            with tracer.root("read", f"read{i}.{k}"):
                ok_read = attempt(wl.read, i)
            tracer.active = False
            if ok_read:
                reads.append(time.perf_counter() - r0)
        if space is None and len(ops) >= MIN_TIMED_OPS:
            space = wl.space_amp()

    cpu1 = sparkstats.host_cpu()
    jobs = sparkstats.jobs_since(spark, t_begin_ms)
    for rec, stats in zip(ops, sparkstats.per_op(ops, jobs)):
        rec.update(stats)
    if space is None:
        space = wl.space_amp()
    wl.check()
    failed += len(wl.problems)
    for p in wl.problems:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)

    good = [r for r in ops if r["ok"]]
    walls = [r["wall"] for r in good]
    tail_pct, tail_s = tail(walls)
    kinds: dict[str, list[float]] = {}
    for r in good:
        kinds.setdefault(r["kind"], []).append(r["wall"])
    # rows the ops processed: landed source rows for the write workloads,
    # rows scanned by the queries' jobs for query_mix
    rows = sum(r["input_rows"] if wl.rows_are_scanned else r["rows"] for r in good)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail_s, "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in kinds.values()]), "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "rows_per_s": (rows / sum(walls), "1/s"),
        "space_amp": (space, "ratio"),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": args.scale,
        "warmup_ops": wl.warmup,
        "warmup_walls_s": warm_walls,
        "timed_ops": len(ops),
        "op_walls_s": [r["wall"] for r in ops],
        "op_tail_percentile": tail_pct,
        "op_tail_samples": len(walls),
        "read_walls_s": reads,
        "checks_run": wl.checked,
        "check_problems": wl.problems,
        "excluded_from_setup_s": wl.excluded_s,
        "failed_ops_frac": failed / attempted,
        # CPU time the hypervisor gave to other guests during the timed
        # phase, as a share of all CPU time: a busy host shows here
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
    }
    return {"ops": ops, "end_to_end": end_to_end, "detail": detail,
            "attempted": attempted, "failed": failed}


if __name__ == "__main__":
    sys.exit(main())
