"""Spark-side counters and process bookkeeping.

Job and stage counters are read once, after the timed phase, from the
application status store (no listener, no sampling), and attributed to
ops by time: every job whose submission falls inside an op's wall-clock
interval belongs to that op. The benchmark runs one op at a time in one
process, so the attribution is exact; it also covers jobs that Spark's
stream execution thread starts under its own job group.
"""

from __future__ import annotations

import os
import resource
import signal
import subprocess
import time


def jobs_since(spark, after_ms: int) -> list[dict]:
    """Every finished job submitted at or after ``after_ms`` (epoch ms)
    with its interval and the summed counters of its stages."""
    sc = spark.sparkContext
    jvm = sc._jvm
    st = sc._jsc.sc().statusStore()
    stages: dict[int, tuple] = {}
    it = st.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        stages[s.stageId()] = (
            s.executorRunTime(), s.shuffleWriteBytes(), s.inputBytes(), s.inputRecords()
        )
    out = []
    seen: set[int] = set()
    jit = st.jobsList(None).iterator()
    while jit.hasNext():
        j = jit.next()
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined() or not done.isDefined():
            continue
        t0 = sub.get().getTime()
        if t0 < after_ms:
            continue
        run_ms = shuffle = in_bytes = in_rows = 0
        sit = j.stageIds().iterator()
        while sit.hasNext():
            sid = sit.next()
            if sid in seen or sid not in stages:
                continue  # a stage reused by a later job counts once
            seen.add(sid)
            r, w, b, n = stages[sid]
            run_ms, shuffle, in_bytes, in_rows = (
                run_ms + r, shuffle + w, in_bytes + b, in_rows + n
            )
        out.append(
            {
                "start": t0 / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "task_s": run_ms / 1000.0,
                "shuffle_write_bytes": shuffle,
                "input_bytes": in_bytes,
                "input_rows": in_rows,
            }
        )
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals; empty ones count 0."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_op(ops: list[dict], jobs: list[dict]) -> list[dict]:
    """Spark counters of each op (``ops`` carry epoch ``t0``/``t1``).
    Job times have millisecond resolution, hence the 1 ms slack."""
    out = []
    for op in ops:
        lo, hi = op["t0"] - 0.001, op["t1"] + 0.001
        mine = [j for j in jobs if lo <= j["start"] <= hi]
        ivs = [(max(j["start"], op["t0"]), min(j["end"], op["t1"])) for j in mine]
        job_wall = union_length(ivs)
        out.append(
            {
                "jobs": len(mine),
                "job_wall_s": job_wall,
                "driver_gap_s": max(0.0, (op["t1"] - op["t0"]) - job_wall),
                "executor_task_s": sum(j["task_s"] for j in mine),
                "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in mine),
                "input_bytes": sum(j["input_bytes"] for j in mine),
                "input_rows": sum(j["input_rows"] for j in mine),
            }
        )
    return out


def host_cpu() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user and nice
    return ticks[7], sum(ticks[:8])


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Kernel-recorded peaks only: this process's ``ru_maxrss`` plus the
    JVM's ``VmHWM``."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    workers = _descendants(pid)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    for p in [pid, *workers]:
        _wait_gone(p, timeout)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _wait_gone(pid: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while _alive(pid):
        if time.time() > deadline:
            os.kill(pid, signal.SIGKILL)
            deadline = time.time() + timeout
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
