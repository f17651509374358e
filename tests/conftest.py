from __future__ import annotations

import pytest

from data_ingestion_framework_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture()
def launched_jobs(spark):
    """``with launched_jobs() as ids:`` — after the block, ``ids`` holds
    the Spark job ids the block's actions launched. The block runs under
    its own job group; a fence job run afterwards is awaited in the
    status tracker, so every job-start event of the block (the listener
    bus delivers them in order) has been counted before ``ids`` is
    filled."""
    import contextlib
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    @contextlib.contextmanager
    def probe():
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = {k: sc.getLocalProperty(k) for k in keys}
        group = f"launched-jobs-{uuid.uuid4().hex[:8]}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setJobGroup(group + "-fence", group)
            spark.range(1).collect()
            deadline = time.time() + 30
            while (
                not tracker.getJobIdsForGroup(group + "-fence")
                and time.time() < deadline
            ):
                time.sleep(0.05)
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            ids.extend(tracker.getJobIdsForGroup(group))

    return probe


@pytest.fixture()
def fail_rename(monkeypatch):
    """``fail_rename(match, nth=1)`` — from then on, the ``nth`` call of
    ``os.rename(src, dst)`` for which ``match(src, dst)`` holds raises
    ``OSError``; every other rename runs, the rollback's included.
    ``monkeypatch.undo()`` (or the test's end) restores ``os.rename``."""
    import os

    def arm(match, nth=1):
        real = os.rename
        seen = [0]

        def rename(src, dst):
            if match(src, dst):
                seen[0] += 1
                if seen[0] == nth:
                    raise OSError(
                        "simulated swap failure (a simulated crash of a "
                        "file or partition-swap rename)"
                    )
            return real(src, dst)

        monkeypatch.setattr(os, "rename", rename)

    return arm
