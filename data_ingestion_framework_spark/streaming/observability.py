"""Streaming observability: engine progress events captured into a
table.

The reference's pipelines log per-batch merge metrics to an audit table
(``sinks/audit.py`` carries that surface); this module adds the
STREAMING-ENGINE side — a ``StreamingQueryListener`` that records every
micro-batch's progress event (rows, durations, state metrics) so ops
queries can join engine telemetry against the audit log.

Listener callbacks run on a driver-side listener thread where starting
Spark jobs is legal but easy to deadlock under shutdown — so events
buffer in memory and ``flush()`` (called by YOUR code after
``awaitTermination``) writes them through the table store's commit log.
Nothing is lost on crash that the checkpoint wouldn't replay anyway:
the ledger is telemetry, not the source of truth.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener

from data_ingestion_framework_spark.session import local_frame


def _path_token_in(description: str, path: str) -> bool:
    """True when ``path`` appears in ``description`` as a COMPLETE path
    token — i.e. not extendable to a longer path on EITHER side. Plain
    substring containment would attribute a sibling table whose path
    has the watched path as a prefix (``/data/t`` inside
    ``difs [/data/t2]``) OR as a suffix (``/data/t`` inside
    ``difs [/backup/data/t]``) to the watched table, re-creating the
    masquerade the attribution logic exists to prevent."""
    i = description.find(path)
    while i != -1:
        j = i + len(path)
        right_clean = j == len(description) or not (
            description[j].isalnum() or description[j] in "_-./"
        )
        # a preceding path character means the cited path extends the
        # watched one LEFTWARDS (…/backup/data/t vs /data/t). '/' is
        # blocked for ABSOLUTE watched paths too: '/backup//data/t'
        # (a doubled slash from concatenated path config, which the OS
        # normalizes to /backup/data/t) is still a sibling masquerade,
        # and attribution prefers a false negative (NULL backlog) over
        # crediting the wrong table
        left_clean = i == 0 or not (
            description[i - 1].isalnum() or description[i - 1] in "_-./"
        )
        # a URI scheme's empty-authority doubled slash ('file:///data/t',
        # 'hdfs:///data/t') puts a '/' immediately left of an ABSOLUTE
        # watched path without naming a DIFFERENT parent — that '/' is
        # a clean boundary, not a sibling masquerade. The exception is
        # deliberately this narrow: it requires BOTH the '://' prefix
        # and a '/'-leading watched path, because with a relative path
        # ('data/t' in 's3a://data/t') or a single-slash scheme form
        # ('file://data/t' with '/data/t' watched) the name after the
        # scheme is the URI AUTHORITY (bucket/host), a genuinely
        # different parent. 's3a://bucket//data/t' stays blocked too
        # (the documented false-negative tradeoff). A single-slash
        # 'file:/data/t' with an absolute watched path needs no
        # exception — ':' is already a clean left boundary.
        if (
            not left_clean
            and path.startswith("/")
            and description[:i].endswith("://")
        ):
            left_clean = True
        if right_clean and left_clean:
            return True
        i = description.find(path, i + 1)
    return False


PROGRESS_SCHEMA = (
    "query_id string, run_id string, batch_id bigint, ts string, "
    "num_input_rows bigint, batch_duration_ms bigint, "
    "state_rows_total bigint, sources string, backlog_commits bigint"
)


class ProgressLogger(StreamingQueryListener):
    """Buffer every ``onQueryProgress`` event; ``flush()`` appends the
    buffered rows to ``table`` (a :class:`ParquetTable`) and clears.

    ``difs_backlog_path`` watches a rate-limited ``difs`` stream
    source (``maxCommitsPerTrigger``): each progress row then records
    ``backlog_commits`` — the table's true commit head minus the
    highest ``{"seq": N}`` end-offset the batch consumed — so an ops
    query can see HOW FAR BEHIND a draining stream is, not just that
    batches are flowing. The head comes from the commit log's
    filename listing (pure ``os.listdir`` — legal on the listener
    thread; the engine's source description carries no path, which is
    why the watched table is named explicitly). NULL when unwatched,
    when no source exposes a seq offset, or when SEVERAL sources do
    and none can be attributed to the watched path (a multi-difs join
    — another table's seq must not masquerade as this one's)."""

    def __init__(self, spark, table, difs_backlog_path: str | None = None):
        self.spark = spark
        self.table = table
        self.difs_backlog_path = difs_backlog_path
        self.rows: list[tuple] = []

    # -- listener callbacks (buffer only — never start jobs here) ----------
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state_rows = 0
        for op in p.stateOperators or []:
            state_rows += op.numRowsTotal or 0
        backlog = None
        if self.difs_backlog_path is not None:
            # attribute the seq offset to the WATCHED table: prefer a
            # source whose description carries the path; with exactly
            # one seq-bearing source that one must be it; with several
            # and no path match the offset is unattributable — record
            # NULL rather than another table's (possibly higher) seq,
            # which would under-report the watched backlog (ADVICE
            # r11). Multi-difs joins should watch one logger per path.
            seq_offsets = []
            for s in p.sources or []:
                try:
                    off = json.loads(s.endOffset or "null")
                except (TypeError, ValueError):
                    continue
                if isinstance(off, dict) and isinstance(
                    off.get("seq"), int
                ):
                    seq_offsets.append((s.description or "", off["seq"]))
            matched = [
                q
                for d, q in seq_offsets
                if _path_token_in(d, self.difs_backlog_path)
            ]
            if matched:
                consumed = max(matched)
            elif len(seq_offsets) == 1:
                consumed = seq_offsets[0][1]
            else:
                consumed = None
            if consumed is not None:
                from data_ingestion_framework_spark.sources.pyds import (
                    _records,
                )

                names = _records(self.difs_backlog_path)
                head = int(names[-1][:8]) if names else 0
                backlog = max(0, head - consumed)
        self.rows.append(
            (
                str(p.id),
                str(p.runId),
                int(p.batchId),
                p.timestamp,
                int(p.numInputRows or 0),
                int((p.batchDuration or 0)),
                int(state_rows),
                json.dumps(
                    [
                        {
                            "description": s.description,
                            "numInputRows": s.numInputRows,
                        }
                        for s in (p.sources or [])
                    ],
                    sort_keys=True,
                ),
                backlog,
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    # -- explicit flush ------------------------------------------------------
    def flush(self) -> int:
        """Append buffered progress rows to the table; returns how many
        landed. Call after ``awaitTermination`` — not from a callback.
        ``merge_schema=True`` so a ledger created before a telemetry
        column existed (e.g. pre-``backlog_commits``) keeps accepting
        flushes — old rows read the new column back as NULL — instead
        of crashing on schema enforcement and dropping the buffer."""
        if not self.rows:
            return 0
        batch = local_frame(self.spark, self.rows, PROGRESS_SCHEMA)
        n = len(self.rows)
        self.table.append(
            batch, metrics={"progress_events": n}, merge_schema=True
        )
        self.rows = []
        return n
