"""The three workloads. Each drives the package only through its public
functions and checks its own outputs.

A workload has a set-up (initial load), ``warmup`` untimed ops, then
timed ops in rounds of ``round_len`` (the run loop keeps running whole
rounds until the measuring time is up). ``stage(i)`` makes op ``i``'s
input outside the timed region, ``op(i)`` is the timed op, ``read(i)``
is a read that follows it (``reads_per_op`` times, each timed on its
own), and ``check()`` runs once after the timed phase.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

import checks
import datagen
from data_ingestion_framework_spark import registry, streaming
from data_ingestion_framework_spark.config import PipelineConfig, WriteConfig
from data_ingestion_framework_spark.operators import dq
from data_ingestion_framework_spark.plans.pipeline import PipelineBuilder
from data_ingestion_framework_spark.sinks.writers import BUCKET_COL
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

KEY = "o_orderkey"
ORDER_COL = "file_modification_time"
ORDERS_STRUCT = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

#: the registry queries of query_mix, all with a DuckDB oracle: 10 light
#: ones bound by driver and job overhead, then docs_quality_lr_scores,
#: bound by materialization and lineage cuts. Left out to fit the
#: benchmark's time window (their first, warm-up runs cost the most):
#: the light cdc_find_delta and scd2_merge_state (~6 s together), the
#: heavy graph_pagerank_interactions (~4 s), dedup_ngram_jaccard and
#: similarity_knn_join_pq (~18 s together).
QUERY_MIX = [
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "latest_order_per_customer",
    "customer_order_running",
    "dq_violation_counts",
    "events_sessionize",
    "events_asof_purchase",
    "orders_zorder_keys",
    "volume_shipping",
    "docs_quality_lr_scores",
]


def _is_hidden(rel: str) -> bool:
    return any(seg.startswith(("_", ".")) for seg in rel.split(os.sep))


def _files(path: str) -> dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


class Workload:
    name = ""
    round_len = 1
    warmup = 0
    #: timed reads after each timed op
    reads_per_op = 1
    #: rows_per_s counts rows scanned by the op's jobs (True) or the
    #: source rows the op landed and committed (False)
    rows_are_scanned = False

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        #: source rows/bytes of the op just staged; bytes landed so far
        self.staged_rows = 0
        self.staged_bytes = 0
        self.source_bytes = 0
        #: untimed seconds inside set-up that the set-up metric excludes
        #: (input generation)
        self.excluded_s = 0.0
        self.problems: list[str] = []
        self.checked = 0

    def kind(self, i: int) -> str:
        return "op"

    def table_dirs(self) -> list[str]:
        """Table dirs counted by space_amp and the storage counters; the
        first is the table the reads go to."""
        return []

    def setup(self) -> None: ...

    def stage(self, i: int) -> None: ...

    def op(self, i: int) -> None: ...

    def warm(self, i: int) -> None:
        self.op(i)

    def read(self, i: int) -> None: ...

    def check(self) -> None: ...

    # -- storage accounting (between ops, outside the timed region) -------
    def space_amp(self) -> float:
        """Bytes under the table dirs over the source bytes landed."""
        on_disk = sum(sum(_files(d).values()) for d in self.table_dirs())
        return on_disk / self.source_bytes

    def store_snapshot(self) -> dict[str, dict[str, int]]:
        return {d: _files(d) for d in self.table_dirs()}

    def store_delta(self, before: dict[str, dict[str, int]]) -> dict:
        """Live data files and bytes the op wrote, the commit records it
        added, and the live data files of the read table after it. Live
        means outside ``_``/``.``-prefixed dirs (commit log, retained
        history, staging), which table scans skip."""
        written = nbytes = commits = 0
        live = 0
        for k, d in enumerate(self.table_dirs()):
            after = _files(d)
            old = before[d]
            for rel, size in after.items():
                if rel in old:
                    continue
                if rel.startswith("_commits" + os.sep) and rel.endswith(".json"):
                    commits += 1
                elif not _is_hidden(rel) and rel.endswith(".parquet"):
                    written += 1
                    nbytes += size
            if k == 0:
                live = sum(
                    1 for rel in after if not _is_hidden(rel) and rel.endswith(".parquet")
                )
        return {"files_written": written, "bytes_written": nbytes,
                "commits": commits, "live_files": live}

    def _read_pair(self, table: ParquetTable, key: int, current_only: bool) -> None:
        """One point read and one current-state aggregate on ``table``."""
        df = table.read()
        if current_only:
            df = df.where(F.col("is_current") == 1)
        rows = df.where(F.col(KEY) == key).collect()
        if not rows:
            raise RuntimeError(f"point read found no row for key {key}")
        df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("revenue")
        ).collect()


class _FeedWorkload(Workload):
    """Shared by the two write workloads: an ``OrdersFeed`` whose batch
    ``i`` is landed before op ``i``."""

    initial = 15_000
    batch_rows = 700
    #: a read (0.3-0.7 s) swings more from run to run than an op; three
    #: after each op give read_p50_s six samples in a two-op run
    reads_per_op = 3

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        f = scale / 0.01
        self.feed = datagen.OrdersFeed(
            seed, max(300, int(self.initial * f)), max(30, int(self.batch_rows * f))
        )
        self.staging = os.path.join(work, "staging")
        self.batches = 0  # batches committed, the initial load included
        self.last_key = 0

    def _stage_file(self, i: int) -> str:
        t = time.perf_counter()
        path, self.staged_bytes, batch = self.feed.land(i, self.staging)
        self.staged_rows = len(batch)
        self.source_bytes += self.staged_bytes
        self.last_key = int(batch[KEY].iloc[-1])
        self.excluded_s += time.perf_counter() - t
        return path


class IngestSCD2(_FeedWorkload):
    """Batch medallion ingest: bronze append, silver SCD2 merge into an
    unbucketed target (full-state swap), 3 DQ rules, audit rows."""

    name = "ingest_scd2"
    #: after the initial load, the first batch of a fresh JVM runs
    #: 1.5-1.7x slower than a steady one and the second 1.1-1.3x; timing
    #: starts at the third
    warmup = 2

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.bronze = os.path.join(work, "bronze")
        self.silver = os.path.join(work, "silver")
        self.audit = os.path.join(work, "audit")
        self.landing = os.path.join(work, "landing")

    def table_dirs(self):
        return [self.silver, self.bronze, self.audit]

    def _config(self, i: int) -> PipelineConfig:
        return PipelineConfig(
            table_name="orders",
            pkeys=[KEY],
            source_filepath=os.path.join(self.landing, f"batch-{i:05d}"),
            source_data_type="parquet",
            source_orderby_column=ORDER_COL,
            source_extraction_type="IE",
            run_dq_rules=True,
            dq_rules=datagen.DQ_RULES,
            audit_write=True,
            audit_table_path=self.audit,
            writes=[
                WriteConfig(table_medallion_layer="bronze", path=self.bronze, mode="append"),
                WriteConfig(
                    table_medallion_layer="silver", path=self.silver, mode="merge", scd_type=2
                ),
            ],
        )

    def stage(self, i):
        src = self._stage_file(i)
        dst = os.path.join(self.landing, f"batch-{i:05d}")
        os.makedirs(dst)
        os.rename(src, os.path.join(dst, os.path.basename(src)))

    def setup(self):
        self.stage(0)
        self.op(0)

    def op(self, i):
        PipelineBuilder(self.spark, self._config(i)).run_medallion()
        self.batches = i + 1

    def read(self, i):
        self._read_pair(ParquetTable(self.spark, self.silver), self.last_key, True)

    def check(self):
        df = ParquetTable(self.spark, self.silver).read().select(
            KEY, "is_current", *datagen.BUSINESS_COLS
        ).toPandas()
        self.checked += 1
        self.problems += checks.check_scd2(df, self.feed, self.batches)


class StreamUpsert(_FeedWorkload):
    """Auto Loader-style ingest: each op lands one file, then an
    ``availableNow`` file stream drains it through ``foreachBatch`` as an
    SCD1 upsert (DQ inside the micro-batch) into a key-hash-bucketed
    target, which takes the partition-scoped commit path."""

    name = "stream_upsert"
    #: after the initial load, the first file of a fresh JVM takes 1.3x
    #: a steady op or more and the second within 15% of one; timing
    #: starts at the third
    warmup = 2
    initial = 5_000
    batch_rows = 100
    num_buckets = 16

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.target = os.path.join(work, "target")
        self.landing = os.path.join(work, "landing")
        self.ckpt = os.path.join(work, "target_ckpt")
        #: op index -> durationMs of each micro-batch that had input
        self.progress: dict[int, list[dict]] = {}

    def table_dirs(self):
        return [self.target]

    def stage(self, i):
        self._staged = self._stage_file(i)

    def setup(self):
        os.makedirs(self.landing)
        t = ParquetTable(self.spark, self.target, [BUCKET_COL])
        t.set_properties({"num_buckets": self.num_buckets})
        self.stage(0)
        self.op(0)

    def op(self, i):
        os.rename(self._staged, os.path.join(self.landing, os.path.basename(self._staged)))
        stream = streaming.readers.read_file_stream(
            self.spark, self.landing, "parquet", schema=ORDERS_STRUCT
        )
        q = streaming.writers.foreach_batch_scd_merge(
            stream,
            ParquetTable(self.spark, self.target, [BUCKET_COL]),
            [KEY],
            ORDER_COL,
            self.ckpt,
            scd_type=1,
            transform=lambda d: dq.apply_rules(d, [dq.DQRule(**r) for r in datagen.DQ_RULES]),
        )
        self.progress[i] = [dict(p.durationMs) for p in q.recentProgress if p.numInputRows]
        self.batches = i + 1

    def read(self, i):
        self._read_pair(ParquetTable(self.spark, self.target, [BUCKET_COL]), self.last_key, False)

    def check(self):
        df = ParquetTable(self.spark, self.target, [BUCKET_COL]).read().select(
            KEY, *datagen.BUSINESS_COLS
        ).toPandas()
        self.checked += 1
        self.problems += checks.check_scd1(df, self.feed, self.batches)


class QueryMix(Workload):
    """Read-only analytics: the ``QUERY_MIX`` queries round-robin into
    the ``noop`` sink. The read after each op goes to a static table
    written once at set-up, so storage changes that only help growing
    tables show no change here."""

    name = "query_mix"
    round_len = len(QUERY_MIX)
    warmup = len(QUERY_MIX)
    rows_are_scanned = True

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.sf = os.path.join(work, "sf")
        self.static = os.path.join(work, "static_orders")
        self.build_s: dict[int, float] = {}
        #: query -> (columns, rows) collected by its warm-up op
        self.collected: dict[str, tuple[list[str], list[tuple]]] = {}

    def kind(self, i):
        return QUERY_MIX[i % len(QUERY_MIX)]

    def table_dirs(self):
        return [self.static]

    def setup(self):
        t = time.perf_counter()
        datagen.write_star_schema(self.sf, self.seed, self.scale)
        self.source_bytes = os.path.getsize(os.path.join(self.sf, "orders.parquet"))
        self.excluded_s += time.perf_counter() - t
        ParquetTable(self.spark, self.static).append(
            self.spark.read.parquet(os.path.join(self.sf, "orders.parquet"))
        )

    def warm(self, i):
        """Warm-up op: the query collected; its rows are checked against
        the DuckDB oracle in ``check``, after the timed phase."""
        name = self.kind(i)
        sdf = registry.QUERIES[name](self.spark, self.sf)
        self.collected[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])

    def op(self, i):
        t = time.perf_counter()
        df = registry.QUERIES[self.kind(i)](self.spark, self.sf)
        self.build_s[i] = time.perf_counter() - t
        df.write.format("noop").mode("overwrite").save()

    def read(self, i):
        self._read_pair(ParquetTable(self.spark, self.static), i % 1_000, False)

    def check(self):
        """Each query's warm-up rows against its DuckDB oracle over the
        same inputs, once per query per run."""
        duck = duckdb.connect()
        try:
            for name in registry.TABLES:
                duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM '{self.sf}/{name}.parquet'"
                )
            for name in QUERY_MIX:
                if name not in self.collected:
                    continue  # its warm-up op raised and is counted as failed
                scols, srows = self.collected[name]
                res = duck.execute(registry.ORACLES[name])
                problems = checks.compare_to_oracle(
                    scols, srows, [d[0] for d in res.description], res.fetchall()
                )
                self.checked += 1
                self.problems += [f"{name}: {p}" for p in problems]
        finally:
            duck.close()


WORKLOADS = {w.name: w for w in (IngestSCD2, StreamUpsert, QueryMix)}
